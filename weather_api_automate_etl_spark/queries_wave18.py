"""Round-8 eighteenth-wave queries: leakage-safe
feature engineering, audio feature extraction, partition-spec evolution,
readability gating, and navigation path mining.

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.queries import query, scratch, t


# ---------------------------------------------------------------------------
# out-of-fold target encoding
# ---------------------------------------------------------------------------


@query(
    "q_target_encode",
    oracle="""
    WITH folded AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(o_totalprice AS DOUBLE) AS y,
             CAST(CAST(concat('0x',
                    substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                  AS UBIGINT) % 5 AS INTEGER) AS fold
      FROM orders
    ),
    grid AS (
      SELECT o_orderpriority, fold, SUM(y) AS s, COUNT(*) AS n
      FROM folded GROUP BY o_orderpriority, fold
    ),
    tot AS (
      SELECT o_orderpriority, SUM(s) AS st, SUM(n) AS nt
      FROM grid GROUP BY o_orderpriority
    ),
    oof AS (
      SELECT o_orderpriority, fold,
             (st - s) / NULLIF(nt - n, 0) AS te
      FROM grid JOIN tot USING (o_orderpriority)
    )
    SELECT o_orderkey, o_orderpriority, fold, ROUND(te, 4) AS te
    FROM folded JOIN oof USING (o_orderpriority, fold)
    """,
    tags=("mlprep", "sampling"),
)
def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe target encoding of order priority by order value
    (operators/sampling.py::target_encode_oof, k=5): each row's encoded
    value is the mean price over the OTHER folds' rows of its category —
    te = (S_cat − S_cat,fold)/(n_cat − n_cat,fold) — so a row's own
    label never reaches its feature. Folds are content-hash, the same
    md5 arithmetic the oracle replays. te rounds to 4: the category
    sums are ~1e9-magnitude doubles whose engine summation orders
    differ in the last ulps, and 1e-4 on a ~1.5e5 mean sits safely
    above that noise."""
    from weather_api_automate_etl_spark.operators import sampling

    te = sampling.target_encode_oof(
        t(spark, sf_dir, "orders"),
        "o_orderkey", "o_orderpriority", "o_totalprice", k=5,
    )
    return te.select(
        "o_orderkey", "o_orderpriority", "fold",
        F.round("te", 4).alias("te"),
    )


# ---------------------------------------------------------------------------
# audio frame features over real decoded PCM
# ---------------------------------------------------------------------------

_AUDIO_ORACLE = """
    WITH g AS (
      SELECT doc_id, 1 + doc_id % 2 AS nch, doc_id % 50 + 10 AS nfr
      FROM documents
    ),
    fr AS (
      SELECT doc_id, nch, CAST(t.f AS BIGINT) AS f,
             CASE WHEN nch = 1
                  THEN CAST((doc_id * 31 + f * 7) % 65536 - 32768 AS DOUBLE)
                  ELSE (CAST((doc_id * 31 + (2 * f) * 7) % 65536 - 32768
                             AS DOUBLE)
                        + CAST((doc_id * 31 + (2 * f + 1) * 7) % 65536 - 32768
                               AS DOUBLE)) / 2.0
             END AS mono
      FROM g, UNNEST(range(0, nfr)) AS t(f)
    ),
    lagged AS (
      SELECT doc_id, CAST(f // 8 AS INTEGER) AS win_id, mono,
             lag(mono) OVER (PARTITION BY doc_id, f // 8 ORDER BY f) AS prev
      FROM fr
    )
    SELECT doc_id AS asset_id, win_id,
           CAST(COUNT(*) AS INTEGER) AS n_samp,
           ROUND(sqrt(AVG(mono * mono)), 6) AS rms,
           CAST(SUM(CASE WHEN mono * prev < 0 THEN 1 ELSE 0 END)
                AS INTEGER) AS zcr
    FROM lagged GROUP BY doc_id, win_id
"""


@query("q_audio_features", oracle=_AUDIO_ORACLE, tags=("multimodal",))
def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction end-to-end: REAL RIFF/PCM-16 payloads
    (documents_as_wav_assets) decoded by the pure-stdlib codec, mixed to
    mono, windowed into 8-frame blocks, per window RMS energy +
    strict-sign zero-crossing count (sources/multimodal.py::
    audio_frame_features) — the VAD/silence-gate primitives of an audio
    corpus pipeline. Every stat is an exact-arithmetic function of the
    generation formula, which is the oracle."""
    from weather_api_automate_etl_spark.sources import multimodal

    assets = multimodal.documents_as_wav_assets(t(spark, sf_dir, "documents"))
    return multimodal.audio_frame_features(assets, win=8)


# ---------------------------------------------------------------------------
# partition-spec evolution (atomic repartition rewrite)
# ---------------------------------------------------------------------------


@query(
    "q_ledger_repartition",
    oracle="""
    SELECT CAST(o_custkey % 8 AS VARCHAR) AS pt,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue,
           CAST(2 AS INTEGER) AS version,
           'REPARTITION' AS op
    FROM orders GROUP BY 1
    """,
    tags=("ledger", "storage"),
)
def q_ledger_repartition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution (sources/ledger.py::ledger_repartition):
    a mart written at year grain is atomically rewritten to customer-hash
    grain — the migration every mart needs when the dominant predicate
    changes. The hashed result reads back through the NEW layout and
    carries the committed version and manifest operation (physical-layer
    pins), while the per-partition counts/sums prove the rewrite moved
    every row and invented none. test_wave18 additionally pins that
    planning now prunes on the new column and time travel still serves
    the old layout."""
    from weather_api_automate_etl_spark.sources import ledger

    od = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice",
        F.year("o_orderdate").cast("string").alias("p_year"),
        (F.col("o_custkey") % 8).cast("string").alias("pt"),
    )
    with scratch("q_ledger_repartition") as base:
        ledger.ledger_write(
            spark, od, base, "p_year", stats_cols=["o_totalprice"]
        )
        v = ledger.ledger_repartition(spark, base, "pt")
        op = {
            r["version"]: r["op"]
            for r in ledger.ledger_history(spark, base).collect()
        }[v]
        result = (
            ledger.ledger_read(spark, base)
            .groupBy("pt")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            )
            .select(
                "pt", "n_orders", "revenue",
                F.lit(v).cast("int").alias("version"),
                F.lit(op).alias("op"),
            )
            .localCheckpoint(eager=True)
        )
    return result


# ---------------------------------------------------------------------------
# Flesch readability
# ---------------------------------------------------------------------------

_TOKENS_SQL = "regexp_split_to_array(lower(trim(text)), '\\s+')"

_READABILITY_ORACLE = f"""
    WITH base AS (
      SELECT doc_id,
             list_filter({_TOKENS_SQL}, t -> t != '') AS tk,
             greatest(len(list_filter(
               regexp_split_to_array(text, '[.!?]+'),
               s -> trim(s) != '')), 1) AS ns
      FROM documents
    ),
    syl AS (
      SELECT doc_id, tk, ns,
             COALESCE(list_sum(list_transform(
               tk, t -> len(regexp_extract_all(t, '[aeiouy]+')))), 0) AS sy
      FROM base
    )
    SELECT doc_id,
           CAST(len(tk) AS BIGINT) AS n_words,
           CAST(ns AS BIGINT) AS n_sents,
           CAST(sy AS BIGINT) AS n_syllables,
           ROUND(CASE WHEN len(tk) > 0 THEN
             206.835 - 1.015 * (len(tk) / CAST(ns AS DOUBLE))
                     - 84.6 * (sy / CAST(len(tk) AS DOUBLE)) END, 4) AS flesch
    FROM syl
"""


@query("q_readability", oracle=_READABILITY_ORACLE, tags=("text", "quality"))
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease per document (operators/textops.py::
    readability_scores): vowel-group syllables, [.!?]-run sentences
    floored at 1 — the classic complexity screen beside the length/
    stopword quality gates. Pure codegen regex + one array fold; the
    regex subset has identical Java-regex/RE2 semantics."""
    from weather_api_automate_etl_spark.operators import textops

    return textops.readability_scores(t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# navigation path mining
# ---------------------------------------------------------------------------


@query(
    "q_path_ngrams",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS s2,
             lead(event_type, 2) OVER w AS s3
      FROM events
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id)
    ),
    g AS (
      SELECT concat(event_type, ' > ', s2, ' > ', s3) AS path
      FROM seq WHERE s3 IS NOT NULL
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM g GROUP BY path
    ORDER BY n_occurrences DESC, path ASC
    LIMIT 20
    """,
    tags=("windows", "stats"),
)
def q_path_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 navigation trigrams across each user's time-ordered event
    sequence (operators/windows.py::path_ngrams, n=3) — the funnel-shape
    miner pairwise transitions can't see. One per-user window shuffle
    (two stacked leads), one count, deterministic lexicographic
    tie-break, TakeOrdered top-k."""
    from weather_api_automate_etl_spark.operators import windows

    return windows.path_ngrams(
        t(spark, sf_dir, "events"), "user_id", ["ts", "event_id"],
        "event_type", n=3, top_k=20,
    )
