"""Sampling queries: stratified, mixture and weighted samples, k-fold
assignment, caliper matching and reshard stability.

Registry and oracle conventions: queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.operators import sampling
from weather_api_automate_etl_spark.queries import query, t


_SAMPLE_RATES = {"en": 0.25, "de": 0.5, "es": 0.5, "fr": 1.0, "zh": 0.1}


@query(
    "q_stratified_sample",
    oracle="""
    SELECT doc_id, lang, source, n_chars FROM documents
    WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
          / 4294967296.0e0
          < CASE lang WHEN 'en' THEN 0.25e0 WHEN 'de' THEN 0.5e0
                      WHEN 'es' THEN 0.5e0 WHEN 'fr' THEN 1.0e0
                      WHEN 'zh' THEN 0.1e0 END
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic downsample (content-hash threshold).

    Replayable across reruns/partitionings — the keep set is a pure function
    of doc_id, unlike seed-based df.sample(). Pure filter, zero shuffle."""
    docs = t(spark, sf_dir, "documents")
    return sampling.stratified_sample(docs, "lang", _SAMPLE_RATES, "doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


@query(
    "q_mixture_sample",
    oracle="""
    WITH counts AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    tot AS (SELECT SUM(n) AS t FROM counts),
    rates AS (
      SELECT source,
             least(1.0e0,
                   (CAST(substr(source, 4, 10) AS INTEGER) + 1) / 210.0e0
                   * (SELECT t FROM tot) / n) AS rate
      FROM counts
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d JOIN rates USING (source)
    WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
          / 4294967296.0e0 < rate
    """,
)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance the corpus toward a target source mixture
    (operators/sampling.py::rebalance_to_mixture): target share of srcK ∝
    K+1, so low-numbered sources downsample hard and high-numbered ones
    keep everything. Keep decisions are content-hash thresholds —
    replayable, engine-portable — and the rate table is a broadcast join
    of a strata-cardinality aggregate."""

    docs = t(spark, sf_dir, "documents")
    shares = {f"src{k}": (k + 1) / 210.0 for k in range(20)}
    return sampling.rebalance_to_mixture(docs, "source", shares, "doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


@query(
    "q_weighted_sample",
    oracle="""
    SELECT doc_id, lang, n_chars FROM (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                                 AS UBIGINT) + 1) / 4294967296.0e0) / n_chars DESC,
                        doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 5
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted reservoir (A-ES), 5 docs per language with
    inclusion probability ∝ n_chars — operators/sampling.py::
    weighted_reservoir. The oracle evaluates the identical ln(u)/w key
    from the identical md5-derived uniform."""

    docs = t(spark, sf_dir, "documents")
    return sampling.weighted_reservoir(
        docs, strata_col="lang", weight_col="n_chars", key_col="doc_id", k=5
    ).select("doc_id", "lang", "n_chars")


@query(
    "q_kfold",
    oracle="""
    WITH folded AS (
      SELECT CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS UBIGINT) % 5 AS INTEGER) AS fold,
             lang, n_chars
      FROM documents
    )
    SELECT fold,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           ROUND(AVG(n_chars), 6) AS avg_chars
    FROM folded GROUP BY fold
    """,
)
def q_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment
    (operators/sampling.py::kfold_assign): fold = content-hash(doc_id)
    mod 5, a pure function of the data — identical across engines,
    reruns, and repartitionings, so fold boundaries never drift between
    pipeline versions (the same replayability contract as
    q_holdout_split). Per-fold size, language coverage, and mean length
    summarize balance; training fold i is a pushed-down ``fold != i``
    scan predicate, zero shuffle."""

    folded = sampling.kfold_assign(t(spark, sf_dir, "documents"), "doc_id", 5)
    return folded.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )


_MATCH_ORACLE = """
    WITH base AS (
      SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS b,
             value AS s,
             event_type = 'purchase' AS t,
             event_id AS u
      FROM events WHERE event_type IN ('purchase', 'view')
    ),
    cand AS (
      SELECT b, s, t, u,
             last_value(CASE WHEN NOT t THEN s END IGNORE NULLS) OVER w_lo
               AS lo_s,
             last_value(CASE WHEN NOT t THEN u END IGNORE NULLS) OVER w_lo
               AS lo_u,
             first_value(CASE WHEN NOT t THEN s END IGNORE NULLS) OVER w_hi
               AS hi_s,
             first_value(CASE WHEN NOT t THEN u END IGNORE NULLS) OVER w_hi
               AS hi_u
      FROM base
      WINDOW
        w_lo AS (PARTITION BY b ORDER BY s, CAST(t AS INTEGER), u
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        w_hi AS (PARTITION BY b ORDER BY s, CAST(t AS INTEGER), u
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    ),
    picked AS (
      SELECT b, s, u,
             CASE WHEN lo_s IS NOT NULL
                       AND (hi_s IS NULL OR s - lo_s <= hi_s - s)
                  THEN lo_s ELSE hi_s END AS ps,
             CASE WHEN lo_s IS NOT NULL
                       AND (hi_s IS NULL OR s - lo_s <= hi_s - s)
                  THEN lo_u ELSE hi_u END AS pu
      FROM cand WHERE t
    )
    SELECT b AS block,
           u AS treated_id,
           s AS treated_score,
           CASE WHEN abs(s - ps) <= 2.0 THEN pu END AS control_id,
           CASE WHEN abs(s - ps) <= 2.0 THEN ps END AS control_score,
           CASE WHEN abs(s - ps) <= 2.0 THEN abs(s - ps) END AS dist,
           COALESCE(abs(s - ps) <= 2.0, FALSE) AS matched
    FROM picked
"""


@query("q_caliper_match", oracle=_MATCH_ORACLE)
def q_caliper_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caliper nearest-neighbor matching (operators/sampling.py::
    caliper_match, caliper 2.0, blocks = dates): the asof union-merge
    trick on the score axis — one shuffle on the block key, one window
    pass for both match directions, never a treated×control pairwise
    join; every distance/tiebreak comparison runs on exact raw doubles
    so the pick sequence is engine-reproducible."""

    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    return sampling.caliper_match(
        ev,
        F.to_date(F.col("ts").cast("timestamp")),
        F.col("value"),
        F.col("event_type") == "purchase",
        "event_id",
        caliper=2.0,
    )


def _rdv_sql(n: int, key: str) -> str:
    """Rendezvous shard id in DuckDB: arg of the max md5 over shards."""
    structs = ", ".join(
        f"{{'h': md5('{s}:' || {key}), 's': {s}}}" for s in range(n)
    )
    return f"list_max([{structs}]).s"


_RESHARD_ORACLE = f"""
    WITH a AS (
      SELECT CAST(doc_id AS VARCHAR) AS k FROM documents
    ),
    s AS (
      SELECT {_rdv_sql(8, "k")} AS r1,
             {_rdv_sql(9, "k")} AS r2,
             CAST(CAST(concat('0x', substr(md5(k), 1, 8)) AS UBIGINT) % 8
                  AS INTEGER) AS m1,
             CAST(CAST(concat('0x', substr(md5(k), 1, 8)) AS UBIGINT) % 9
                  AS INTEGER) AS m2
      FROM a
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN r1 != r2 THEN 1 ELSE 0 END) AS BIGINT)
             AS rdv_moved,
           ROUND(SUM(CASE WHEN r1 != r2 THEN 1 ELSE 0 END)
                 / NULLIF(CAST(COUNT(*) AS DOUBLE), 0), 6)
             AS rdv_moved_frac,
           CAST(SUM(CASE WHEN m1 != m2 THEN 1 ELSE 0 END) AS BIGINT)
             AS mod_moved,
           ROUND(SUM(CASE WHEN m1 != m2 THEN 1 ELSE 0 END)
                 / NULLIF(CAST(COUNT(*) AS DOUBLE), 0), 6)
             AS mod_moved_frac
    FROM s
"""


@query(
    "q_reshard_stability",
    oracle=_RESHARD_ORACLE,
)
def q_reshard_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resharding movement audit 8 → 9 shards (operators/sampling.py::
    reshard_stability): rendezvous hashing moves ≈ 1/9 of documents,
    mod-hash ≈ 8/9 — all four shard assignments are map-side md5
    expressions (zero shuffle), one single-row aggregate. The measured
    fractions are the evidence behind choosing HRW placement for any
    growable 100 TB shard map."""

    return sampling.reshard_stability(
        t(spark, sf_dir, "documents"), "doc_id", 8, 9
    )
