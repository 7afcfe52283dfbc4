"""Extension queries: dedup, similarity search, text analysis, event windows,
multimodal plumbing (SURVEY.md §2.7 E1-E5 + BASELINE.json north star).

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.functions import core
from weather_api_automate_etl_spark.functions.text import STOPWORDS
from weather_api_automate_etl_spark.operators import (
    dedup,
    quality,
    similarity,
    textops,
    windows,
)
from weather_api_automate_etl_spark.queries import query, scratch, t
from weather_api_automate_etl_spark.sources import multimodal
from weather_api_automate_etl_spark.streaming import events as stream_events

_TOKENS_SQL = "regexp_split_to_array(lower(trim(text)), '\\s+')"

#: declared schema of the staged events stream, modulo the ts type — the
#: fixture has shipped ts as TIMESTAMP(NANOS) (a raw ns-epoch long under
#: nanosAsLong) in some generations and TIMESTAMP(MICROS) in others, so the
#: stager takes ts's type from the file's cached batch schema
#: (tables.read_fixture) instead of hard-coding either precision.
_EVENT_STREAM_SCHEMA_FMT = (
    "event_id long, ts {ts_type}, user_id long, event_type string, "
    "value double, props string"
)


def _staged_table_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    schema: str,
    stage_dir: str,
    copies: int = 1,
) -> DataFrame:
    """File stream over the fixture ``table`` under its declared
    ``schema``, staged into ``stage_dir`` by streaming/events.py::stage
    (file streams need a directory; ``copies`` > 1 symlinks the same
    file N times, a zero-copy way to stream genuine duplicate rows).
    Self-heals the engine confs like every read path: the driver builds
    its own, possibly hostile, session."""
    from weather_api_automate_etl_spark.sources.tables import _ensure_engine_confs

    _ensure_engine_confs(spark)
    for i in range(copies):
        stream_events.stage(stage_dir, f"{table}_{i}", f"{sf_dir}/{table}.parquet")
    return spark.readStream.schema(schema).parquet(stage_dir)


def _staged_event_stream(
    spark: SparkSession, sf_dir: str, stage_dir: str, copies: int = 1
) -> DataFrame:
    """``_staged_table_stream`` over the events fixture, with ``ts``
    normalized to a µs timestamp.

    File streams need a user-declared schema, and declaring the wrong ts
    precision silently corrupts every event time (a µs long divided as ns
    lands in 1970). Take ts's type from the file's batch schema, which
    ``tables.read_fixture`` infers once per process (a Spark job on the
    first read of the file only), and stage accordingly: ns generations
    arrive as bigint and take the integer-div path (ns epochs exceed
    double's mantissa, so never float-divide); µs generations arrive as a
    native timestamp type."""
    from weather_api_automate_etl_spark.sources.tables import read_fixture

    batch_ts = dict(read_fixture(spark, f"{sf_dir}/events.parquet").dtypes)["ts"]
    if batch_ts == "bigint":
        schema = _EVENT_STREAM_SCHEMA_FMT.format(ts_type="long")
        ts = F.timestamp_micros(F.expr("ts div 1000"))
    else:
        schema = _EVENT_STREAM_SCHEMA_FMT.format(ts_type=batch_ts)
        ts = F.col("ts").cast("timestamp")
    stream = _staged_table_stream(spark, sf_dir, "events", schema, stage_dir, copies)
    return stream.withColumn("ts", ts)


def _drain_stream(
    spark: SparkSession,
    sf_dir: str,
    sink: str,
    build,
    table: str = "events",
    schema: str | None = None,
    **drain_kwargs,
) -> DataFrame:
    """Shared recipe for every memory-sink streaming query: stage the
    events fixture (``_staged_event_stream``) — or another fixture
    ``table`` under its static ``schema`` — apply ``build(stream)``,
    drain into the memory sink ``sink``, return the sink table. The
    stage lives in a ``scratch`` dir removed before returning; the
    memory sink does not read from it."""
    with scratch(sink) as base:
        stage_dir = f"{base}/stage"
        if schema is None:
            stream = _staged_event_stream(spark, sf_dir, stage_dir)
        else:
            stream = _staged_table_stream(spark, sf_dir, table, schema, stage_dir)
        stream_events.run_to_memory_sink(build(stream), sink, **drain_kwargs)
    return spark.table(sink)


def _drain_event_stream_to_files(
    spark: SparkSession, sf_dir: str, name: str, build, copies: int = 1
) -> DataFrame:
    """File-sink twin of ``_drain_stream``: drain into a parquet append
    sink with a checkpoint (streaming/events.py::run_to_file_sink — the
    exactly-once landing-zone path), batch-read the sink back and
    materialize it (localCheckpoint) before the scratch dir goes. The
    returned frame is what a downstream batch consumer of the landing
    zone would see — which is exactly what the driver hashes."""
    with scratch(name) as base:
        stream = _staged_event_stream(spark, sf_dir, f"{base}/stage", copies)
        stream_events.run_to_file_sink(
            build(stream), f"{base}/sink/data", f"{base}/sink/ckpt"
        )
        return spark.read.parquet(f"{base}/sink/data").localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# E1 — deduplication
# ---------------------------------------------------------------------------


@query(
    "q_dedup_exact",
    oracle="""
    SELECT doc_id, lang, source, n_chars FROM documents
    QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
    """,
    tags=("dedup",),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup, deterministic keep-lowest-id survivor."""
    docs = t(spark, sf_dir, "documents")
    return dedup.dedup_exact(docs, [F.md5("text")], "doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


_MINHASH_SIG_SQL = """
    WITH base AS (
      SELECT doc_id, lower(trim(text)) AS txt, {toks} AS tk FROM documents
    ),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(tk) >= 3
                  THEN [array_to_string(tk[i:i+2], ' ') FOR i IN range(1, len(tk) - 1)]
                  ELSE [txt] END AS shingles
      FROM base
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    mh AS (
      SELECT doc_id, j, min(md5(CAST(j AS VARCHAR) || ':' || s)) AS mh
      FROM ex CROSS JOIN (SELECT unnest(range(8)) AS j) js
      GROUP BY doc_id, j
    ),
    sig AS (
      SELECT doc_id, CAST(j // 2 AS INTEGER) AS band_id,
             md5(string_agg(mh, ',' ORDER BY j)) AS bucket
      FROM mh GROUP BY doc_id, j // 2
    )
""".format(toks=_TOKENS_SQL)


@query(
    "q_minhash_signature",
    oracle=_MINHASH_SIG_SQL + "SELECT doc_id, band_id, bucket FROM sig",
    tags=("dedup",),
)
def q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH banded signatures (8 hashes, 4 bands) — the shuffle-free
    signature build behind near-dup candidate generation."""
    docs = t(spark, sf_dir, "documents")
    return dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=8, band_size=2)


@query(
    "q_minhash_pairs",
    oracle=_MINHASH_SIG_SQL
    + """
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM sig a JOIN sig b
      ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    """,
    tags=("dedup",),
)
def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate near-dup pairs (ids sharing any band bucket)."""
    docs = t(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=8, band_size=2)
    return dedup.minhash_candidate_pairs(sig, "doc_id")


_MINHASH_SLOTS_SQL = """
    WITH base AS (
      SELECT doc_id, lower(trim(text)) AS txt, {toks} AS tk FROM documents
    ),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(tk) >= 3
                  THEN [array_to_string(tk[i:i+2], ' ') FOR i IN range(1, len(tk) - 1)]
                  ELSE [txt] END AS shingles
      FROM base
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    mh AS (
      SELECT doc_id, j, min(md5(CAST(j AS VARCHAR) || ':' || s)) AS mh
      FROM ex CROSS JOIN (SELECT unnest(range(8)) AS j) js
      GROUP BY doc_id, j
    )
""".format(toks=_TOKENS_SQL)


@query(
    "q_minhash_jaccard_estimate",
    oracle=_MINHASH_SLOTS_SQL
    + """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / 8.0e0, 6) AS est_jaccard
    FROM mh a JOIN mh b ON a.j = b.j AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) >= 2
    """,
    tags=("dedup",),
)
def q_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash estimator itself: estimated Jaccard = fraction of the 8
    hash slots two documents agree on, reported for pairs agreeing on ≥2
    slots. Completes the dedup story (signatures → candidates → estimate)
    without ever computing exact set overlap."""
    docs = t(spark, sf_dir, "documents")
    # raw (doc, j, minhash) rows: reuse the banded signature builder with
    # band_size=1 so each band IS one hash slot
    slots = dedup.minhash_signatures(
        docs, "doc_id", "text", num_hashes=8, band_size=1
    ).withColumnRenamed("band_id", "j")
    a = slots.select(F.col("doc_id").alias("id_a"), "j", F.col("bucket").alias("ha"))
    b = slots.select(F.col("doc_id").alias("id_b"), "j", F.col("bucket").alias("hb"))
    agree = F.sum(F.when(F.col("ha") == F.col("hb"), 1).otherwise(0))
    return (
        a.join(b, "j")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.round(agree / F.lit(8.0), 6).alias("est_jaccard"), agree.alias("__n"))
        .filter(F.col("__n") >= 2)
        .drop("__n")
    )


@query(
    "q_dedup_clusters",
    oracle=_MINHASH_SIG_SQL.replace("WITH base", "WITH RECURSIVE base")
    + """
    , pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sig a JOIN sig b
        ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (
      SELECT src AS doc_id, least(src, MIN(dst)) AS comp FROM reach GROUP BY src
    )
    SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN comp c USING (doc_id)
    """,
    tags=("dedup",),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup clustering: MinHash+LSH candidate pairs →
    distributed connected components (Pregel-style min-label propagation,
    operators/dedup.py::connected_components) → full-corpus cluster map.
    The DuckDB oracle computes the same components via a recursive-CTE
    transitive closure — an independent algorithm on an independent engine."""
    docs = t(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=8, band_size=2)
    pairs = dedup.minhash_candidate_pairs(sig, "doc_id")
    return dedup.dedup_clusters(docs, pairs, "doc_id")


def _simhash_oracle(bits: int = 16) -> str:
    votes = ",\n        ".join(
        f"SUM(((h >> {b}) & 1) * 2 - 1) AS v{b}" for b in range(bits)
    )
    sig = " + ".join(f"CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(bits))
    return f"""
    WITH dt AS (
      SELECT doc_id, CAST('0x' || substring(md5(tok), 1, {bits // 4}) AS BIGINT) AS h
      FROM (SELECT doc_id, unnest(list_distinct({_TOKENS_SQL})) AS tok FROM documents)
    ),
    bits AS (
      SELECT doc_id,
        {votes}
      FROM dt GROUP BY doc_id
    )
    SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM bits
    """


@query("q_simhash", oracle=_simhash_oracle(), tags=("dedup",))
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash near-dup fingerprints (map-only per document)."""
    return dedup.simhash(t(spark, sf_dir, "documents"), "doc_id", "text", bits=16)


@query(
    "q_simhash_pairs",
    oracle=f"""
    WITH s AS ({_simhash_oracle()}),
    ch AS (SELECT doc_id, simhash, CAST(unnest(range(4)) AS INTEGER) AS c FROM s)
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM ch a JOIN ch b
      ON a.c = b.c
     AND ((a.simhash >> (a.c * 4)) & 15) = ((b.simhash >> (b.c * 4)) & 15)
     AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    tags=("dedup",),
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3) via pigeonhole slice blocking —
    complete for distance < 4 with an equi-join instead of all-pairs."""
    sigs = dedup.simhash(t(spark, sf_dir, "documents"), "doc_id", "text", bits=16)
    return dedup.simhash_pairs(sigs, "doc_id", "simhash", bits=16, chunks=4, max_hamming=3)


@query(
    "q_ngram_jaccard",
    oracle=f"""
    WITH dt AS (
      SELECT doc_id, lang, unnest(list_distinct({_TOKENS_SQL})) AS tok FROM documents
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM dt GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM dt a JOIN dt b
        ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, ROUND(i / (na.n + nb.n - i), 6) AS jaccard
    FROM inter
    JOIN sizes na ON na.doc_id = id_a
    JOIN sizes nb ON nb.doc_id = id_b
    WHERE ROUND(i / (na.n + nb.n - i), 6) >= 0.9
    """,
    tags=("dedup",),
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs, blocked by lang (inverted-
    index join — the all-pairs-free exact complement to MinHash)."""
    docs = t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", block_col="lang", threshold=0.9, shingle_k=1
    )


_DOT_SQL = (
    "list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


@query(
    "q_neardup_cosine",
    oracle=f"""
    WITH p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {_DOT_SQL.format(a="a.embedding", b="b.embedding")} AS dp,
             sqrt({_DOT_SQL.format(a="a.embedding", b="a.embedding")}) AS na,
             sqrt({_DOT_SQL.format(a="b.embedding", b="b.embedding")}) AS nb
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, ROUND(dp / (na * nb), 6) AS cosine
    FROM p WHERE ROUND(dp / (na * nb), 6) >= 0.35
    """,
    tags=("dedup",),
)
def q_neardup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs blocked by label (the LSH-bucketed
    variant uses hyperplane buckets as the block instead — q_lsh_buckets)."""
    emb = t(spark, sf_dir, "embeddings")
    return dedup.embedding_neardup_pairs(
        emb, "vec_id", "embedding", block_col="label", threshold=0.35
    )


# ---------------------------------------------------------------------------
# E2 — similarity search
# ---------------------------------------------------------------------------


@query(
    "q_topk_similarity",
    oracle=f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id,
             ROUND({_DOT_SQL.format(a="e.embedding", b="q.qe")}
                   / (sqrt({_DOT_SQL.format(a="e.embedding", b="e.embedding")})
                      * sqrt({_DOT_SQL.format(a="q.qe", b="q.qe")})), 6) AS score
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id != 0
    )
    SELECT vec_id, score FROM scored ORDER BY score DESC, vec_id LIMIT 10
    """,
    tags=("similarity", "bench"),
)
def q_topk_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for a query vector (vec_id 0) — the exact
    baseline; executes as a narrow scan + TakeOrdered, no full sort."""
    emb = t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return similarity.topk_cosine(
        emb.filter(F.col("vec_id") != 0), "embedding", qvec, k=10
    )


def _ann_ivf_oracle() -> str:
    cos_cq = _DOT_SQL.format(a="c.c", b="q.qe")
    ncc = _DOT_SQL.format(a="c.c", b="c.c")
    cos_eq = _DOT_SQL.format(a="s.embedding", b="q.qe")
    nee = _DOT_SQL.format(a="s.embedding", b="s.embedding")
    nq = _DOT_SQL.format(a="q.qe", b="q.qe")
    return f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    corp AS (SELECT * FROM embeddings WHERE vec_id <> 0),
    pos AS (
      SELECT label, i, AVG(CAST(embedding[i] AS DOUBLE)) AS m
      FROM corp, UNNEST(range(1, len(embedding) + 1)) AS t(i)
      GROUP BY label, i
    ),
    cents AS (SELECT label, list(m ORDER BY i) AS c FROM pos GROUP BY label),
    probed AS (
      -- rounded + id-tie-broken, matching ivf_topk: centroid AVG()s are
      -- aggregation-order-sensitive in the last ulp across engines
      SELECT c.label
      FROM cents c, q
      ORDER BY ROUND({cos_cq} / (sqrt({ncc}) * sqrt({nq})), 6) DESC, c.label
      LIMIT 3
    ),
    scored AS (
      SELECT s.vec_id,
             ROUND({cos_eq} / (sqrt({nee}) * sqrt({nq})), 6) AS score
      FROM corp s JOIN probed USING (label), q
    )
    SELECT vec_id, score FROM scored ORDER BY score DESC, vec_id LIMIT 10
    """


@query("q_ann_ivf", oracle=_ann_ivf_oracle(), tags=("similarity",))
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10: probe the 3 nearest label-lists by centroid,
    exact search inside. The probe is iterative on the Spark side (bounded
    centroid collect) but fully DETERMINISTIC, so the oracle re-derives the
    same 3 lists and the same in-list top-10 declaratively — upgraded from
    the rows-only check; recall vs the exact baseline stays asserted in
    tests."""
    emb = t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return similarity.ivf_topk(
        emb.filter(F.col("vec_id") != 0), "embedding", "label", qvec, k=10, nprobe=3
    )


def _lsh_oracle(n_planes: int = 8, dim: int = 64) -> str:
    terms = []
    for p in range(n_planes):
        vals = ", ".join(f"{v:.17e}" for v in similarity._hyperplane(p, dim))
        proj = (
            f"list_sum(list_transform(range(1, len(embedding) + 1), "
            f"i -> CAST(embedding[i] AS DOUBLE) * list_value({vals})[i]))"
        )
        terms.append(f"CASE WHEN {proj} >= 0 THEN {1 << p} ELSE 0 END")
    return (
        "SELECT vec_id, CAST(" + " + ".join(terms) + " AS INTEGER) AS bucket FROM embeddings"
    )


@query("q_lsh_buckets", oracle=_lsh_oracle(), tags=("similarity",))
def q_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH buckets (8 deterministic md5-derived planes) —
    the map-only blocking key for near-dup at scale."""
    emb = t(spark, sf_dir, "embeddings")
    return similarity.hyperplane_lsh_buckets(emb, "embedding", dim=64, n_planes=8)


def _knn_join_oracle(k: int = 5, n_planes: int = 6, dim: int = 64) -> str:
    bucket_sql = _lsh_oracle(n_planes=n_planes, dim=dim)
    dot = _DOT_SQL.format(a="c.embedding", b="p.pe")
    nc = _DOT_SQL.format(a="c.embedding", b="c.embedding")
    np_ = _DOT_SQL.format(a="p.pe", b="p.pe")
    return f"""
    WITH b AS ({bucket_sql}),
    c AS (
      SELECT e.vec_id, e.embedding, b.bucket
      FROM embeddings e JOIN b USING (vec_id) WHERE e.vec_id >= 5
    ),
    p AS (
      SELECT e.vec_id AS probe_id, e.embedding AS pe, b.bucket
      FROM embeddings e JOIN b USING (vec_id) WHERE e.vec_id < 5
    ),
    scored AS (
      SELECT p.probe_id, c.vec_id,
             ROUND({dot} / (sqrt({np_}) * sqrt({nc})), 6) AS score
      FROM c JOIN p ON c.bucket = p.bucket
    ),
    ranked AS (
      SELECT probe_id, vec_id, score,
             CAST(row_number() OVER (
               PARTITION BY probe_id ORDER BY score DESC, vec_id
             ) AS INTEGER) AS rk
      FROM scored
    )
    SELECT probe_id, vec_id, score, rk FROM ranked WHERE rk <= {k}
    """


@query("q_knn_join", oracle=_knn_join_oracle(), tags=("similarity",))
def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked k-NN **join** (many probes at once, vs q_topk_similarity's
    single query vector): probes = vec_id 0-4, corpus = the rest; LSH-bucket
    equi-join (probe side broadcast) → exact cosine → per-probe window
    top-5. SQL-expressible end-to-end, unlike the iterative IVF probe, so
    it carries an exact oracle; the plan has no cartesian and no full sort."""
    emb = t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "probe_id")
    corpus = emb.filter(F.col("vec_id") >= 5)
    return similarity.knn_join(corpus, probes, "embedding", dim=64, k=5, n_planes=6)


def _neardup_lsh_oracle(threshold: float = 0.3) -> str:
    bucket_sql = _lsh_oracle()  # SELECT vec_id, bucket FROM embeddings
    return f"""
    WITH b AS ({bucket_sql}),
    joined AS (
      SELECT ea.vec_id AS id_a, eb.vec_id AS id_b,
             {_DOT_SQL.format(a="ea.embedding", b="eb.embedding")} AS dp,
             sqrt({_DOT_SQL.format(a="ea.embedding", b="ea.embedding")}) AS na,
             sqrt({_DOT_SQL.format(a="eb.embedding", b="eb.embedding")}) AS nb
      FROM b ba JOIN b bb ON ba.bucket = bb.bucket AND ba.vec_id < bb.vec_id
      JOIN embeddings ea ON ea.vec_id = ba.vec_id
      JOIN embeddings eb ON eb.vec_id = bb.vec_id
    )
    SELECT id_a, id_b, ROUND(dp / (na * nb), 6) AS cosine
    FROM joined WHERE ROUND(dp / (na * nb), 6) >= {threshold}
    """


@query("q_neardup_lsh", oracle=_neardup_lsh_oracle(), tags=("dedup", "similarity"))
def q_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-free near-dup at scale: hyperplane-LSH buckets as the blocking
    key, exact cosine verification inside each bucket. The candidate space
    is bucket-quadratic, never corpus-quadratic — this composition
    (map-only bucketing → bucket join → verify) replaces all-pairs cosine
    on a real corpus."""
    emb = t(spark, sf_dir, "embeddings")
    buckets = similarity.hyperplane_lsh_buckets(emb, "embedding", dim=64, n_planes=8)
    blocked = emb.join(buckets, "vec_id").select("vec_id", "embedding", "bucket")
    return dedup.embedding_neardup_pairs(
        blocked, "vec_id", "embedding", block_col="bucket", threshold=0.3
    )


# ---------------------------------------------------------------------------
# E3 — text analysis
# ---------------------------------------------------------------------------


@query(
    "q_text_tokens",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len({_TOKENS_SQL})) AS BIGINT) AS total_ws_tokens,
           CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS total_bpe_tokens,
           ROUND(AVG(n_chars), 2) AS avg_chars
    FROM documents GROUP BY lang
    """,
    tags=("text", "bench"),
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus token accounting (whitespace + BPE-ish counts).

    Single pass: the token measures are computed in the same projection as
    the grouping key — no self-join, one map-side-combined aggregate."""
    from weather_api_automate_etl_spark.functions.text import (
        bpe_ish_token_count,
        tokens,
    )

    docs = t(spark, sf_dir, "documents")
    measured = docs.select(
        "lang",
        "n_chars",
        F.size(tokens("text")).cast("long").alias("ws_tokens"),
        bpe_ish_token_count("text").alias("bpe_tokens"),
    )
    return measured.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").alias("total_ws_tokens"),
        F.sum("bpe_tokens").alias("total_bpe_tokens"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
    )


def _lang_id_oracle() -> str:
    score_cols = ",\n             ".join(
        "CAST(len(list_filter({toks}, tok -> tok IN ({vals}))) AS INTEGER) AS score_{lang}".format(
            toks=_TOKENS_SQL,
            vals=", ".join(f"'{w}'" for w in STOPWORDS[lang]),
            lang=lang,
        )
        for lang in STOPWORDS
    )
    all_scores = ", ".join(f"score_{lang}" for lang in STOPWORDS)
    branches = "\n             ".join(
        f"WHEN score_{lang} > 0 AND score_{lang} >= greatest({all_scores}) THEN '{lang}'"
        for lang in STOPWORDS
    )
    return f"""
    WITH s AS (
      SELECT doc_id,
             {score_cols}
      FROM documents
    )
    SELECT doc_id,
           CASE {branches}
                ELSE 'und' END AS predicted_lang,
           {all_scores}
    FROM s
    """


@query("q_lang_id", oracle=_lang_id_oracle(), tags=("text",))
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language identification (deterministic heuristic)."""
    return textops.lang_id(t(spark, sf_dir, "documents"))


@query(
    "q_quality_score",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             CAST(length(trim(text)) AS DOUBLE) AS L,
             CAST(len(regexp_extract_all(trim(text), '[^A-Za-z0-9\\s]')) AS DOUBLE) AS P,
             CAST(len(list_filter({_TOKENS_SQL}, tok -> tok IN ('the','a','of','and','to','in','is'))) AS DOUBLE) AS SW,
             CAST(len({_TOKENS_SQL}) AS DOUBLE) AS NT
      FROM documents
    ),
    q AS (
      SELECT doc_id,
        0.4e0 * least(L / 500.0e0, 1.0e0)
        + 0.3e0 * (1.0e0 - CASE WHEN L > 0 THEN P / L ELSE 0.0e0 END)
        + 0.3e0 * (1.0e0 - abs((CASE WHEN NT > 0 THEN SW / NT ELSE 0.0e0 END) - 0.4e0)) AS quality
      FROM m
    )
    SELECT doc_id, ROUND(quality, 6) AS quality,
           CASE WHEN quality >= 0.5e0 THEN 'keep' ELSE 'drop' END AS verdict
    FROM q
    """,
    tags=("text",),
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document-quality scoring with keep/drop verdict."""
    return textops.quality_scores(t(spark, sf_dir, "documents"))


@query(
    "q_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_TOKENS_SQL}) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_tokens,
           CAST(length(trim(text)) AS BIGINT) AS n_chars_trimmed
    FROM documents
    """,
    tags=("text",),
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counting (whitespace + BPE-ish regex)."""
    return textops.text_profile(t(spark, sf_dir, "documents"))


@query(
    "q_char_ngrams",
    oracle="""
    SELECT doc_id,
           CAST(len(list_distinct([substring(lower(trim(text)), i, 3)
                                   FOR i IN range(1, length(trim(text)) - 1)]))
                AS INTEGER) AS distinct_trigrams,
           CAST(length(trim(text)) - 2 AS INTEGER) AS total_trigrams
    FROM documents
    WHERE length(trim(text)) >= 3
    """,
    tags=("text",),
)
def q_char_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram profile per document — the unit underlying
    n-gram language models and char-level similarity. Map-only."""
    from weather_api_automate_etl_spark.functions.text import char_ngrams

    docs = t(spark, sf_dir, "documents")
    grams = char_ngrams("text", 3)
    return (
        docs.filter(F.length(F.trim(F.col("text"))) >= 3)
        .select(
            "doc_id",
            F.size(F.array_distinct(grams)).alias("distinct_trigrams"),
            F.size(grams).alias("total_trigrams"),
        )
    )


@query(
    "q_fingerprint",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, lower(trim(text)) AS txt, {_TOKENS_SQL} AS tk FROM documents
    ),
    sh AS (
      SELECT doc_id, txt,
             CASE WHEN len(tk) >= 4
                  THEN [array_to_string(tk[i:i+3], ' ') FOR i IN range(1, len(tk) - 2)]
                  ELSE NULL END AS shingles
      FROM base
    )
    SELECT doc_id,
           COALESCE(list_aggregate(list_transform(shingles, s -> md5(s)), 'min'),
                    md5(txt)) AS fingerprint
    FROM sh
    """,
    tags=("text",),
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (min-md5 over 4-word shingles)."""
    return textops.fingerprints(t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# E4/E5 — event-time and analytic windows
# ---------------------------------------------------------------------------


@query(
    "q_event_windows",
    oracle="""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
    tags=("windows", "bench"),
)
def q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling event-time windows (same code streams with a
    watermark — streaming/events.py)."""
    return windows.tumbling_window_agg(t(spark, sf_dir, "events"))


@query(
    "q_window_rank",
    oracle="""
    SELECT event_id, user_id,
           CAST(row_number() OVER w AS INTEGER) AS seq,
           epoch_us(CAST(ts AS TIMESTAMP))
             - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS gap_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    """,
    tags=("windows",),
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ranking + lag gap analytics (deterministic tie-break)."""
    return windows.rank_and_lag(t(spark, sf_dir, "events"))


@query(
    "q_session_windows",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, ts, value,
             epoch_us(CAST(ts AS TIMESTAMP))
               - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS gap_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    ),
    s AS (
      SELECT *, CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 30 * 60 * 1000000
                              THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM g
    )
    SELECT user_id, session_seq, COUNT(*) AS n_events,
           MIN(CAST(ts AS TIMESTAMP)) AS session_start,
           MAX(CAST(ts AS TIMESTAMP)) AS session_end,
           ROUND(SUM(value), 2) AS session_value
    FROM s GROUP BY user_id, session_seq
    """,
    tags=("windows",),
)
def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute idle threshold)."""
    return windows.sessionize(t(spark, sf_dir, "events"), gap_minutes=30)


@query("q_streaming_event_windows", oracle="""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """, tags=("streaming",))
def q_streaming_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The *streaming* twin of q_event_windows, run for real: file-source
    readStream over the events fixture → watermarked tumbling windows →
    availableNow drain into a memory sink. Must hash-match the same batch
    oracle — streaming and batch semantics agree on bounded input."""
    return _drain_stream(
        spark, sf_dir, "q_streaming_event_windows_sink",
        stream_events.windowed_counts, timeout_s=120,
    )


@query("q_streaming_sessions", oracle="""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
    ),
    m AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 10 MINUTE AS session_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM s GROUP BY user_id, sid
    """, tags=("streaming", "windows"))
def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native stateful sessionization run as a REAL stream: readStream over
    the events fixture → watermarked session_window aggregation
    (streaming/events.py::session_counts) → availableNow drain. The DuckDB
    oracle computes the identical sessions via gaps-and-islands — an
    independent algorithm for the same semantics. Watermark is bounded-
    fixture-huge so no state is evicted mid-drain."""
    return _drain_stream(
        spark, sf_dir, "q_streaming_sessions_sink",
        lambda st: stream_events.session_counts(st, watermark="365 days"),
        timeout_s=120,
    )


@query("q_streaming_stateful", oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY user_id
    """, tags=("streaming",))
def q_streaming_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful operator (applyInPandasWithState running
    per-user totals) driven as a real stream and reduced to its FINAL
    state: the update-mode sink holds one row per (user, micro-batch);
    n_events grows monotonically, so max_by(total_value, n_events) +
    max(n_events) recovers the last update per user — which must equal
    the plain batch aggregate the oracle computes."""
    return (
        _drain_stream(
            spark, sf_dir, "q_streaming_stateful_sink",
            stream_events.running_user_totals,
            output_mode="update", timeout_s=120,
        )
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
    )


@query("q_streaming_file_sink", oracle="""
    SELECT event_id, user_id,
           CAST(ts AS TIMESTAMP) AS ts,
           ROUND(value, 2) AS value
    FROM events WHERE event_type = 'purchase'
    """, tags=("streaming",))
def q_streaming_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateless stream → DURABLE parquet sink, verified by reading the
    landing zone back: purchases filtered/projected on the stream, drained
    availableNow through streaming/events.py::run_to_file_sink (append
    mode + checkpoint = exactly-once file commits), then batch-read. A
    stateless transform is the right file-sink demonstrator: append mode
    emits every row immediately, so the landing zone equals the batch
    filter — no watermark-finalization holdback to reason away."""
    return _drain_event_stream_to_files(
        spark, sf_dir, "q_streaming_file_sink",
        lambda st: st.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts", F.round("value", 2).alias("value")
        ),
    )


@query("q_streaming_dedup_sink", oracle="""
    SELECT DISTINCT event_id, user_id, event_type FROM events
    """, tags=("streaming", "dedup"))
def q_streaming_dedup_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming bounded-state dedup (dropDuplicatesWithinWatermark) fed
    GENUINE duplicates — the fixture staged twice (two symlinks, zero
    copy; maxFilesPerTrigger=1 puts the copies in separate micro-batches,
    so the second batch dedups against watermark state, not within-batch)
    — drained into a durable parquet sink and read back. Projected to
    columns identical across duplicate copies, so which copy survives is
    immaterial and the result hashes deterministically against the
    DISTINCT oracle."""
    return _drain_event_stream_to_files(
        spark, sf_dir, "q_streaming_dedup_sink",
        lambda st: (
            st.withWatermark("ts", "365 days")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id", "user_id", "event_type")
        ),
        copies=2,
    )


@query("q_approx_stats", oracle="""
    SELECT event_type,
           quantile_disc(value, 0.5) AS value_p50,
           quantile_disc(value, 0.95) AS value_p95,
           COUNT(*) AS n,
           TRUE AS users_within_10pct
    FROM events GROUP BY event_type
    """, tags=("approx",))
def q_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based approximate aggregates (HLL++ distinct count, quantile
    sketch percentiles) — sub-linear state at any scale, now fully
    driver-hashable:

    - the quantile sketch's ``accuracy`` (1e6) exceeds every fixture
      group's size AT EVERY ORACLE SCALE (sf0.1 groups are ~20k rows —
      the original 1e4 went approximate there and drifted off
      quantile_disc by one element), so the GK sketch is EXACT at
      verification scale and returns the discrete percentile element —
      DuckDB's quantile_disc, verified value-identical at sf0.001/0.01/
      0.1. At 100 TB the same code degrades gracefully to ±1e-6 rank
      error (or dial accuracy down for memory); nothing changes but the
      bound,
    - the HLL distinct count is approximate by construction, so what the
      driver hashes is its documented CONTRACT — |est/exact − 1| ≤ 0.10
      (the default 5% rsd at 2σ; tests/test_approx_bounds.py pins the
      tighter ±5% empirically) — not the register-dependent raw value.

    Percentiles come back as scalar columns (one sketch, two extractions)
    rather than one array column: the driver canonicalizes by sorting
    column values, which needs every column hashable/orderable."""
    ev = t(spark, sf_dir, "events")
    pcts = F.percentile_approx("value", [0.5, 0.95], 1_000_000)
    return ev.groupBy("event_type").agg(
        pcts[0].alias("value_p50"),
        pcts[1].alias("value_p95"),
        F.count(F.lit(1)).alias("n"),
        (
            F.abs(
                F.approx_count_distinct("user_id")
                / F.count_distinct("user_id")
                - 1
            )
            <= 0.10
        ).alias("users_within_10pct"),
    )


@query(
    "q_embedding_norm",
    oracle=f"""
    SELECT vec_id,
           ROUND(sqrt({_DOT_SQL.format(a="embedding", b="embedding")}), 6) AS l2,
           ROUND(CAST(embedding[1] AS DOUBLE)
                 / sqrt({_DOT_SQL.format(a="embedding", b="embedding")}), 6) AS first_unit
    FROM embeddings
    """,
    tags=("similarity",),
)
def q_embedding_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norms + unit-normalization (the preprocessing step every cosine
    pipeline runs once and caches, so similarity scans are dot-only)."""
    from weather_api_automate_etl_spark.functions.vectors import l2_norm, l2_normalize

    emb = t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.round(l2_norm("embedding"), 6).alias("l2"),
        F.round(l2_normalize("embedding")[0], 6).alias("first_unit"),
    )


# ---------------------------------------------------------------------------
# Operator-category backfills (SURVEY §2.7 lists these as absent from the
# reference; a complete analytics engine needs them)
# ---------------------------------------------------------------------------


@query(
    "q_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           ROUND(SUM(l_extendedprice), 2) AS total_price
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("relational",),
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP (grouping-sets family): per
    (flag, status), per flag, and grand total in ONE aggregate pass —
    Spark expands the grouping sets map-side, no extra scans."""
    return (
        t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
    )


@query(
    "q_set_ops",
    oracle="""
    SELECT n_nationkey AS nationkey FROM nation
    WHERE n_nationkey IN (SELECT c_nationkey FROM customer)
    INTERSECT
    SELECT n_nationkey FROM nation
    WHERE n_nationkey IN (SELECT s_nationkey FROM supplier)
    EXCEPT
    SELECT n_nationkey FROM nation WHERE n_name = 'NATION_0'
    """,
    tags=("relational",),
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (INTERSECT / EXCEPT): nations having both customers
    and suppliers, minus an excluded nation. Spark plans these as
    left-semi/anti joins under the hood."""
    nation = t(spark, sf_dir, "nation")
    cust_nations = (
        nation.join(
            t(spark, sf_dir, "customer"),
            nation.n_nationkey == F.col("c_nationkey"),
            "left_semi",
        ).select(F.col("n_nationkey").alias("nationkey"))
    )
    supp_nations = (
        nation.join(
            t(spark, sf_dir, "supplier"),
            nation.n_nationkey == F.col("s_nationkey"),
            "left_semi",
        ).select(F.col("n_nationkey").alias("nationkey"))
    )
    excluded = nation.filter(F.col("n_name") == "NATION_0").select(
        F.col("n_nationkey").alias("nationkey")
    )
    return cust_nations.intersect(supp_nations).exceptAll(excluded).distinct()


@query(
    "q_semi_anti_join",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
    )
    """,
    tags=("relational",),
)
def q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers with no orders before 1996 (NOT EXISTS). The
    probe side streams; the filtered orders build side broadcasts — no
    fact-side shuffle."""
    cust = t(spark, sf_dir, "customer")
    early = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        .select("o_custkey")
    )
    return cust.join(
        F.broadcast(early), cust.c_custkey == early.o_custkey, "left_anti"
    ).select("c_custkey", "c_mktsegment")


@query(
    "q_moving_avg",
    oracle="""
    SELECT event_id, user_id,
           ROUND(AVG(value) OVER (PARTITION BY user_id
                                  ORDER BY CAST(ts AS TIMESTAMP), event_id
                                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS mov_avg,
           ROUND(first_value(value) OVER (PARTITION BY user_id
                                  ORDER BY CAST(ts AS TIMESTAMP), event_id), 2) AS first_val
    FROM events
    """,
    tags=("windows",),
)
def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window frames: 4-row moving average + first_value per user —
    the ROWS-frame analytic the tumbling/rank operators don't cover."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w.rowsBetween(-3, 0)), 4).alias("mov_avg"),
        F.round(F.first("value").over(w), 2).alias("first_val"),
    )


@query(
    "q_percentiles",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.25), 4) AS p25,
           ROUND(quantile_cont(value, 0.50), 4) AS p50,
           ROUND(quantile_cont(value, 0.95), 4) AS p95
    FROM events GROUP BY event_type
    """,
    tags=("relational",),
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (the non-sketch counterpart
    of q_approx_stats — a sort-based aggregate, for when exactness beats
    sub-linear state)."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("value", F.lit(0.50)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95"),
    )


@query(
    "q_stats_moments",
    oracle="""
    SELECT l_returnflag,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           ROUND(stddev_samp(l_extendedprice), 4) AS sd_price,
           ROUND(var_samp(l_extendedprice), 2) AS var_price,
           ROUND(corr(l_extendedprice, l_quantity), 6) AS corr_price_qty,
           ROUND(covar_samp(l_extendedprice, l_quantity), 4) AS cov_price_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("relational",),
)
def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical moment aggregates (stddev/variance/correlation/covariance)
    — single-pass streaming computation, map-side combined."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_samp("l_extendedprice"), 2).alias("var_price"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_price_qty"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 4).alias("cov_price_qty"),
    )


@query(
    "q_pivot",
    oracle="""
    SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
           CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
           CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error
    FROM events GROUP BY 1
    """,
    tags=("relational",),
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): daily event counts by type. The value set is
    declared explicitly, so the pivot is one aggregate pass — no extra
    distinct-values job, which is the scale-safe way to pivot."""
    ev = t(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        ev.groupBy(F.to_date("ts").alias("day"))
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
    )


@query("q_ingest_smoke", oracle="""
    SELECT city, country,
           CAST(temperature AS INTEGER) AS temperature,
           weather_description,
           CAST(humidity AS INTEGER) AS humidity,
           CAST(wind_speed AS INTEGER) AS wind_speed,
           wind_direction,
           CAST(pressure AS INTEGER) AS pressure,
           CAST(visibility AS INTEGER) AS visibility,
           CAST(uv_index AS INTEGER) AS uv_index,
           observation_time,
           TIMESTAMP '2026-01-01' AS data_interval_start
    FROM (VALUES
      ('Paris',    'Country0', 13, 'Light rain',    11, 31, 'NW', 1011, 1, 5,  '12:00 PM'),
      ('London',   'Country2', -2, 'Sunny',         18, 18, 'NW',  998, 8, 2,  '12:00 PM'),
      ('New York', 'Country2',  9, 'Light rain',    51, 31, 'NW', 1011, 1, 3,  '12:00 PM'),
      ('Tokyo',    'Country2', 36, 'Sunny',         34, 14, 'NW', 1034, 4, 6,  '12:00 PM'),
      ('Sydney',   'Country6', 16, 'Sunny',         36, 36, 'NW', 1016, 6, 9,  '12:00 PM'),
      ('Berlin',   'Country2', 45, 'Light rain',     4,  4, 'NW',  984, 4, 10, '12:00 PM'),
      ('Madrid',   'Country5', 34, 'Partly cloudy', 93, 33, 'NW', 1033, 3, 10, '12:00 PM')
    ) AS t(city, country, temperature, weather_description, humidity,
           wind_speed, wind_direction, pressure, visibility, uv_index,
           observation_time)
    """, tags=("ingest",))
def q_ingest_smoke(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ingestion dataflow (SURVEY §2 ops 1-6) through the contract:
    distributed mapInPandas fetch (deterministic offline fetcher) → JSON
    decode with parse/API-error routing (the injected 'Xanadu' error row
    must be dropped) → typed raw.weather rows with lineage columns. The
    fetcher is a pure function of the city name, so the expected rows are
    enumerable — the oracle pins them literally (an independent derivation
    of the same payload arithmetic)."""
    import datetime as dt

    from weather_api_automate_etl_spark.sources import json_ingest, rest

    fetched = rest.fetch_locations(
        spark, rest.DEFAULT_CITIES + ["Xanadu"], rest.fake_fetcher
    )
    ok, _failed = rest.split_errors(fetched)
    decoded = json_ingest.decode_payloads(ok)
    obs = json_ingest.extract_observations(decoded, dt.datetime(2026, 1, 1))
    return obs.drop("extracted_at", "raw_json")  # non-deterministic / bulky cols


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


@query(
    "q_multimodal_meta",
    oracle="""
    WITH a AS (
      SELECT doc_id AS asset_id,
             ['image/png', 'audio/wav', 'video/mp4'][CAST(doc_id % 3 + 1 AS INTEGER)] AS media_type,
             CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
      FROM documents
    )
    SELECT asset_id, media_type, byte_len,
           CAST(byte_len % 64 + 1 AS INTEGER) AS width,
           CAST(byte_len % 48 + 1 AS INTEGER) AS height,
           CAST(CASE WHEN media_type = 'video/mp4' THEN byte_len % 16 ELSE 1 END AS INTEGER) AS n_frames
    FROM a
    """,
    tags=("multimodal",),
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal asset plumbing: binary payload column + typed metadata,
    features extracted through the real Arrow/mapInPandas path (decode
    stubbed deterministically — no media codecs in container)."""
    assets = multimodal.documents_as_assets(t(spark, sf_dir, "documents"))
    return multimodal.extract_features(assets, decode_stub=True)


@query("q_streaming_join", oracle="""
    SELECT c.event_id AS click_id, CAST(c.ts AS TIMESTAMP) AS click_ts,
           c.user_id,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts,
           p.value AS purchase_value
    FROM events c JOIN events p
      ON c.event_type = 'click' AND p.event_type = 'purchase'
     AND c.user_id = p.user_id
     AND CAST(p.ts AS TIMESTAMP)
         BETWEEN CAST(c.ts AS TIMESTAMP) - INTERVAL 1 HOUR
             AND CAST(c.ts AS TIMESTAMP)
    """, tags=("streaming", "joins"))
def q_streaming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join run for real (streaming/events.py::
    clicks_with_recent_purchase): clicks x purchases within a 1-hour
    lookback, both sides watermarked, drained availableNow into a memory
    sink. Hash-matches the batch inequality join the DuckDB oracle runs —
    on bounded input, stream-stream and batch join semantics agree."""
    # one staged file -> one micro-batch, but keep the watermark wide
    # anyway: state eviction must never race the bounded drain
    return _drain_stream(
        spark, sf_dir, "q_streaming_join_sink",
        lambda st: stream_events.clicks_with_recent_purchase(
            st, lookback_hours=1, watermark="365 days"
        ),
        output_mode="append",
    )


@query(
    "q_test_relationships",
    oracle="""
    SELECT 'orders.o_custkey -> customer.c_custkey' AS relationship,
           CAST(COUNT(*) AS BIGINT) AS violations
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey IS NULL AND o.o_custkey IS NOT NULL
    UNION ALL
    SELECT 'lineitem.l_orderkey -> orders.o_orderkey',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IS NULL AND l.l_orderkey IS NOT NULL
    UNION ALL
    SELECT 'lineitem.l_partkey -> part.p_partkey',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_partkey IS NULL AND l.l_partkey IS NOT NULL
    """,
    tags=("quality",),
)
def q_test_relationships(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt `relationships` (FK integrity) audit — the fourth member of the
    schema-test family (unique/not_null/accepted_values are ops 23-25; the
    reference never declares relationships, a gap this engine fills). LEFT
    ANTI against each parent, counts rolled into one frame; parent dims
    broadcast."""
    return quality.relationship_violation_counts(
        [
            (
                "orders.o_custkey -> customer.c_custkey",
                t(spark, sf_dir, "orders"),
                "o_custkey",
                t(spark, sf_dir, "customer"),
                "c_custkey",
            ),
            (
                "lineitem.l_orderkey -> orders.o_orderkey",
                t(spark, sf_dir, "lineitem"),
                "l_orderkey",
                t(spark, sf_dir, "orders"),
                "o_orderkey",
            ),
            (
                "lineitem.l_partkey -> part.p_partkey",
                t(spark, sf_dir, "lineitem"),
                "l_partkey",
                t(spark, sf_dir, "part"),
                "p_partkey",
            ),
        ]
    )


@query(
    "q_multimodal_resize",
    oracle="""
    SELECT doc_id AS asset_id,
           CASE CAST(doc_id % 3 AS INTEGER)
             WHEN 0 THEN 'image/png'
             WHEN 1 THEN 'audio/wav'
             ELSE 'video/mp4'
           END AS media_type,
           CAST(8 AS INTEGER) AS width,
           CAST(4 AS INTEGER) AS height,
           CAST(32 AS BIGINT) AS byte_len
    FROM documents
    """,
    tags=("multimodal",),
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing over the opaque-binary asset table (stubbed codec —
    sources/multimodal.py::resize): the oracle pins the metadata contract
    (every asset resized to the target dims with exact byte accounting);
    the Arrow batch shape is what a real PIL/ffmpeg decode would ride."""
    assets = multimodal.documents_as_assets(t(spark, sf_dir, "documents"))
    return multimodal.resize(assets, target_w=8, target_h=4).select(
        "asset_id", "media_type", "width", "height", "byte_len"
    )


@query(
    "q_multimodal_decode",
    oracle="""
    SELECT doc_id AS asset_id,
           CASE WHEN doc_id % 2 = 0 THEN 'image/bmp'
                ELSE 'image/x-portable-pixmap' END AS media_type,
           CAST(doc_id % 13 + 2 AS INTEGER) AS width,
           CAST(doc_id % 7 + 2 AS INTEGER) AS height,
           ROUND(CAST((doc_id % 256) * ((doc_id % 13 + 2) * (doc_id % 7 + 2) - 1)
                      + 255 - (doc_id % 256) AS DOUBLE)
                 / ((doc_id % 13 + 2) * (doc_id % 7 + 2)), 6) AS mean_r,
           CAST(255 - doc_id % 256 AS INTEGER) AS first_px_r,
           CAST(255 - n_chars % 256 AS INTEGER) AS first_px_g,
           CAST(255 - doc_id * 7 % 256 AS INTEGER) AS first_px_b
    FROM documents
    """,
    tags=("multimodal",),
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NON-stub decode end-to-end: deterministic real PPM/BMP payloads are
    synthesized from document columns (multimodal.documents_as_image_assets),
    then decoded by the pure-NumPy codec (sources/codecs.py) — header parse,
    BMP stride padding, bottom-up row order, BGR→RGB — and reduced to
    location- and value-sensitive stats. The oracle predicts every stat
    from the generation parameters, so any decode defect (flip, channel
    swap, stride error) breaks the hash match."""
    assets = multimodal.documents_as_image_assets(t(spark, sf_dir, "documents"))
    return multimodal.image_stats(assets)


@query(
    "q_multimodal_decode_png",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(doc_id % 11 + 2 AS INTEGER) AS width,
           CAST(doc_id % 5 + 2 AS INTEGER) AS height,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END AS INTEGER) AS n_channels,
           ROUND(CAST((doc_id % 256) * ((doc_id % 11 + 2) * (doc_id % 5 + 2) - 1)
                      + 255 - (doc_id % 256) AS DOUBLE)
                 / ((doc_id % 11 + 2) * (doc_id % 5 + 2)), 6) AS mean_r,
           CAST(255 - doc_id % 256 AS INTEGER) AS first_px_r,
           CAST(255 - n_chars % 256 AS INTEGER) AS first_px_g,
           CAST(255 - doc_id * 7 % 256 AS INTEGER) AS first_px_b,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 255
                     ELSE doc_id * 11 % 256 END AS INTEGER) AS first_px_a
    FROM documents
    """,
    tags=("multimodal",),
)
def q_multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NON-stub PNG decode end-to-end: deterministic real PNG payloads
    (multimodal.documents_as_png_assets — RGB/RGBA alternating by parity,
    scanline filter doc_id%5 so all five unfilter paths run in-pipeline)
    are decoded by the pure-stdlib zlib + NumPy codec
    (sources/codecs.py::decode_png) — chunk/CRC parse, inflate, per-filter
    reconstruction — and reduced to location- and value-sensitive stats.
    The oracle predicts every stat from the generation parameters, so any
    decode defect (filter math, row order, channel order, alpha) breaks
    the hash match."""
    assets = multimodal.documents_as_png_assets(t(spark, sf_dir, "documents"))
    return multimodal.png_stats(assets)


@query(
    "q_multimodal_decode_jpeg",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST((doc_id % 3 + 1) * 8 AS INTEGER) AS width,
           CAST((doc_id % 2 + 1) * 8 AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS n_channels,
           CAST((doc_id % 3 + 1) * (doc_id % 2 + 1) AS INTEGER) AS n_blocks,
           TRUE AS recon_ok
    FROM documents
    """,
    tags=("multimodal",),
)
def q_multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NON-stub baseline-JPEG decode end-to-end: deterministic real JFIF
    payloads (multimodal.documents_as_jpeg_assets — block-aligned
    solid-block images, quality 90) run the full pure-NumPy pipeline
    (sources/codecs.py::decode_jpeg): marker walk, file-supplied DQT/DHT
    table build, Huffman entropy decode with byte unstuffing, DC
    prediction, dequant, de-zigzag, batched IDCT, YCbCr→RGB. JPEG is
    lossy, so the driver hashes the exact structure (dims, channels,
    block count) plus the reconstruction contract (max |err| ≤ 2 vs the
    regenerated original — DC-only quantization error for solid blocks);
    any decode defect blows the bound. Codec fuzzes live in
    tests/test_multimodal.py."""
    assets = multimodal.documents_as_jpeg_assets(t(spark, sf_dir, "documents"))
    return multimodal.jpeg_stats(assets)


@query(
    "q_multimodal_video_frames",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             doc_id % 6 + 2 AS nf,
             doc_id % 7 + 2 AS w,
             doc_id % 4 + 2 AS h,
             5 + (doc_id % 3) * 5 AS fps
      FROM documents
    ),
    f AS (
      SELECT doc_id, nf, w, h, fps, unnest(range(0, nf, 2)) AS fi FROM p
    )
    SELECT doc_id AS asset_id,
           CAST(fi AS INTEGER) AS frame_idx,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(fps AS INTEGER) AS fps,
           ROUND(CAST(((doc_id + fi * 11) % 256) * (w * h - 1)
                      + 255 - (doc_id + fi * 11) % 256 AS DOUBLE)
                 / (w * h), 6) AS mean_r,
           CAST(255 - (doc_id + fi * 11) % 256 AS INTEGER) AS first_px_r,
           CAST(255 - (doc_id * 3 + fi * 17) % 256 AS INTEGER) AS first_px_g,
           CAST(255 - (doc_id * 7 + fi * 23) % 256 AS INTEGER) AS first_px_b
    FROM f
    """,
    tags=("multimodal",),
)
def q_multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NON-stub VIDEO decode + frame sampling end-to-end: deterministic
    uncompressed-DIB AVI payloads (multimodal.documents_as_avi_assets)
    parsed by the pure struct+NumPy container codec
    (sources/codecs.py::decode_avi — RIFF list walk, strf format check,
    per-frame bottom-up BGR DIB rasters), every 2nd frame sampled, each
    sampled frame reduced to location- and value-sensitive stats the
    oracle predicts from the generation parameters. Completes the real
    decode triple (image/audio/video); compressed codecs stay the
    documented ffmpeg plug point."""
    assets = multimodal.documents_as_avi_assets(t(spark, sf_dir, "documents"))
    return multimodal.video_frame_stats(assets, every_nth=2)


@query(
    "q_unigram_logprob",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKENS_SQL}) AS t FROM documents),
    freq AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
    stats AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM freq)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(-ln((c + 1.0) / ((SELECT n FROM stats) + (SELECT v FROM stats)))), 6)
             AS avg_neg_logprob
    FROM tok JOIN freq USING (t)
    GROUP BY doc_id
    """,
    tags=("text",),
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-self-trained unigram LM scoring (operators/textops.py::
    unigram_logprob): per-doc mean −ln p(token) under the add-one-smoothed
    corpus unigram distribution — the CCNet-style statistical quality
    signal. Vocabulary-sized frequency table joins on the token (never
    broadcast); corpus totals ride a 1-row broadcast."""
    return textops.unigram_logprob(t(spark, sf_dir, "documents"))


def _kmf_assign(cents_cte: str, src: str = "embeddings") -> str:
    """One Lloyd assignment as DuckDB SQL against a centroid CTE — the
    exact twin of similarity.nearest_centroid (rounded cosine, ties to the
    lowest list id). ``src`` names the vector table/CTE (queries_wave9's
    recall query runs the loop over a corpus CTE)."""
    dot_ec = _DOT_SQL.format(a="e.embedding", b="c.centroid")
    dot_ee = _DOT_SQL.format(a="e.embedding", b="e.embedding")
    dot_cc = _DOT_SQL.format(a="c.centroid", b="c.centroid")
    return f"""
      SELECT e.vec_id, c.list_id
      FROM {src} e CROSS JOIN {cents_cte} c
      QUALIFY row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY ROUND({dot_ec} / (sqrt({dot_ee}) * sqrt({dot_cc})), 6) DESC,
                 c.list_id
      ) = 1
    """


def _kmf_update(assign_cte: str, prev_cte: str, src: str = "embeddings") -> str:
    """One Lloyd mean-update as DuckDB SQL: elementwise AVG per assigned
    list, components clamped to 6 digits, empty clusters carried forward
    from the previous codebook — the twin of similarity.centroids_by plus
    kmeans_fixed_rounds' clamp/coalesce."""
    return f"""
      SELECT p.list_id, coalesce(u.centroid, p.centroid) AS centroid
      FROM {prev_cte} p LEFT JOIN (
        SELECT list_id, list(ROUND(m, 6) ORDER BY i) AS centroid FROM (
          SELECT a.list_id, i, AVG(CAST(e.embedding[i] AS DOUBLE)) AS m
          FROM {src} e
          JOIN {assign_cte} a USING (vec_id),
          UNNEST(range(1, len(e.embedding) + 1)) AS t(i)
          GROUP BY a.list_id, i
        ) GROUP BY list_id
      ) u USING (list_id)
    """


def _kmeans_converged_oracle(tol: str = "1.0e0", max_iter: int = 8) -> str:
    """Convergence-mode Lloyd's k-means as a DuckDB RECURSIVE CTE — the
    q_pagerank_converged discipline applied to the third iterative shape:
    the working table carries (list_id, centroid, delta, round); each
    recursion step is one full assign+update Lloyd round built from the
    SAME oracle-proven halves as q_kmeans_fixed (_kmf_assign/_kmf_update
    bodies inlined, since a recursive step cannot open its own CTEs), and
    the step only fires while the PREVIOUS round's total L1 centroid
    movement is ≥ tol AND the round budget remains — exactly
    kmeans_fit's stop rule (step, then break when the just-measured
    movement is below tol). The oracle derives its OWN round count from
    the data: 8 rounds at sf0.001/0.1, 7 at sf0.01 (measured margins to
    the tol boundary ≥ 0.09 — three orders above cross-engine ulp drift
    on round-6-clamped components)."""
    assign_over_r = _kmf_assign("r")
    return f"""
    WITH RECURSIVE c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY __id) - 1 AS INTEGER) AS list_id,
             list_transform(centroid, x -> ROUND(x, 6)) AS centroid
      FROM (
        SELECT CAST(embedding AS DOUBLE[]) AS centroid, MIN(vec_id) AS __id
        FROM embeddings GROUP BY 1 ORDER BY __id LIMIT 8
      )
    ),
    r(list_id, centroid, delta, i) AS (
      SELECT list_id, centroid, 1.0e9, 0 FROM c0
      UNION ALL
      SELECT u.list_id, u.centroid,
             list_sum(list_transform(range(1, len(u.centroid) + 1),
                      j -> ABS(u.centroid[j] - p2.centroid[j]))) AS delta,
             p2.i + 1
      FROM (
        SELECT p.list_id, coalesce(u2.centroid, p.centroid) AS centroid
        FROM r p LEFT JOIN (
          SELECT list_id, list(ROUND(m, 6) ORDER BY i2) AS centroid FROM (
            SELECT a.list_id, i2, AVG(CAST(e.embedding[i2] AS DOUBLE)) AS m
            FROM embeddings e
            JOIN ({assign_over_r}) a USING (vec_id),
            UNNEST(range(1, len(e.embedding) + 1)) AS t(i2)
            GROUP BY a.list_id, i2
          ) GROUP BY list_id
        ) u2 USING (list_id)
      ) u
      JOIN r p2 USING (list_id)
      WHERE (SELECT SUM(t.delta) FROM r t) >= {tol} AND p2.i < {max_iter}
    ),
    fin AS (SELECT * FROM r WHERE i = (SELECT MAX(i) FROM r)),
    af AS ({_kmf_assign("fin")})
    SELECT n.list_id, CAST(n.n_vectors AS BIGINT) AS n_vectors,
           f.centroid[1] AS centroid_0,
           CAST((SELECT MAX(i) FROM r) AS INTEGER) AS rounds,
           ((SELECT SUM(delta) FROM fin) < {tol}) AS converged
    FROM (SELECT list_id, COUNT(*) AS n_vectors FROM af GROUP BY 1) n
    JOIN fin f USING (list_id)
    """


@query("q_kmeans", oracle=_kmeans_converged_oracle(), tags=("similarity",))
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means fit TO CONVERGENCE (operators/similarity.py::
    kmeans_fit — the IVF codebook BUILD loop; assign/update halves are
    exactly oracle-verified by q_centroid_assign / q_group_centroids),
    reduced to per-cluster occupancy + first centroid component + the
    data-derived round count and stop flag. With ``clamp_digits=6`` every
    centroid interface is round-clamped (the kmeans_fixed discipline), so
    the tolerance-terminated loop itself — previously rows-only 'by
    nature' — hash-matches a recursive-CTE DuckDB twin that applies the
    same stop rule and derives the same round count from the data
    (upgraded per round-6 verdict task 4; the fixed-2-round twin
    q_kmeans_fixed stays as the pinned-round control). Raw-double
    production fits keep their quantitative invariants in
    tests/test_dedup_similarity.py."""
    from weather_api_automate_etl_spark.operators import similarity

    emb = t(spark, sf_dir, "embeddings")
    cents, rounds, converged = similarity.kmeans_fit(
        emb, k=8, max_iter=8, tol=1.0, clamp_digits=6
    )
    assigned = similarity.nearest_centroid(emb, cents)
    return (
        assigned.groupBy("list_id")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .join(cents, "list_id")
        .select(
            "list_id",
            F.col("n_vectors").cast("long").alias("n_vectors"),
            F.col("centroid")[0].alias("centroid_0"),
            F.lit(rounds).cast("int").alias("rounds"),
            F.lit(converged).alias("converged"),
        )
    )


@query(
    "q_kmeans_fixed",
    oracle=f"""
    WITH c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY __id) - 1 AS INTEGER) AS list_id,
             list_transform(centroid, x -> ROUND(x, 6)) AS centroid
      FROM (
        SELECT CAST(embedding AS DOUBLE[]) AS centroid, MIN(vec_id) AS __id
        FROM embeddings GROUP BY 1 ORDER BY __id LIMIT 8
      )
    ),
    a1 AS ({_kmf_assign("c0")}),
    c1 AS ({_kmf_update("a1", "c0")}),
    a2 AS ({_kmf_assign("c1")}),
    c2 AS ({_kmf_update("a2", "c1")}),
    a3 AS ({_kmf_assign("c2")})
    SELECT c2.list_id, coalesce(n.n_vectors, 0) AS n_vectors,
           c2.centroid[1] AS centroid_0
    FROM c2 LEFT JOIN (
      SELECT list_id, COUNT(*) AS n_vectors FROM a3 GROUP BY 1
    ) n USING (list_id)
    """,
    tags=("similarity",),
)
def q_kmeans_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic k-means twin (operators/similarity.py::
    kmeans_fixed_rounds): exactly 2 Lloyd rounds composed from the
    oracle-proven halves with round-6 centroid clamping at every
    interface, so the full iteration — init, two assign/update rounds,
    final assignment occupancy, and the resulting centroid components —
    hash-matches an independent DuckDB execution. This upgrades the
    kmeans family from rows-only (q_kmeans, tolerance-terminated) to a
    full triple-check."""
    emb = t(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_fixed_rounds(emb, k=8, rounds=2)
    occ = (
        similarity.nearest_centroid(emb, cents)
        .groupBy("list_id")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )
    return cents.join(occ, "list_id", "left").select(
        "list_id",
        F.coalesce(F.col("n_vectors"), F.lit(0)).cast("long").alias("n_vectors"),
        F.col("centroid")[0].alias("centroid_0"),
    )


@query(
    "q_dedup_incremental",
    oracle="""
    WITH known AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 250),
    b AS (
      SELECT doc_id, lang, source, n_chars, md5(text) AS h
      FROM documents WHERE doc_id >= 250
      UNION ALL
      SELECT doc_id + 10000, lang, source, n_chars, md5(text)
      FROM documents WHERE doc_id BETWEEN 100 AND 119
      UNION ALL
      SELECT doc_id + 20000, lang, source, n_chars, md5(text)
      FROM documents WHERE doc_id BETWEEN 300 AND 309
    )
    SELECT doc_id, lang, source, n_chars FROM b
    WHERE NOT EXISTS (SELECT 1 FROM known WHERE known.h = b.h)
    QUALIFY row_number() OVER (PARTITION BY h ORDER BY doc_id) = 1
    """,
    tags=("dedup",),
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup (operators/dedup.py::dedup_incremental):
    a new ingestion batch (docs ≥ 250, plus deterministic re-ingested
    copies of corpus docs 100-119 and in-batch copies of docs 300-309)
    deduped against the already-ingested corpus's content-hash table
    (docs < 250) AND within itself — the per-batch shape of a continuous
    pipeline. Copies vanish, originals survive by lowest id."""
    docs = t(spark, sf_dir, "documents")
    cols = ["doc_id", "lang", "source", "n_chars", "text"]
    batch = (
        docs.filter(F.col("doc_id") >= 250).select(cols)
        .unionByName(
            docs.filter(F.col("doc_id").between(100, 119))
            .select((F.col("doc_id") + 10000).alias("doc_id"), *cols[1:])
        )
        .unionByName(
            docs.filter(F.col("doc_id").between(300, 309))
            .select((F.col("doc_id") + 20000).alias("doc_id"), *cols[1:])
        )
    )
    known = docs.filter(F.col("doc_id") < 250).select(
        F.md5("text").alias("content_hash")
    )
    return dedup.dedup_incremental(batch, known, "doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


@query(
    "q_quality_gate",
    oracle=f"""
    WITH m AS (SELECT doc_id, trim(text) AS tt, {_TOKENS_SQL} AS w FROM documents),
    x AS (
      SELECT doc_id,
             CAST(length(tt) AS BIGINT) AS L,
             CAST(len(regexp_extract_all(tt, '[^A-Za-z0-9\\s]')) AS DOUBLE) AS P,
             CAST(len(list_filter(w, tok -> tok IN ('the','a','of','and','to','in','is'))) AS DOUBLE) AS SW,
             CAST(len(w) AS DOUBLE) AS NT,
             CASE WHEN len(w) > 0
                  THEN CAST(list_max(list_transform(list_distinct(w),
                       d -> len(list_filter(w, x -> x = d)))) AS DOUBLE) / len(w)
                  ELSE 0.0e0 END AS TF
      FROM m
    ),
    v AS (
      SELECT doc_id,
        CASE WHEN L < 200 THEN 'too_short'
             WHEN TF > 0.12e0 THEN 'repetitive'
             WHEN 0.4e0 * least(L / 500.0e0, 1.0e0)
                  + 0.3e0 * (1.0e0 - CASE WHEN L > 0 THEN P / L ELSE 0.0e0 END)
                  + 0.3e0 * (1.0e0 - abs((CASE WHEN NT > 0 THEN SW / NT ELSE 0.0e0 END) - 0.4e0))
                  < 0.7e0 THEN 'low_quality'
        END AS violation
      FROM x
    )
    SELECT doc_id, violation, violation IS NULL AS keep FROM v
    """,
    tags=("text",),
)
def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed quality filter chain (operators/textops.py::
    quality_gate): length floor → repetition ceiling → composite-quality
    floor, first failing rule attributed per doc. One zero-shuffle codegen
    projection; at sf0.01 every rule class is non-empty (148 too_short /
    17 repetitive / ~30 low_quality / rest keep), so the oracle pins the
    full decision lattice, not just the happy path."""
    return textops.quality_gate(t(spark, sf_dir, "documents"))


@query(
    "q_multimodal_decode_wav",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             1 + doc_id % 2 AS n_ch,
             doc_id % 50 + 10 AS n_frames,
             8000 + (doc_id % 3) * 4000 AS rate
      FROM documents
    ),
    s AS (
      SELECT doc_id, n_ch, n_frames, rate,
             [CAST((doc_id * 31 + k * 7) % 65536 - 32768 AS DOUBLE)
              FOR k IN range(0, n_frames * n_ch)] AS samples
      FROM p
    )
    SELECT doc_id AS asset_id,
           CAST(n_frames AS INTEGER) AS n_frames,
           CAST(n_ch AS INTEGER) AS n_channels,
           CAST(rate AS INTEGER) AS sample_rate,
           CAST(samples[1] AS INTEGER) AS first_sample,
           ROUND(list_avg(samples), 6) AS mean_sample,
           CAST(list_max(samples) AS INTEGER) AS max_sample
    FROM s
    """,
    tags=("multimodal",),
)
def q_multimodal_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NON-stub AUDIO decode end-to-end: deterministic RIFF/PCM-16 WAV
    payloads (multimodal.documents_as_wav_assets — mono/stereo alternating,
    3 sample rates, integer-deterministic samples) parsed by the pure
    struct+NumPy codec (sources/codecs.py::decode_wav — RIFF chunk walk,
    PCM frame reshape) and reduced to location- and value-sensitive
    amplitude stats the oracle predicts from the generation parameters.
    Compressed audio (MP3/AAC) stays the documented codec-library plug
    point."""
    assets = multimodal.documents_as_wav_assets(t(spark, sf_dir, "documents"))
    return multimodal.wav_stats(assets)


# ---------------------------------------------------------------------------
# LLM corpus bookkeeping: repetition filters, partial-duplication diagnosis,
# mixture tables, packing planning
# ---------------------------------------------------------------------------


@query(
    "q_repetition",
    oracle=f"""
    WITH base AS (SELECT doc_id, {_TOKENS_SQL} AS w FROM documents),
    bi AS (
      SELECT doc_id, w,
             CASE WHEN len(w) >= 2
                  THEN [array_to_string(w[i:i+1], ' ') FOR i IN range(1, len(w))]
                  ELSE CAST([] AS VARCHAR[]) END AS b
      FROM base
    )
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_words,
           CASE WHEN len(w) > 0 THEN ROUND(
             CAST(list_max(list_transform(list_distinct(w),
                  d -> len(list_filter(w, x -> x = d)))) AS DOUBLE) / len(w), 6)
           END AS top_word_frac,
           CASE WHEN len(b) > 0 THEN ROUND(
             CAST(list_max(list_transform(list_distinct(b),
                  d -> len(list_filter(b, x -> x = d)))) AS DOUBLE) / len(b), 6)
           END AS top_bigram_frac
    FROM bi
    """,
    tags=("text",),
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics (top-word / top-bigram token share) —
    zero-shuffle map-only HOF arithmetic (operators/textops.py::
    repetition_profile)."""
    return textops.repetition_profile(t(spark, sf_dir, "documents"))


@query(
    "q_dup_shingles",
    oracle=f"""
    WITH base AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(tk) >= 3
                  THEN [array_to_string(tk[i:i+2], ' ') FOR i IN range(1, len(tk) - 1)]
                  ELSE CAST([] AS VARCHAR[]) END AS shingles
      FROM base
    ),
    ex AS (
      SELECT DISTINCT doc_id, s
      FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)
    ),
    fr AS (SELECT s, COUNT(*) AS n_docs FROM ex GROUP BY s)
    SELECT ex.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           ROUND(CAST(SUM(CASE WHEN fr.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS dup_frac
    FROM ex JOIN fr USING (s) GROUP BY ex.doc_id
    """,
    tags=("dedup", "text"),
)
def q_dup_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-duplication diagnostic: per doc, the fraction of its distinct
    3-word shingles that occur in any OTHER document (catches shared
    boilerplate that whole-doc near-dup misses)."""
    return dedup.duplicated_shingle_fraction(t(spark, sf_dir, "documents"), k=3)


@query(
    "q_source_mix",
    oracle="""
    WITH agg AS (
      SELECT lang, source, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS weight
      FROM documents GROUP BY 1, 2
    )
    SELECT lang, source, n_docs, weight,
           ROUND(CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (), 6) AS doc_share,
           ROUND(CAST(weight AS DOUBLE) / SUM(weight) OVER (), 6) AS weight_share
    FROM agg
    """,
    tags=("text", "agg"),
)
def q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-mixture table: per (lang, source) doc counts, char mass and
    corpus shares — shares via window sums over the strata-sized aggregate
    (operators/corpus.py::source_mix)."""
    from weather_api_automate_etl_spark.operators import corpus

    return corpus.source_mix(t(spark, sf_dir, "documents"))


@query(
    "q_pack_estimate",
    oracle=r"""
    WITH d AS (
      SELECT source,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS t
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(t) AS BIGINT) AS total_tokens,
           CAST(ceil(CAST(SUM(t) AS DOUBLE) / 32) AS BIGINT) AS packed_seqs,
           ROUND(CAST(SUM(t) AS DOUBLE)
                 / (SUM(CAST(ceil(CAST(t AS DOUBLE) / 32) AS BIGINT))
                    * CAST(32 AS DOUBLE)), 6) AS padded_efficiency,
           CAST(SUM(CASE WHEN t > 32 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_overflow_docs
    FROM d GROUP BY source
    """,
    tags=("text", "agg"),
)
def q_pack_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing plan per source at ctx=32 BPE-ish tokens:
    concat-and-chunk lower bound, pad-per-doc efficiency, overflow count
    (operators/corpus.py::pack_estimate). One map-side-combined aggregate."""
    from weather_api_automate_etl_spark.functions.text import bpe_ish_token_count
    from weather_api_automate_etl_spark.operators import corpus

    return corpus.pack_estimate(
        t(spark, sf_dir, "documents"),
        bpe_ish_token_count("text"),
        strata=("source",),
        ctx_len=32,
    )


@query(
    "q_pack_assign",
    oracle=r"""
    WITH d AS (
      SELECT doc_id, source,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS t
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, t,
             SUM(t) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) - t AS s
      FROM d
    )
    SELECT doc_id, source,
           CAST(t AS BIGINT) AS n_tokens,
           CAST(s // 32 AS BIGINT) AS seq_id,
           CAST(s % 32 AS BIGINT) AS seq_offset
    FROM c
    """,
    tags=("text", "windows"),
)
def q_pack_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence assignment at ctx=32
    (operators/corpus.py::pack_assign): per source, docs laid head-to-tail
    in id order and cut into context windows; each doc's (seq_id, offset)
    is a pure window cumsum — one shuffle on the stratum key, the actual
    packing step a training-data loader consumes."""
    from weather_api_automate_etl_spark.functions.text import bpe_ish_token_count
    from weather_api_automate_etl_spark.operators import corpus

    return corpus.pack_assign(
        t(spark, sf_dir, "documents"),
        bpe_ish_token_count("text"),
        strata=("source",),
        ctx_len=32,
    )


@query("q_sketch_union", oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           COUNT(DISTINCT user_id % 8) AS n_shards,
           TRUE AS est_within_5pct
    FROM events GROUP BY event_type
    """, tags=("approx", "agg"))
def q_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — the 100 TB pattern for distinct counting:
    build per-shard HLL sketches (here: 8 hash shards per event_type, in a
    real deployment one sketch per partition/day stored alongside the
    data), then answer the query by UNIONING sketches instead of re-reading
    raw data. HLL union is exact over sketch registers, so the merged
    estimate equals the single-pass sketch estimate (pinned in
    tests/test_approx_bounds.py).

    Driver-hashable upgrade: shards partition users (shard = user_id % 8),
    so summing per-shard exact distincts gives the true count without a
    second corpus pass; the register-dependent estimate is hashed via its
    CONTRACT — |est/exact − 1| ≤ 0.05, the DataSketches HLL_4 lgK=12
    error bound the bounds tests pin — alongside the exact count and the
    shard fan-in."""
    ev = t(spark, sf_dir, "events")
    parts = ev.groupBy(
        "event_type", (F.col("user_id") % 8).alias("shard")
    ).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("exact_u"),
    )
    return (
        parts.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
            F.sum("exact_u").alias("exact_users"),
            F.count(F.lit(1)).alias("n_shards"),
        )
        .select(
            "event_type",
            "exact_users",
            "n_shards",
            (
                F.abs(F.col("est") / F.col("exact_users") - 1) <= 0.05
            ).alias("est_within_5pct"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus preparation round 4: PII redaction, benchmark decontamination,
# mixture rebalancing, length profiling
# ---------------------------------------------------------------------------

#: the synthetic-PII augmentation (the fixture text carries no real PII, so
#: the redaction path is exercised on deterministically generated contact
#: strings appended to each doc — same derivation in Spark and the oracle)
_PII_AUG_SQL = """
    substr(text, 1, 40)
    || ' contact user' || CAST(doc_id AS VARCHAR)
    || '@mail' || CAST(doc_id % 7 AS VARCHAR)
    || '.example.com call +1-555-'
    || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
    || '-' || lpad(CAST(doc_id * 3 % 10000 AS VARCHAR), 4, '0')
    || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR)
    || '.' || CAST(doc_id * 3 % 256 AS VARCHAR)
    || '.' || CAST(doc_id * 7 % 256 AS VARCHAR)
    || ' card 4111-1111-1111-'
    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
    || ' or 555' || lpad(CAST(doc_id * 11 % 10000000 AS VARCHAR), 7, '0')
    || ' amex 3714-496353-' || lpad(CAST(doc_id * 13 % 100000 AS VARCHAR), 5, '0')
"""


def _pii_aug_col() -> "Column":  # noqa: F821
    d = F.col("doc_id")
    return F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact user"), d.cast("string"),
        F.lit("@mail"), (d % 7).cast("string"),
        F.lit(".example.com call +1-555-"),
        F.lpad((d % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((d * 3 % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10."), (d % 256).cast("string"),
        F.lit("."), (d * 3 % 256).cast("string"),
        F.lit("."), (d * 7 % 256).cast("string"),
        F.lit(" card 4111-1111-1111-"),
        F.lpad((d % 10000).cast("string"), 4, "0"),
        # contiguous 10-digit phone + Amex 4-6-5 card: the raw forms the
        # round-4 advice flagged as unredacted
        F.lit(" or 555"),
        F.lpad((d * 11 % 10000000).cast("string"), 7, "0"),
        F.lit(" amex 3714-496353-"),
        F.lpad((d * 13 % 100000).cast("string"), 5, "0"),
    )


def _pii_rules_sql() -> tuple[str, str]:
    """(redacted_expr, count_cols) SQL mirroring operators/privacy.py —
    built from the SAME PII_RULES tuple so the twins cannot drift."""
    from weather_api_automate_etl_spark.operators.privacy import PII_RULES

    redacted = "raw"
    counts = []
    for kind, pattern, repl in PII_RULES:
        lit = pattern.replace("'", "''")
        redacted = f"regexp_replace({redacted}, '{lit}', '{repl}', 'g')"
        counts.append(
            f"CAST(len(regexp_extract_all(raw, '{lit}')) AS BIGINT) AS n_{kind}"
        )
    total = " + ".join(
        f"len(regexp_extract_all(raw, '{p.replace(chr(39), chr(39) * 2)}'))"
        for _, p, _ in PII_RULES
    )
    return redacted, ",\n           ".join(counts) + f",\n           ({total}) > 0 AS has_pii"


_PII_REDACTED_SQL, _PII_COUNTS_SQL = _pii_rules_sql()


@query(
    "q_pii_redact",
    oracle=f"""
    WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS raw FROM documents)
    SELECT doc_id,
           {_PII_REDACTED_SQL} AS redacted,
           {_PII_COUNTS_SQL}
    FROM aug
    """,
    tags=("text", "privacy"),
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + masking (operators/privacy.py): emails, card-shaped
    numbers, phone numbers, IPv4 addresses — JVM regexp expressions in one
    codegen stage, zero shuffles. The fixture text has no PII, so each doc
    is augmented with deterministically generated contact strings (same
    derivation in the oracle); the match counts and the masked text must
    agree byte-for-byte between Java regex and RE2 on the shared pattern
    subset."""
    from weather_api_automate_etl_spark.operators import privacy

    docs = t(spark, sf_dir, "documents")
    aug = docs.select("doc_id", _pii_aug_col().alias("raw"))
    return privacy.redact_pii(aug, "raw")


@query(
    "q_decontaminate",
    oracle=f"""
    WITH base AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(tk) >= 5
                  THEN [array_to_string(tk[i:i+4], ' ') FOR i IN range(1, len(tk) - 3)]
                  ELSE CAST([] AS VARCHAR[]) END AS g
      FROM base
    ),
    ex AS (
      SELECT DISTINCT doc_id, s
      FROM (SELECT doc_id, unnest(g) AS s FROM sh)
    ),
    bench AS (
      SELECT s, MIN(doc_id) AS first_bench_id FROM ex WHERE doc_id < 25 GROUP BY s
    )
    SELECT ex.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams_hit,
           MIN(first_bench_id) AS first_bench_id
    FROM ex JOIN bench USING (s)
    WHERE ex.doc_id >= 25
    GROUP BY ex.doc_id
    """,
    tags=("text", "dedup"),
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/corpus.py::decontaminate):
    training docs (doc_id ≥ 25) sharing any 5-word shingle with the
    benchmark slice (doc_id < 25; real pipelines use k≈13 — the fixture's
    tiny vocabulary needs k=5 for a non-degenerate report). The benchmark
    gram table is broadcast; the corpus side is map-side array math + one
    distinct + one equi-join."""
    from weather_api_automate_etl_spark.operators import corpus

    docs = t(spark, sf_dir, "documents")
    return corpus.decontaminate(
        docs.filter(F.col("doc_id") >= 25),
        docs.filter(F.col("doc_id") < 25),
        k=5,
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
    tags=("sampling",),
)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance the corpus toward a target source mixture
    (operators/sampling.py::rebalance_to_mixture): target share of srcK ∝
    K+1, so low-numbered sources downsample hard and high-numbered ones
    keep everything. Keep decisions are content-hash thresholds —
    replayable, engine-portable — and the rate table is a broadcast join
    of a strata-cardinality aggregate."""
    from weather_api_automate_etl_spark.operators import sampling

    docs = t(spark, sf_dir, "documents")
    shares = {f"src{k}": (k + 1) / 210.0 for k in range(20)}
    return sampling.rebalance_to_mixture(docs, "source", shares, "doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


@query(
    "q_length_hist",
    oracle="""
    WITH b AS (
      SELECT greatest(least(CAST(floor(n_chars / 50) AS INTEGER), 11), 0) AS bucket,
             COUNT(*) AS n
      FROM documents WHERE n_chars IS NOT NULL GROUP BY 1
    )
    SELECT CAST(bucket * 50 AS INTEGER) AS bin_lo,
           CASE WHEN bucket < 11 THEN CAST((bucket + 1) * 50 AS INTEGER) END AS bin_hi,
           CAST(n AS BIGINT) AS n_docs,
           ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (), 6) AS share
    FROM b
    """,
    tags=("text", "agg"),
)
def q_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram with a clamped top bucket
    (operators/corpus.py::length_histogram): fixed 50-char bins, open-ended
    last bin (bin_hi NULL) — the length-distribution profile a filtering
    config is tuned against. One aggregate; shares windowed over the
    12-row result."""
    from weather_api_automate_etl_spark.operators import corpus

    return corpus.length_histogram(
        t(spark, sf_dir, "documents"), "n_chars", bin_width=50, n_bins=12
    )


# ---------------------------------------------------------------------------
# Iterative graph dataflow — PageRank over the near-dup pair graph
# ---------------------------------------------------------------------------


@query(
    "q_pagerank",
    oracle=_MINHASH_SIG_SQL
    + """
    , pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sig a JOIN sig b
        ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    deg AS (SELECT src, COUNT(*) AS degree FROM edges GROUP BY src),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
    r0 AS (SELECT doc_id AS src, 1.0e0 / (SELECT n FROM nn) AS rank FROM documents),
    d1 AS (
      SELECT COALESCE(SUM(rank), 0.0e0) AS dm FROM r0
      WHERE src NOT IN (SELECT src FROM deg)
    ),
    c1 AS (
      SELECT e.dst, SUM(r.rank / d.degree) AS mass
      FROM edges e JOIN deg d USING (src) JOIN r0 r ON r.src = e.src
      GROUP BY e.dst
    ),
    r1 AS (
      SELECT doc_id AS src,
             (1.0e0 - 0.85e0) / (SELECT n FROM nn)
               + 0.85e0 * (COALESCE(c1.mass, 0.0e0)
                           + (SELECT dm FROM d1) / (SELECT n FROM nn)) AS rank
      FROM documents LEFT JOIN c1 ON c1.dst = documents.doc_id
    ),
    d2 AS (
      SELECT COALESCE(SUM(rank), 0.0e0) AS dm FROM r1
      WHERE src NOT IN (SELECT src FROM deg)
    ),
    c2 AS (
      SELECT e.dst, SUM(r.rank / d.degree) AS mass
      FROM edges e JOIN deg d USING (src) JOIN r1 r ON r.src = e.src
      GROUP BY e.dst
    ),
    r2 AS (
      SELECT doc_id AS src,
             (1.0e0 - 0.85e0) / (SELECT n FROM nn)
               + 0.85e0 * (COALESCE(c2.mass, 0.0e0)
                           + (SELECT dm FROM d2) / (SELECT n FROM nn)) AS rank
      FROM documents LEFT JOIN c2 ON c2.dst = documents.doc_id
    )
    SELECT src AS doc_id, ROUND(rank * (SELECT n FROM nn), 6) AS rank_n FROM r2
    """,
    tags=("dedup", "graph"),
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (2 rounds, d=0.85) over the MinHash+LSH near-dup pair graph
    (operators/graph.py::pagerank) — canonical-document scoring inside dup
    clusters. The oracle unrolls the same two power-iteration rounds as
    CTEs; ranks are N-normalized and rounded. Exercises the second
    iterative-dataflow shape (CC being the first): loop-invariant edges
    checkpointed once, one shuffle of (dst, mass) partials per round."""
    from weather_api_automate_etl_spark.operators import graph

    docs = t(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=8, band_size=2)
    pairs = dedup.minhash_candidate_pairs(sig, "doc_id")
    n = docs.count()
    ranks = graph.pagerank(docs, pairs, node_id="doc_id", iterations=2, n=n)
    return ranks.select(
        "doc_id",
        # composite non-negative score: double-product rounding to match the
        # C-engine oracle on 1e-6 ties (functions/core.py:23)
        core.round_half_up_via_double(
            F.col("rank") * F.lit(float(n)), 6
        ).alias("rank_n"),
    )


def _pagerank_converged_oracle(tolerance: str = "1.0e-6") -> str:
    """Convergence-mode PageRank as a DuckDB RECURSIVE CTE — the working
    table carries (src, rank, delta, round); each recursion step is one
    power iteration, and the step only fires while the PREVIOUS round's
    Σ|Δrank| is ≥ tolerance, which replicates operators/graph.py::pagerank's
    stop rule exactly (step, then break when the just-computed movement is
    below ε). The oracle therefore derives its OWN round count from the
    data — no unrolled fixed-round CTE, no SF-dependent constant."""
    nr = f"""(1.0e0 - 0.85e0) / (SELECT n FROM nn)
           + 0.85e0 * (COALESCE(c.mass, 0.0e0)
                       + (SELECT COALESCE(SUM({{t}}.rank), 0.0e0) FROM r {{t}}
                          WHERE {{t}}.src NOT IN (SELECT src FROM deg))
                         / (SELECT n FROM nn))"""
    return (
        _MINHASH_SIG_SQL.replace("WITH base", "WITH RECURSIVE base", 1)
        + f"""
    , pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sig a JOIN sig b
        ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    deg AS (SELECT src, COUNT(*) AS degree FROM edges GROUP BY src),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
    r(src, rank, delta, i) AS (
      SELECT doc_id, 1.0e0 / (SELECT n FROM nn), 1.0e9, 0 FROM documents
      UNION ALL
      SELECT d.doc_id,
             {nr.format(t="t2")} AS rank,
             ABS({nr.format(t="t3")} - t0.rank) AS delta,
             t0.i + 1
      FROM documents d
      JOIN r t0 ON t0.src = d.doc_id
      LEFT JOIN (
        SELECT e.dst, SUM(t1.rank / dg.degree) AS mass
        FROM edges e JOIN deg dg USING (src) JOIN r t1 ON t1.src = e.src
        GROUP BY e.dst
      ) c ON c.dst = d.doc_id
      WHERE (SELECT SUM(t4.delta) FROM r t4) >= {tolerance}
    )
    SELECT src AS doc_id, ROUND(rank * (SELECT n FROM nn), 6) AS rank_n
    FROM r WHERE i = (SELECT MAX(i) FROM r)
    """
    )


@query(
    "q_pagerank_converged",
    oracle=_pagerank_converged_oracle(),
    tags=("dedup", "graph"),
)
def q_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shaped PageRank: iterate until Σ|Δrank| < 1e-6 instead of
    a fixed round count (operators/graph.py::pagerank tolerance mode, CC's
    probe discipline — one 1-row aggregate per round, no extra join). The
    round count is data-dependent, so the oracle is a RECURSIVE CTE that
    applies the SAME stop rule and derives the same round count from the
    data (upgraded from rows-only, the round-5 advice item); the
    quantitative gates (mass conservation, probe monotone to ε, agreement
    with a long fixed run) stay in tests/test_dedup_similarity.py."""
    from weather_api_automate_etl_spark.operators import graph

    docs = t(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=8, band_size=2)
    pairs = dedup.minhash_candidate_pairs(sig, "doc_id")
    n = docs.count()
    ranks = graph.pagerank(
        docs, pairs, node_id="doc_id", tolerance=1e-6, max_iterations=60, n=n
    )
    return ranks.select(
        "doc_id",
        core.round_half_up_via_double(
            F.col("rank") * F.lit(float(n)), 6
        ).alias("rank_n"),
    )


# ---------------------------------------------------------------------------
# Lexical retrieval — BM25
# ---------------------------------------------------------------------------


@query(
    "q_bm25",
    oracle=f"""
    WITH base AS (SELECT doc_id, {_TOKENS_SQL} AS w FROM documents),
    t AS (
      SELECT doc_id, len(w) AS dl,
             CAST(len(list_filter(w, x -> x = 'spark')) AS DOUBLE) AS tf0,
             CAST(len(list_filter(w, x -> x = 'table')) AS DOUBLE) AS tf1,
             CAST(len(list_filter(w, x -> x = 'join'))  AS DOUBLE) AS tf2
      FROM base
    ),
    s AS (
      SELECT COUNT(*) AS n, AVG(dl) AS avgdl,
             SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
             SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
             SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
      FROM t
    )
    SELECT doc_id, score FROM (
      SELECT doc_id,
             ROUND(
                 ln((n - df0 + 0.5e0) / (df0 + 0.5e0) + 1.0e0) * tf0 * (1.2e0 + 1.0e0)
                   / (tf0 + 1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 * dl / avgdl))
               + ln((n - df1 + 0.5e0) / (df1 + 0.5e0) + 1.0e0) * tf1 * (1.2e0 + 1.0e0)
                   / (tf1 + 1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 * dl / avgdl))
               + ln((n - df2 + 0.5e0) / (df2 + 0.5e0) + 1.0e0) * tf2 * (1.2e0 + 1.0e0)
                   / (tf2 + 1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 * dl / avgdl))
             , 6) AS score
      FROM t, s
    ) WHERE score > 0
    """,
    tags=("text",),
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (k1=1.2, b=0.75) for the query bag
    {spark, table, join} — operators/textops.py::bm25_scores. Per-doc term
    frequencies are map-only HOF counts; corpus stats (N, avgdl, df) are a
    1-row broadcast; one shuffle total. The oracle evaluates the identical
    formula with the identical left-to-right term order."""
    return textops.bm25_scores(
        t(spark, sf_dir, "documents"), terms=["spark", "table", "join"]
    )


# ---------------------------------------------------------------------------
# Vector quantization — centroid assignment (IVF build / k-means assign step)
# ---------------------------------------------------------------------------


@query(
    "q_centroid_assign",
    oracle=f"""
    WITH pos AS (
      SELECT label AS list_id, i, AVG(CAST(embedding[i] AS DOUBLE)) AS m
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
      GROUP BY label, i
    ),
    cents AS (
      SELECT list_id, list(m ORDER BY i) AS centroid FROM pos GROUP BY list_id
    ),
    scored AS (
      SELECT e.vec_id, c.list_id,
             ROUND({_DOT_SQL.format(a="e.embedding", b="c.centroid")}
                   / (sqrt({_DOT_SQL.format(a="e.embedding", b="e.embedding")})
                      * sqrt({_DOT_SQL.format(a="c.centroid", b="c.centroid")})),
                   6) AS score
      FROM embeddings e CROSS JOIN cents c
    )
    SELECT vec_id, list_id, score FROM (
      SELECT vec_id, list_id, score,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY score DESC, list_id
             ) AS rk
      FROM scored
    ) WHERE rk = 1
    """,
    tags=("similarity",),
)
def q_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-quantization assignment (operators/similarity.py::
    nearest_centroid): per-label elementwise-mean centroids (the IVF coarse
    quantizer, centroids_by) then each vector mapped to its most
    cosine-similar centroid — broadcast nlists-sized centroid table +
    per-vector top-1 WindowGroupLimit; the corpus never self-joins."""
    emb = t(spark, sf_dir, "embeddings")
    cents = similarity.centroids_by(emb, "embedding", "label")
    return similarity.nearest_centroid(emb, cents)


# ---------------------------------------------------------------------------
# Weighted reservoir sampling + dedup survivorship
# ---------------------------------------------------------------------------


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
    tags=("sampling",),
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted reservoir (A-ES), 5 docs per language with
    inclusion probability ∝ n_chars — operators/sampling.py::
    weighted_reservoir. The oracle evaluates the identical ln(u)/w key
    from the identical md5-derived uniform."""
    from weather_api_automate_etl_spark.operators import sampling

    docs = t(spark, sf_dir, "documents")
    return sampling.weighted_reservoir(
        docs, strata_col="lang", weight_col="n_chars", key_col="doc_id", k=5
    ).select("doc_id", "lang", "n_chars")


@query(
    "q_cluster_survivors",
    oracle=_MINHASH_SIG_SQL.replace("WITH base", "WITH RECURSIVE base")
    + """
    , pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sig a JOIN sig b
        ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (
      SELECT src AS doc_id, least(src, MIN(dst)) AS comp FROM reach GROUP BY src
    ),
    cl AS (
      SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS cluster_id, d.n_chars
      FROM documents d LEFT JOIN comp c USING (doc_id)
    )
    SELECT cluster_id, doc_id AS survivor_id, n_docs FROM (
      SELECT cluster_id, doc_id,
             row_number() OVER (
               PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id
             ) AS rk,
             COUNT(*) OVER (PARTITION BY cluster_id) AS n_docs
      FROM cl
    ) WHERE rk = 1
    """,
    tags=("dedup",),
)
def q_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last mile of the dedup pipeline: LSH pairs → connected
    components → ONE survivor per cluster by keep-longest policy
    (operators/dedup.py::cluster_survivors). The oracle recomputes the
    clusters via recursive-CTE closure and applies the same argmax."""
    docs = t(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=8, band_size=2)
    pairs = dedup.minhash_candidate_pairs(sig, "doc_id")
    return dedup.cluster_survivors(docs, pairs)


# ---------------------------------------------------------------------------
# Sliding-window text chunking (embedding / RAG preprocessing)
# ---------------------------------------------------------------------------


@query(
    "q_text_chunks",
    oracle=f"""
    WITH base AS (SELECT doc_id,
                         list_filter({_TOKENS_SQL}, t -> t <> '') AS w
                  FROM documents),
    st AS (
      SELECT doc_id, w, len(w) AS n,
             CASE WHEN len(w) > 16
                  THEN CAST(ceil((len(w) - 16) / 8.0e0) AS INTEGER)
                  ELSE 0 END AS last
      FROM base
    )
    SELECT doc_id,
           CAST(i AS INTEGER) AS chunk_idx,
           array_to_string(w[i * 8 + 1 : i * 8 + 16], ' ') AS chunk_text,
           CAST(least(n - i * 8, 16) AS INTEGER) AS n_tokens
    FROM st, UNNEST(range(0, last + 1)) AS t(i)
    """,
    tags=("text",),
)
def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (16-token windows, stride 8) — the
    embedding/RAG preprocessing primitive (operators/textops.py::
    chunk_text). Map-only sequence+slice+explode; the oracle slices the
    same windows with DuckDB's inclusive list ranges."""
    return textops.chunk_text(
        t(spark, sf_dir, "documents"), chunk_tokens=16, stride=8
    )


@query(
    "q_multimodal_resize_real",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             doc_id % 13 + 2 AS w, doc_id % 7 + 2 AS h,
             doc_id % 256 AS r, n_chars % 256 AS gg, doc_id * 7 % 256 AS b
      FROM documents
    ),
    rep AS (
      -- nearest-neighbor: target column j maps to source floor(j*w/8); the
      -- inverted (0,0) source pixel is replicated into the first
      -- floor(7/w)+1 columns x floor(5/h)+1 rows of the 8x6 target
      SELECT doc_id, r, gg, b,
             (7 // w + 1) * (5 // h + 1) AS n_inv
      FROM g
    )
    SELECT doc_id AS asset_id,
           'image/x-portable-pixmap' AS media_type,
           CAST(8 AS INTEGER) AS width,
           CAST(6 AS INTEGER) AS height,
           ROUND(CAST((48 - n_inv) * r + n_inv * (255 - r) AS DOUBLE) / 48, 6)
             AS mean_r,
           CAST(255 - r AS INTEGER) AS first_px_r,
           CAST(255 - gg AS INTEGER) AS first_px_g,
           CAST(255 - b AS INTEGER) AS first_px_b
    FROM rep
    """,
    tags=("multimodal",),
)
def q_multimodal_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL non-stub multimodal round trip: synthesize real PPM/BMP →
    decode → nearest-neighbor resample to 8×6 → re-encode as PPM → decode
    AGAIN → stats. The oracle predicts the resampled channel mean from the
    nearest-neighbor index map (the inverted corner pixel replicates into
    ⌊7/w⌋+1 × ⌊5/h⌋+1 target pixels), so a resampling off-by-one or a
    re-encode defect breaks the hash."""
    assets = multimodal.documents_as_image_assets(t(spark, sf_dir, "documents"))
    resized = multimodal.resize(assets, target_w=8, target_h=6, decode_stub=False)
    return multimodal.image_stats(resized)
