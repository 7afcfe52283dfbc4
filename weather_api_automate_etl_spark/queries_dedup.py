"""Deduplication and corpus-preparation queries: exact and keep-latest
dedup, MinHash/LSH and SimHash near-duplicate detection, n-gram and
cosine near-duplicates, duplicate clusters over the pair graph
(connected components, PageRank, k-core, clustering coefficient),
span-level and intra-document repeat removal, semantic dedup,
fuzzy and Fellegi-Sunter record linkage, and corpus splits and
orderings (train shuffle, curriculum order, holdout split, source Gini).

Registry and oracle conventions: queries.py.
"""

from __future__ import annotations

import math as _math
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from weather_api_automate_etl_spark.functions import core
from weather_api_automate_etl_spark.operators import (
    corpus,
    dedup,
    graph,
    similarity,
    stats,
    textops,
)
from weather_api_automate_etl_spark.queries import (
    _DOT_SQL,
    _MINHASH_SIG_SQL,
    _TOKENS_SQL,
    _lsh_oracle,
    query,
    t,
)


@query(
    "q_triangle_count",
    oracle=_MINHASH_SIG_SQL
    + """
    , pairs AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM sig a JOIN sig b
        ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    sym AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
    deg AS (SELECT u, count(*) AS d FROM sym GROUP BY u),
    o AS (
      SELECT s.u, s.v, dv.d AS dv
      FROM sym s JOIN deg du ON du.u = s.u JOIN deg dv ON dv.u = s.v
      WHERE (du.d < dv.d) OR (du.d = dv.d AND s.u < s.v)
    ),
    w AS (
      SELECT a.u, a.v AS x, b.v AS y
      FROM o a JOIN o b ON a.u = b.u
      WHERE (a.dv < b.dv) OR (a.dv = b.dv AND a.v < b.v)
    ),
    tri AS (
      SELECT w.u, w.x, w.y FROM w
      WHERE EXISTS (SELECT 1 FROM o WHERE o.u = w.x AND o.v = w.y)
    ),
    mem AS (
      SELECT u AS node FROM tri
      UNION ALL SELECT x FROM tri
      UNION ALL SELECT y FROM tri
    )
    SELECT node AS doc_id, CAST(count(*) AS BIGINT) AS n_triangles
    FROM mem GROUP BY node
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the MinHash+LSH near-dup pair graph
    (operators/graph.py::triangle_counts) — the local-clustering signal
    that separates tight template/boilerplate cliques (every pair
    matches every pair) from fragile chains of borderline matches before
    a dedup pass deletes a whole connected component. Degree-ordered
    edge orientation (Suri-Vassilvitskii) bounds the wedge join's
    per-apex fan-out at O(√m) — the formulation that survives power-law
    degree distributions at corpus scale. The oracle replays the exact
    orientation and wedge-closure relationally.
    """
    docs = t(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(
        docs, "doc_id", "text", num_hashes=8, band_size=2
    )
    pairs = dedup.minhash_candidate_pairs(sig, "doc_id")
    return graph.triangle_counts(pairs, node_id="doc_id")


@query(
    "q_dedup_keep_latest",
    oracle="""
    SELECT user_id, event_id AS latest_event_id,
           CAST(ts AS TIMESTAMP) AS latest_ts, event_type AS latest_type
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY CAST(ts AS TIMESTAMP) DESC,
                                            event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style compaction: keep each key's most recent record (the upsert
    materialization every incremental ingest needs). row_number DESC with a
    deterministic event_id tie-break; Catalyst turns the rn=1 filter into
    WindowGroupLimit, so each partition keeps a 1-row heap instead of fully
    sorting its group."""
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        t(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("latest_event_id"),
            F.col("ts").alias("latest_ts"),
            F.col("event_type").alias("latest_type"),
        )
    )


@query(
    "q_dedup_exact",
    oracle="""
    SELECT doc_id, lang, source, n_chars FROM documents
    QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup, deterministic keep-lowest-id survivor."""
    docs = t(spark, sf_dir, "documents")
    return dedup.dedup_exact(docs, [F.md5("text")], "doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


@query(
    "q_minhash_signature",
    oracle=_MINHASH_SIG_SQL + "SELECT doc_id, band_id, bucket FROM sig",
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


@query("q_simhash", oracle=_simhash_oracle())
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
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs, blocked by lang (inverted-
    index join — the all-pairs-free exact complement to MinHash)."""
    docs = t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", block_col="lang", threshold=0.9, shingle_k=1
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
)
def q_neardup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs blocked by label (the LSH-bucketed
    variant uses hyperplane buckets as the block instead — q_lsh_buckets)."""
    emb = t(spark, sf_dir, "embeddings")
    return dedup.embedding_neardup_pairs(
        emb, "vec_id", "embedding", block_col="label", threshold=0.35
    )


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


@query("q_neardup_lsh", oracle=_neardup_lsh_oracle())
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
)
def q_dup_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-duplication diagnostic: per doc, the fraction of its distinct
    3-word shingles that occur in any OTHER document (catches shared
    boilerplate that whole-doc near-dup misses)."""
    return dedup.duplicated_shingle_fraction(t(spark, sf_dir, "documents"), k=3)


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
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (2 rounds, d=0.85) over the MinHash+LSH near-dup pair graph
    (operators/graph.py::pagerank) — canonical-document scoring inside dup
    clusters. The oracle unrolls the same two power-iteration rounds as
    CTEs; ranks are N-normalized and rounded. Exercises the second
    iterative-dataflow shape (CC being the first): loop-invariant edges
    checkpointed once, one shuffle of (dst, mass) partials per round."""

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


_SPAN_K = 5


@query(
    "q_dup_span_removal",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_TOKENS_SQL} AS toks, len({_TOKENS_SQL}) AS n
      FROM documents
    ),
    spans AS (
      SELECT doc_id, CAST(i AS INTEGER) AS st,
             md5(array_to_string(toks[i + 1 : i + {_SPAN_K}], ' ')) AS sh
      FROM base, UNNEST(range(0, n - {_SPAN_K - 1})) AS u(i)
      WHERE n >= {_SPAN_K}
    ),
    dup AS (
      SELECT sh FROM spans GROUP BY sh HAVING count(DISTINCT doc_id) >= 2
    ),
    covered AS (
      SELECT DISTINCT s.doc_id, CAST(s.st + j AS INTEGER) AS pos
      FROM spans s JOIN dup USING (sh), UNNEST(range(0, {_SPAN_K})) AS v(j)
    ),
    words AS (
      SELECT doc_id, CAST(g.i - 1 AS INTEGER) AS pos, toks[g.i] AS w
      FROM base, UNNEST(range(1, n + 1)) AS g(i)
    ),
    kept AS (
      SELECT w.doc_id, w.pos, w.w
      FROM words w LEFT JOIN covered c
        ON w.doc_id = c.doc_id AND w.pos = c.pos
      WHERE c.doc_id IS NULL
    ),
    cleaned AS (
      SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS clean_text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id,
           COALESCE(c.clean_text, '') AS clean_text,
           CAST(b.n - COALESCE(c.n_kept, 0) AS BIGINT) AS n_removed
    FROM base b LEFT JOIN cleaned c USING (doc_id)
    """,
)
def q_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level duplicated-span removal: every 5-token span occurring
    in ≥2 distinct documents is deleted from all of them (the C4/RefinedWeb
    repeated-substring pass — operators/dedup.py::remove_duplicated_spans).
    Only span *hashes* shuffle; rebuild order comes from token positions,
    never from shuffle order."""
    return dedup.remove_duplicated_spans(
        t(spark, sf_dir, "documents"), k=_SPAN_K, min_docs=2
    )


@query(
    "q_semdedup_survivors",
    oracle=f"""
    SELECT e.vec_id, e.label FROM embeddings e
    WHERE e.vec_id NOT IN (
      SELECT id_b FROM ({_neardup_lsh_oracle()})
    )
    """,
)
def q_semdedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, end to end: hyperplane-LSH blocking → in-bucket
    cosine pairs (≥0.3) → dominated-id survivor reduction
    (operators/dedup.py::neardup_survivors — drops every id with ANY
    lower-id near-neighbor; a conservative, join-expressible superset of
    greedy SemDeDup deletion). The anti-join output is the deduplicated
    corpus a training run would actually read."""
    emb = t(spark, sf_dir, "embeddings")
    buckets = similarity.hyperplane_lsh_buckets(
        emb, "embedding", dim=64, n_planes=8
    )
    blocked = emb.join(buckets, "vec_id").select("vec_id", "embedding", "bucket")
    pairs = dedup.embedding_neardup_pairs(
        blocked, "vec_id", "embedding", block_col="bucket", threshold=0.3
    )
    return dedup.neardup_survivors(emb, pairs, "vec_id").select("vec_id", "label")


@query(
    "q_train_shuffle",
    oracle="""
    WITH k AS (
      SELECT doc_id,
             md5(concat('epoch0', ':', CAST(doc_id AS VARCHAR))) AS sort_key
      FROM documents
    ),
    s AS (
      SELECT doc_id, sort_key,
             CAST(CAST(concat('0x', substr(sort_key, 1, 8)) AS UBIGINT) % 8
                  AS INTEGER) AS shard
      FROM k
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (
             PARTITION BY shard ORDER BY sort_key, doc_id
           ) - 1 AS INTEGER) AS pos,
           sort_key
    FROM s
    """,
)
def q_train_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle: content-hash sort key + shard in
    [0,8) + within-shard position (operators/corpus.py::train_shuffle).
    Replayable across engines/partitionings — no RNG state; each shard
    sorts independently (never a single global sort)."""
    return corpus.train_shuffle(
        t(spark, sf_dir, "documents"), n_shards=8, seed="epoch0"
    )


@query(
    "q_intradoc_repeats",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_TOKENS_SQL} AS toks, len({_TOKENS_SQL}) AS n
      FROM documents
    ),
    spans AS (
      SELECT doc_id, CAST(i AS INTEGER) AS st,
             md5(array_to_string(toks[i + 1 : i + 3], ' ')) AS sh
      FROM base, UNNEST(range(0, n - 2)) AS u(i)
      WHERE n >= 3
    ),
    firsts AS (
      SELECT doc_id, sh, MIN(st) AS min_st
      FROM spans GROUP BY doc_id, sh
    ),
    repeats AS (
      SELECT s.doc_id, s.st
      FROM spans s JOIN firsts f ON s.doc_id = f.doc_id AND s.sh = f.sh
      WHERE s.st >= f.min_st + 3
    ),
    covered AS (
      SELECT DISTINCT r.doc_id, CAST(r.st + j AS INTEGER) AS pos
      FROM repeats r, UNNEST(range(0, 3)) AS v(j)
    ),
    words AS (
      SELECT doc_id, CAST(g.i - 1 AS INTEGER) AS pos, toks[g.i] AS w
      FROM base, UNNEST(range(1, n + 1)) AS g(i)
    ),
    kept AS (
      SELECT w.doc_id, w.pos, w.w
      FROM words w LEFT JOIN covered c
        ON w.doc_id = c.doc_id AND w.pos = c.pos
      WHERE c.doc_id IS NULL
    ),
    cleaned AS (
      SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS clean_text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id,
           COALESCE(c.clean_text, '') AS clean_text,
           CAST(b.n - COALESCE(c.n_kept, 0) AS BIGINT) AS n_removed
    FROM base b LEFT JOIN cleaned c USING (doc_id)
    """,
)
def q_intradoc_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repeated 3-gram removal (the Gopher-style looping/
    boilerplate cleanup — operators/dedup.py::remove_intradoc_repeats):
    occurrences ≥3 tokens after the span's first occurrence in the same
    document are deleted; the corpus-level twin is q_dup_span_removal."""
    return dedup.remove_intradoc_repeats(
        t(spark, sf_dir, "documents"), k=3
    )


@query(
    "q_curriculum_order",
    oracle="""
    WITH b AS (
      SELECT quantile_cont(n_chars, 0.25) AS b0,
             quantile_cont(n_chars, 0.50) AS b1,
             quantile_cont(n_chars, 0.75) AS b2
      FROM documents
    ),
    a AS (
      SELECT d.doc_id, d.n_chars,
             CAST((d.n_chars > b.b0)::int + (d.n_chars > b.b1)::int
                  + (d.n_chars > b.b2)::int AS INTEGER) AS bucket,
             md5(concat('cur0', ':', CAST(d.doc_id AS VARCHAR))) AS key
      FROM documents d, b
    )
    SELECT doc_id, n_chars, bucket,
           CAST(row_number() OVER (
             PARTITION BY bucket ORDER BY key, doc_id
           ) - 1 AS INTEGER) AS pos
    FROM a
    """,
)
def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering (operators/corpus.py::curriculum_order):
    4 exact length-quantile difficulty buckets + deterministic
    content-hash position within each — trainer walks buckets easy→hard.
    Boundaries are a 1-row broadcast; per-bucket sorts are independent
    (never one global sort)."""
    return corpus.curriculum_order(
        t(spark, sf_dir, "documents"),
        score_col="n_chars",
        n_buckets=4,
        seed="cur0",
    )


def _corpus_pipeline_oracle() -> str:
    """The whole pipeline as one CTE chain, each stage reusing the SQL
    already proven by its standalone query's oracle (quality gate →
    synthetic-PII augment + redact → intra-doc repeat removal → exact
    dedup → shard assignment)."""
    from weather_api_automate_etl_spark.queries import (
        _PII_AUG_SQL,
        _PII_REDACTED_SQL,
    )

    toks = "regexp_split_to_array(lower(trim(rtext)), '\\s+')"
    return f"""
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
    ),
    keepers AS (
      SELECT d.doc_id, d.text FROM documents d JOIN v USING (doc_id)
      WHERE v.violation IS NULL
    ),
    aug AS (SELECT doc_id, {_PII_AUG_SQL} AS raw FROM keepers),
    red AS (SELECT doc_id, {_PII_REDACTED_SQL} AS rtext FROM aug),
    base AS (
      SELECT doc_id, {toks} AS toks, len({toks}) AS n FROM red
    ),
    spans AS (
      SELECT doc_id, CAST(i AS INTEGER) AS st,
             md5(array_to_string(toks[i + 1 : i + 3], ' ')) AS sh
      FROM base, UNNEST(range(0, n - 2)) AS u(i)
      WHERE n >= 3
    ),
    firsts AS (
      SELECT doc_id, sh, MIN(st) AS min_st FROM spans GROUP BY doc_id, sh
    ),
    covered AS (
      SELECT DISTINCT s.doc_id, CAST(s.st + j AS INTEGER) AS pos
      FROM spans s JOIN firsts f ON s.doc_id = f.doc_id AND s.sh = f.sh,
           UNNEST(range(0, 3)) AS vj(j)
      WHERE s.st >= f.min_st + 3
    ),
    words AS (
      SELECT doc_id, CAST(g.i - 1 AS INTEGER) AS pos, toks[g.i] AS wd
      FROM base, UNNEST(range(1, n + 1)) AS g(i)
    ),
    kept AS (
      SELECT w.doc_id, w.pos, w.wd
      FROM words w LEFT JOIN covered c
        ON w.doc_id = c.doc_id AND w.pos = c.pos
      WHERE c.doc_id IS NULL
    ),
    cleaned AS (
      SELECT doc_id, string_agg(wd, ' ' ORDER BY pos) AS clean_text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    ),
    rebuilt AS (
      SELECT b.doc_id,
             COALESCE(c.clean_text, '') AS clean_text,
             CAST(b.n - COALESCE(c.n_kept, 0) AS BIGINT) AS n_removed
      FROM base b LEFT JOIN cleaned c USING (doc_id)
    ),
    surv AS (
      SELECT doc_id, clean_text, n_removed FROM (
        SELECT *, row_number() OVER (
          PARTITION BY md5(clean_text) ORDER BY doc_id
        ) AS rn FROM rebuilt
      ) WHERE rn = 1
    ),
    sharded AS (
      SELECT doc_id, clean_text, n_removed,
             md5(concat('pipe0', ':', CAST(doc_id AS VARCHAR))) AS skey,
             CAST(CAST(concat('0x', substr(
               md5(concat('pipe0', ':', CAST(doc_id AS VARCHAR))), 1, 8))
               AS UBIGINT) % 4 AS INTEGER) AS shard
      FROM surv
    )
    SELECT doc_id, clean_text, n_removed, shard,
           CAST(row_number() OVER (
             PARTITION BY shard ORDER BY skey, doc_id
           ) - 1 AS INTEGER) AS pos
    FROM sharded
    """


@query("q_corpus_pipeline", oracle=_corpus_pipeline_oracle())
def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE training-corpus pipeline as one composed DAG — what a
    user of this engine actually runs nightly: quality gate (drop
    too-short/repetitive/low-quality) → PII redaction (on the synthetic
    contact-string augmentation, so the masking path is exercised) →
    intra-doc repeated-span removal → exact dedup of the cleaned text
    (keep lowest doc_id) → deterministic 4-shard training assignment.

    Every stage is the already-oracled operator; the composition is one
    lazy plan, so Catalyst sees the whole chain (the gate's filter and
    the projections fuse into the scan side before the first shuffle).
    Shuffle census: span aggregate + cover join (doc-keyed), the rebuild
    aggregate (doc-keyed), the dedup window (hash-keyed), the per-shard
    row_number — each keyed, none corpus-quadratic, none global-sort."""
    from weather_api_automate_etl_spark.operators import privacy
    from weather_api_automate_etl_spark.queries import _pii_aug_col

    docs = t(spark, sf_dir, "documents")
    keepers = textops.quality_gate(docs, passthrough=True).filter(
        F.col("keep")
    )
    aug = keepers.select("doc_id", _pii_aug_col().alias("raw"))
    red = privacy.redact_pii(aug, "raw").select(
        "doc_id", F.col("redacted").alias("text")
    )
    rebuilt = dedup.remove_intradoc_repeats(red, k=3)
    surv = dedup.dedup_exact(
        rebuilt, keys=[F.md5("clean_text")], order_by="doc_id"
    )
    sharded = corpus.train_shuffle(
        surv, n_shards=4, seed="pipe0",
        keep_cols=["clean_text", "n_removed"],  # carried, NOT joined back:
        # a join on doc_id here would re-execute the whole upstream
        # pipeline lineage a second time (measured 4.9 s → 4.0 s at sf0.1)
    )
    return sharded.select("doc_id", "clean_text", "n_removed", "shard", "pos")


@query(
    "q_neardup_cosine_vectorized",
    oracle="""
    WITH p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_sum(list_transform(range(1, len(a.embedding) + 1),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) AS dp,
             sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)))) AS na,
             sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
               i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))) AS nb
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b FROM p WHERE ROUND(dp / (na * nb), 6) >= 0.35
    """,
)
def q_neardup_cosine_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow/NumPy twin of q_neardup_cosine: per-label buckets, one
    BLAS gemm per bucket under ``applyInPandas`` instead of per-pair HOF
    folds (operators/dedup.py::embedding_neardup_pairs_vectorized). Same
    pair set as the join path — scores are deliberately not emitted
    (NumPy pairwise summation is not bit-comparable to the sequential
    fold); parity of the SETS is pinned here and in test_mlprep."""
    return dedup.embedding_neardup_pairs_vectorized(
        t(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        block_col="label",
        threshold=0.35,
    )


@query(
    "q_holdout_split",
    oracle="""
    WITH u AS (
      SELECT doc_id, lang, source,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS UBIGINT) / 4294967296.0 AS frac
      FROM documents
    )
    SELECT doc_id, lang, source,
           CASE WHEN frac < 0.8 THEN 'train'
                WHEN frac < 0.9 THEN 'val'
                ELSE 'test' END AS split
    FROM u
    """,
)
def q_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test holdout assignment
    (operators/sampling.py::holdout_split): content-hash uniform of the
    doc id, 80/10/10. Replayable across engines and reruns — a document
    can never migrate between splits, which is what keeps eval sets
    uncontaminated across pipeline versions. Zero shuffle."""
    from weather_api_automate_etl_spark.operators import sampling

    return sampling.holdout_split(
        t(spark, sf_dir, "documents").select("doc_id", "lang", "source"),
        "doc_id",
    )


# threshold 2 on the fixture's two-word names: exact-duplicate and
# near-identical names match; the bulk of in-block pairs (d >= 3 — a
# different word) do not. d=10 would accept ~every in-block pair here.
_FUZZY_MAX_DIST = 2


@query(
    "q_fuzzy_match",
    oracle=f"""
    SELECT a.p_partkey AS p1, b.p_partkey AS p2, a.p_brand,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= {_FUZZY_MAX_DIST}
    """,
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy name matching inside brand blocks: part-name pairs within
    Levenshtein distance 2 — the entity-resolution primitive (dirty
    catalog/vendor/customer names) that exact and shingle dedup both
    miss. BLOCKED on the brand key so the quadratic pair set is per-block
    only (the LSH-bucket discipline — never all-pairs across the
    catalog; with no natural block, LSH over name shingles provides
    one). ``levenshtein`` is the JVM built-in — unit-cost edit distance,
    identical on both engines — evaluated only inside blocks."""
    return dedup.fuzzy_match_blocked(
        t(spark, sf_dir, "part"),
        "p_partkey",
        "p_brand",
        "p_name",
        max_dist=_FUZZY_MAX_DIST,
    )


@query(
    "q_gini_sources",
    oracle="""
    WITH r AS (
      SELECT source, CAST(n_chars AS DOUBLE) AS x,
             CAST(row_number() OVER (PARTITION BY source
                                     ORDER BY n_chars, doc_id) AS DOUBLE) AS i
      FROM documents
    ),
    m AS (
      SELECT source, CAST(count(*) AS DOUBLE) AS n,
             SUM(x) AS sx, SUM(i * x) AS six
      FROM r GROUP BY source
    )
    SELECT source, CAST(n AS BIGINT) AS n_rows,
           ROUND((2 * six - (n + 1) * sx) / NULLIF(n * sx, 0), 6) + 0.0 AS gini
    FROM m
    """,
)
def q_gini_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of document lengths within each source
    (operators/stats.py::gini_by_group) — the stratum-inequality screen
    that flags boilerplate-dominated or collapsed sources (a few huge
    docs carrying the stratum) before they skew a mixture. Sorted-rank
    identity, deterministic (value, id) tie-break; the rank window and
    both aggregates stay keyed on the source."""
    return stats.gini_by_group(
        t(spark, sf_dir, "documents"), "source", "n_chars", "doc_id"
    )


def _kcore_oracle(k: int = 2) -> str:
    deg_in_r = (
        "(SELECT COUNT(*) FROM edges e"
        " WHERE e.src = {n}.src AND e.dst IN (SELECT src FROM r))"
    )
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
    r(src, i) AS (
      SELECT DISTINCT src, 0 FROM edges
      UNION ALL
      SELECT n.src, n.i + 1
      FROM r n
      WHERE {deg_in_r.format(n="n")} >= {k}
        AND EXISTS (
          SELECT 1 FROM r v WHERE {deg_in_r.format(n="v")} < {k}
        )
    ),
    core AS (SELECT src FROM r WHERE i = (SELECT MAX(i) FROM r))
    SELECT c.src AS doc_id,
           CAST((SELECT COUNT(*) FROM edges e
                 WHERE e.src = c.src
                   AND e.dst IN (SELECT src FROM core)) AS BIGINT)
             AS core_degree
    FROM core c
    """
    )


@query("q_kcore", oracle=_kcore_oracle())
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the MinHash near-dup pair graph (operators/graph.py::
    k_core): synchronous peeling removes every node of remaining-degree
    < 2 per round until the fixpoint — separating dense template/
    boilerplate families (which survive) from the chains and stragglers
    LSH noise strings together (which peel away; connected components
    alone cannot tell these apart). Synchronous removal is order-
    independent, so the fixpoint is deterministic and the oracle runs the
    SAME peeling as a recursive CTE (the q_pagerank_converged discipline:
    the twin derives its own round count from the data). Sparse fixtures
    may legitimately have an empty 2-core."""

    docs = t(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=8, band_size=2)
    pairs = dedup.minhash_candidate_pairs(sig, "doc_id")
    return graph.k_core(pairs, k=2, node_id="doc_id")


#: per-field (m, u) probabilities → log2 likelihood weights, shared
#: verbatim between the Spark expression and the oracle SQL so both
#: engines sum the identical double literals
_FS_MU = {
    "c_name": (0.99, 0.0005),
    "c_mktsegment": (0.95, 0.2),
    "c_acctbal": (0.9, 0.001),
}

_FS_WEIGHTS = {
    f: (
        round(_math.log2(m / u), 6),
        round(_math.log2((1.0 - m) / (1.0 - u)), 6),
    )
    for f, (m, u) in _FS_MU.items()
}

_FS_MIN_SCORE = 0.0


def _fs_oracle() -> str:
    # e0-suffixed literals parse as DOUBLE (bare decimals become DECIMAL in
    # DuckDB, which would stringify with trailing zeros and break the hash)
    terms = " + ".join(
        f"(CASE WHEN a.{f} IS NOT DISTINCT FROM b.{f} "
        f"THEN {w_agree!r}e0 ELSE {w_dis!r}e0 END)"
        for f, (w_agree, w_dis) in _FS_WEIGHTS.items()
    )
    return f"""
    WITH a AS (SELECT * FROM customer),
    b AS (
      SELECT c_custkey + 5000000 AS cand_key,
             CASE WHEN c_custkey % 11 = 0 THEN c_name || '*' ELSE c_name END
               AS c_name,
             c_nationkey,
             CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 128.0
                  ELSE c_acctbal END AS c_acctbal,
             CASE WHEN c_custkey % 7 = 0 THEN 'PERTURBED'
                  ELSE c_mktsegment END AS c_mktsegment
      FROM customer
    )
    SELECT a.c_custkey, b.cand_key, ROUND({terms}, 6) AS score
    FROM a JOIN b
      ON a.c_nationkey = b.c_nationkey
     AND floor(a.c_acctbal / 1000) = floor(b.c_acctbal / 1000)
    WHERE ROUND({terms}, 6) >= {_FS_MIN_SCORE}
    """


@query("q_fellegi_sunter", oracle=_fs_oracle())
def q_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage (operators/dedup.py::
    fellegi_sunter_link): customers linked against a deterministically
    perturbed copy (every 11th name starred, every 5th balance shifted by
    an IEEE-exact +128, every 7th segment replaced), blocked on
    (nation, ⌊balance/1000⌋), scored by summed log2(m/u) field weights —
    a balance match outweighs a segment match 4×, which is the point of
    FS over single-distance matching. Pairs whose balance perturbation
    crosses a block boundary are missed — honest blocking recall, the
    multi-pass-blocking motivation. Weights are literals shared between
    both engines, so the sums are bit-identical."""
    from weather_api_automate_etl_spark.operators import dedup as dedup_ops

    cust = t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    b = cust.select(
        (k + 5000000).alias("cand_key"),
        F.when(k % 11 == 0, F.concat(F.col("c_name"), F.lit("*")))
        .otherwise(F.col("c_name"))
        .alias("c_name"),
        "c_nationkey",
        F.when(k % 5 == 0, F.col("c_acctbal") + F.lit(128.0))
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
        F.when(k % 7 == 0, F.lit("PERTURBED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    a = cust.withColumn("__blk", F.floor(F.col("c_acctbal") / 1000))
    bb = b.withColumn("__blk", F.floor(F.col("c_acctbal") / 1000))
    return dedup_ops.fellegi_sunter_link(
        a,
        bb,
        "c_custkey",
        "cand_key",
        block_cols=["c_nationkey", "__blk"],
        fields=[(f, w[0], w[1]) for f, w in _FS_WEIGHTS.items()],
        min_score=_FS_MIN_SCORE,
    )


_CONTAINMENT_ORACLE = f"""
    WITH dt AS (
      SELECT doc_id, lang, unnest(list_distinct({_TOKENS_SQL})) AS tok
      FROM documents
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM dt GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM dt a JOIN dt b
        ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(i / na.n, 6) AS c_ab,
           ROUND(i / nb.n, 6) AS c_ba,
           greatest(ROUND(i / na.n, 6), ROUND(i / nb.n, 6)) AS containment
    FROM inter
    JOIN sizes na ON na.doc_id = id_a
    JOIN sizes nb ON nb.doc_id = id_b
    WHERE greatest(ROUND(i / na.n, 6), ROUND(i / nb.n, 6)) >= 0.9
"""


@query("q_containment", oracle=_CONTAINMENT_ORACLE)
def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set containment pairs blocked by lang
    (operators/dedup.py::containment_pairs, threshold 0.9 on the max
    direction): Broder's asymmetric doc-inside-doc measure — a short
    document fully quoted inside a long one scores 1.0 here while its
    Jaccard (q_ngram_jaccard) is near zero. Same inverted-index join
    shape, same blocking discipline."""

    return dedup.containment_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text",
        block_col="lang", threshold=0.9, shingle_k=1,
    )


_LCC_ORACLE = _MINHASH_SIG_SQL + """
    , pairs AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM sig a JOIN sig b
        ON a.band_id = b.band_id AND a.bucket = b.bucket
           AND a.doc_id < b.doc_id
    ),
    sym AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
    deg AS (SELECT u, count(*) AS d FROM sym GROUP BY u),
    o AS (
      SELECT s.u, s.v, dv.d AS dv
      FROM sym s JOIN deg du ON du.u = s.u JOIN deg dv ON dv.u = s.v
      WHERE (du.d < dv.d) OR (du.d = dv.d AND s.u < s.v)
    ),
    w AS (
      SELECT a.u, a.v AS x, b.v AS y
      FROM o a JOIN o b ON a.u = b.u
      WHERE (a.dv < b.dv) OR (a.dv = b.dv AND a.v < b.v)
    ),
    tri AS (
      SELECT w.u, w.x, w.y FROM w
      WHERE EXISTS (SELECT 1 FROM o WHERE o.u = w.x AND o.v = w.y)
    ),
    mem AS (
      SELECT u AS node FROM tri
      UNION ALL SELECT x FROM tri
      UNION ALL SELECT y FROM tri
    ),
    tc AS (SELECT node, count(*) AS n_triangles FROM mem GROUP BY node)
    SELECT deg.u AS doc_id, CAST(deg.d AS BIGINT) AS degree,
           CAST(COALESCE(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
           ROUND(2.0 * COALESCE(tc.n_triangles, 0)
                 / (deg.d * (deg.d - 1)), 6) AS lcc
    FROM deg LEFT JOIN tc ON tc.node = deg.u
    WHERE deg.d >= 2
"""


@query("q_clustering_coeff", oracle=_LCC_ORACLE)
def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node of the MinHash+LSH near-dup
    pair graph (operators/graph.py::local_clustering): 2·tri/(deg·(deg−1))
    for every degree-≥2 node. lcc=1 marks clique-dense template families
    (collapse-safe), lcc→0 marks chain bridges (the docs that make
    connected-component dedup over-delete) — the decision statistic
    q_triangle_count's raw counts feed. The oracle replays the
    degree-ordered orientation and wedge closure, then joins degrees
    back for the ratio."""

    docs = t(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(
        docs, "doc_id", "text", num_hashes=8, band_size=2
    )
    pairs = dedup.minhash_candidate_pairs(sig, "doc_id")
    return graph.local_clustering(pairs, node_id="doc_id")


_RECALL_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, lower(trim(text)) AS txt, {_TOKENS_SQL} AS tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(tk) >= 3
                  THEN [array_to_string(tk[i:i+2], ' ')
                        FOR i IN range(1, len(tk) - 1)]
                  ELSE [txt] END AS shingles
      FROM base
    ),
    tr AS (
      SELECT doc_id, unnest(list_distinct(shingles)) AS s FROM sh
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM tr GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM tr a JOIN tr b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes na ON na.doc_id = id_a
      JOIN sizes nb ON nb.doc_id = id_b
      WHERE ROUND(i / (na.n + nb.n - i), 6) >= 0.5
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
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sig a JOIN sig b
        ON a.band_id = b.band_id AND a.bucket = b.bucket
           AND a.doc_id < b.doc_id
    ),
    tagged AS (
      SELECT COALESCE(t.id_a, c.id_a) AS id_a,
             COALESCE(t.id_b, c.id_b) AS id_b,
             t.id_a IS NOT NULL AS is_true,
             c.id_a IS NOT NULL AS is_cand
      FROM truth t
      FULL OUTER JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b
    )
    SELECT CAST(0.5 AS DOUBLE) AS threshold,
           CAST(SUM(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true,
           CAST(SUM(CASE WHEN is_cand THEN 1 ELSE 0 END) AS BIGINT)
             AS n_candidates,
           CAST(SUM(CASE WHEN is_true AND is_cand THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           ROUND(SUM(CASE WHEN is_true AND is_cand THEN 1 ELSE 0 END)
                 / NULLIF(CAST(SUM(CASE WHEN is_true THEN 1 ELSE 0 END)
                               AS DOUBLE), 0), 6) AS recall,
           ROUND(SUM(CASE WHEN is_true AND is_cand THEN 1 ELSE 0 END)
                 / NULLIF(CAST(SUM(CASE WHEN is_cand THEN 1 ELSE 0 END)
                               AS DOUBLE), 0), 6) AS precision
    FROM tagged
"""


@query("q_lsh_recall", oracle=_RECALL_ORACLE)
def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding recall audit (operators/dedup.py::lsh_recall_audit,
    8 hashes × 4 bands vs exact trigram Jaccard ≥ 0.5): the truth side
    is an inverted-index join on the shingle (never all-pairs), the
    candidate side is the production banded bucket join, and one
    full-outer join on the pair key classifies hits, misses, and
    false candidates with exact counts."""

    return dedup.lsh_recall_audit(
        t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        num_hashes=8,
        band_size=2,
        shingle_k=3,
        threshold=0.5,
    )


_DUP_ORACLE = """
    WITH base AS (
      SELECT doc_id, source, md5(text) AS h FROM documents
    ),
    g AS (
      SELECT h, COUNT(*) AS n, MIN(doc_id) AS keep
      FROM base GROUP BY h
    ),
    tagged AS (
      SELECT source,
             CASE WHEN n > 1 THEN 1 ELSE 0 END AS dup,
             CASE WHEN n > 1 AND doc_id != keep THEN 1 ELSE 0 END AS drp
      FROM base JOIN g USING (h)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dup) AS BIGINT) AS n_in_dup_groups,
           CAST(SUM(drp) AS BIGINT) AS n_would_drop,
           ROUND(SUM(dup) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate,
           ROUND(SUM(drp) / CAST(COUNT(*) AS DOUBLE), 6) AS drop_rate
    FROM tagged GROUP BY source
"""


@query("q_dup_rate_by_source", oracle=_DUP_ORACLE)
def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-dup rates (operators/corpus.py::
    dup_rate_by_source): one md5-keyed group aggregate, one
    co-partitioned join-back, one source rollup — same shuffle class
    as dedup_exact; cross-source copies count against every holder."""

    return corpus.dup_rate_by_source(
        t(spark, sf_dir, "documents"), "doc_id", "text", "source"
    )
