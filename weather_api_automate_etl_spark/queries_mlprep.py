"""Round-5 training-data-pipeline queries: corpus-level span dedup,
TF-IDF keywords, token entropy, semantic-dedup survivors, deterministic
training shuffle, embedding int8 quantization / standardization, and the
bucketed on-disk IVF index (the partition-pruned scale path the in-memory
``q_ann_ivf`` docstring promises).

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.operators import (
    corpus,
    dedup,
    embeddings as emb_ops,
    similarity,
    textops,
)
from weather_api_automate_etl_spark.queries import query, scratch, t
from weather_api_automate_etl_spark.queries_ext import (
    _ann_ivf_oracle,
    _neardup_lsh_oracle,
    _TOKENS_SQL,
)

# ---------------------------------------------------------------------------
# corpus-level duplicated-span removal (C4/RefinedWeb substring dedup)
# ---------------------------------------------------------------------------

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
    tags=("dedup", "text"),
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


# ---------------------------------------------------------------------------
# TF-IDF keywords + token entropy
# ---------------------------------------------------------------------------


@query(
    "q_tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, term, tf,
             round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
      FROM tf JOIN dfq USING (term), n
    )
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, tfidf, rk
    FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term
      ) AS INTEGER) AS rk FROM scored
    ) WHERE rk <= 3
    """,
    tags=("text",),
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smooth idf) — keyword extraction
    over the whole corpus. Vocabulary-sized df table joined on the term
    key (the unigram_logprob discipline — never broadcast a
    corpus-dependent table), per-doc top-k via WindowGroupLimit."""
    return textops.tfidf_top_terms(t(spark, sf_dir, "documents"), k=3)


@query(
    "q_token_entropy",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents
    ),
    c AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct,
           round(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c), 6) AS entropy
    FROM c GROUP BY doc_id
    """,
    tags=("text",),
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution — the
    diversity/repetition quality signal (H = ln n − Σ c·ln c / n)."""
    return textops.token_entropy(t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# semantic dedup survivors (SemDeDup reduction over LSH-blocked cosine)
# ---------------------------------------------------------------------------


@query(
    "q_semdedup_survivors",
    oracle=f"""
    SELECT e.vec_id, e.label FROM embeddings e
    WHERE e.vec_id NOT IN (
      SELECT id_b FROM ({_neardup_lsh_oracle()})
    )
    """,
    tags=("dedup", "similarity"),
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


# ---------------------------------------------------------------------------
# deterministic training shuffle / sharding
# ---------------------------------------------------------------------------


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
    tags=("corpus",),
)
def q_train_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle: content-hash sort key + shard in
    [0,8) + within-shard position (operators/corpus.py::train_shuffle).
    Replayable across engines/partitionings — no RNG state; each shard
    sorts independently (never a single global sort)."""
    return corpus.train_shuffle(
        t(spark, sf_dir, "documents"), n_shards=8, seed="epoch0"
    )


# ---------------------------------------------------------------------------
# embedding int8 quantization + per-dimension standardization
# ---------------------------------------------------------------------------


@query(
    "q_embedding_quantize",
    oracle="""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, e,
             list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
      FROM v
    ),
    q AS (
      SELECT vec_id, e, scale,
             CASE WHEN scale > 0 THEN list_transform(
               e, x -> CAST(greatest(-127, least(127, floor(x / scale + 0.5)))
                            AS INTEGER))
             ELSE list_transform(e, x -> 0) END AS qc
      FROM s
    )
    SELECT vec_id,
           floor(scale * 1e9 + 0.5) / 1e9 AS scale,
           floor(list_sum(list_transform(range(1, len(e) + 1),
                 i -> pow(e[i] - qc[i] * scale, 2))) / len(e) * 1e9 + 0.5)
             / 1e9 AS mse,
           CAST(len(list_filter(qc, x -> x != 0)) AS INTEGER) AS nnz,
           qc[1] AS q0, qc[2] AS q1, qc[3] AS q2, qc[4] AS q3
    FROM q
    """,
    tags=("similarity", "corpus"),
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization + reconstruction MSE
    (operators/embeddings.py::quantize_int8) — the storage/ANN compression
    step, with the quality signal a pipeline monitors before switching
    search to the quantized codes. The quantize rounding is
    floor(x/scale + 0.5) on both engines (no round() tie ambiguity)."""
    from weather_api_automate_etl_spark.functions.core import (
        round_half_up_via_double,
    )

    qz = emb_ops.quantize_int8(t(spark, sf_dir, "embeddings"), "vec_id", "embedding")
    return qz.select(
        "vec_id",
        round_half_up_via_double(F.col("scale"), 9).alias("scale"),
        round_half_up_via_double(F.col("mse"), 9).alias("mse"),
        F.size(F.filter(F.col("q"), lambda x: x != 0)).alias("nnz"),
        F.element_at("q", 1).alias("q0"),
        F.element_at("q", 2).alias("q1"),
        F.element_at("q", 3).alias("q2"),
        F.element_at("q", 4).alias("q3"),
    )


@query(
    "q_embedding_standardize",
    oracle="""
    WITH x AS (
      SELECT vec_id, CAST(i AS INTEGER) AS pos,
             CAST(embedding[i + 1] AS DOUBLE) AS val
      FROM embeddings, UNNEST(range(0, len(embedding))) AS u(i)
    ),
    st AS (
      SELECT pos, AVG(val) AS mu, stddev_pop(val) AS sigma
      FROM x GROUP BY pos
    ),
    z AS (
      SELECT vec_id, pos,
             CASE WHEN sigma > 0 THEN round((val - mu) / sigma, 6)
                  ELSE 0.0 END AS z
      FROM x JOIN st USING (pos)
    ),
    zv AS(SELECT vec_id, list(z ORDER BY pos) AS z_vec FROM z GROUP BY vec_id)
    SELECT vec_id,
           z_vec[1] AS z0, z_vec[2] AS z1, z_vec[3] AS z2, z_vec[4] AS z3,
           round(list_sum(list_transform(z_vec, x -> x * x)), 6) AS z_norm2
    FROM zv
    """,
    tags=("similarity", "corpus"),
)
def q_embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus z-scoring (operators/embeddings.py::
    standardize_dims) — feature normalization before k-means / linear
    probes. The dim-row stats table broadcasts; per-dim means are
    aggregation-order-sensitive in the last ulp, so components compare
    rounded (the IVF-probe convention). Output is scalarized (first four
    components + the squared norm of the rounded z-vector) — the driver
    canonicalizer rejects complex-typed columns (r3 lesson)."""
    std = emb_ops.standardize_dims(
        t(spark, sf_dir, "embeddings"), "vec_id", "embedding"
    )
    zr = F.transform(F.col("z_vec"), lambda x: F.round(x, 6))
    return std.select("vec_id", zr.alias("__z")).select(
        "vec_id",
        F.element_at("__z", 1).alias("z0"),
        F.element_at("__z", 2).alias("z1"),
        F.element_at("__z", 3).alias("z2"),
        F.element_at("__z", 4).alias("z3"),
        F.round(
            F.aggregate(F.col("__z"), F.lit(0.0), lambda a, x: a + x * x), 6
        ).alias("z_norm2"),
    )


# ---------------------------------------------------------------------------
# bucketed on-disk IVF index (partition-pruned ANN)
# ---------------------------------------------------------------------------


@query("q_ann_ivf_bucketed", oracle=_ann_ivf_oracle(), tags=("similarity",))
def q_ann_ivf_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ON-DISK twin of q_ann_ivf: build a bucketed IVF index (rows
    partitioned by inverted list, centroids alongside —
    operators/similarity.py::build_ivf_index), then probe it. The probe's
    IN-list filter on the partition column is partition *pruning* — the
    scan plans nprobe directories, not the corpus (pinned by
    tests/test_mlprep.py). Same lists, same ranking, same answer as the
    in-memory path, so it shares q_ann_ivf's oracle."""
    emb = t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    corp = emb.filter(F.col("vec_id") != 0)
    with scratch("ivf_index") as path:
        similarity.build_ivf_index(corp, path, "embedding", "label")
        result = similarity.ivf_topk_from_index(
            spark, path, qvec, list_col="label", k=10, nprobe=3
        ).localCheckpoint(eager=True)
    return result


# ---------------------------------------------------------------------------
# intra-document repeated-span removal (Gopher-style within-doc cleanup)
# ---------------------------------------------------------------------------


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
    tags=("dedup", "text"),
)
def q_intradoc_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repeated 3-gram removal (the Gopher-style looping/
    boilerplate cleanup — operators/dedup.py::remove_intradoc_repeats):
    occurrences ≥3 tokens after the span's first occurrence in the same
    document are deleted; the corpus-level twin is q_dup_span_removal."""
    return dedup.remove_intradoc_repeats(
        t(spark, sf_dir, "documents"), k=3
    )


# ---------------------------------------------------------------------------
# curriculum ordering (quantile difficulty buckets, deterministic walk)
# ---------------------------------------------------------------------------


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
    tags=("corpus",),
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


# ---------------------------------------------------------------------------
# the full corpus pipeline, composed end-to-end
# ---------------------------------------------------------------------------


def _corpus_pipeline_oracle() -> str:
    """The whole pipeline as one CTE chain, each stage reusing the SQL
    already proven by its standalone query's oracle (quality gate →
    synthetic-PII augment + redact → intra-doc repeat removal → exact
    dedup → shard assignment)."""
    from weather_api_automate_etl_spark.queries_ext import (
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


@query("q_corpus_pipeline", oracle=_corpus_pipeline_oracle(), tags=("corpus", "text", "dedup"))
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
    from weather_api_automate_etl_spark.queries_ext import _pii_aug_col

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


# ---------------------------------------------------------------------------
# vectorized (Arrow gemm) twin of the bucketed cosine pair search
# ---------------------------------------------------------------------------


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
    tags=("dedup", "similarity"),
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


# ---------------------------------------------------------------------------
# streaming twin of the stateless corpus-cleaning stage
# ---------------------------------------------------------------------------

_DOCS_STREAM_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


@query(
    "q_streaming_corpus_clean",
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
    ),
    keepers AS (
      SELECT d.doc_id, d.text, d.lang FROM documents d JOIN v USING (doc_id)
      WHERE v.violation IS NULL
    ),
    base AS (
      SELECT doc_id, lang, lower(trim(text)) AS txt, {_TOKENS_SQL} AS tk
      FROM keepers
    ),
    sh AS (
      SELECT doc_id, lang, txt,
             CASE WHEN len(tk) >= 4
                  THEN [array_to_string(tk[i:i+3], ' ') FOR i IN range(1, len(tk) - 2)]
                  ELSE NULL END AS shingles
      FROM base
    )
    SELECT doc_id, lang,
           COALESCE(list_aggregate(list_transform(shingles, s -> md5(s)), 'min'),
                    md5(txt)) AS fingerprint
    FROM sh
    """,
    tags=("streaming", "text"),
)
def q_streaming_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of the stateless corpus-cleaning stage: documents
    arrive as a file stream (landing zone), pass the quality gate
    (passthrough filter), and emit (doc_id, lang, fingerprint) — the
    dedup-ready stream a continuous ingestion pipeline hands to
    dedup_incremental. Every transform is a stateless projection, so the
    stream needs no watermark and the batch oracle is exact (same rows,
    any trigger). Drained availableNow into a memory sink, like every
    q_streaming_* twin."""
    from weather_api_automate_etl_spark.functions.text import (
        document_fingerprint,
    )
    from weather_api_automate_etl_spark.queries_ext import _drain_stream

    def build(stream: DataFrame) -> DataFrame:
        return (
            textops.quality_gate(stream, passthrough=True)
            .filter(F.col("keep"))
            .select(
                "doc_id",
                "lang",
                document_fingerprint("text", 4).alias("fingerprint"),
            )
        )

    return _drain_stream(
        spark,
        sf_dir,
        "q_streaming_corpus_clean",
        build,
        table="documents",
        schema=_DOCS_STREAM_SCHEMA,
        output_mode="append",
    )


# ---------------------------------------------------------------------------
# deterministic holdout split (train/val/test)
# ---------------------------------------------------------------------------


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
    tags=("corpus", "sampling"),
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


# Literal per-SF lookup oracle for the zlib path. DuckDB ships no
# deflate, and the corpus text differs per SF, so the ONLY hashable
# oracle is a precomputed lookup: the decile histogram of level-6
# ratios, computed ENGINE-INDEPENDENTLY (pyarrow + stdlib zlib —
# tools/gen_compression_oracle.py) for each testdata SF and keyed by
# the corpus's total char count (doc count doesn't discriminate
# sf0.001 from sf0.01 — both 500 docs). Pins: the fixture text AND the
# container's zlib build; regenerate with the tool if either changes
# (madler level-6 deflate has been byte-stable for decades, and
# check_oracle fails loudly on drift).
_COMPRESSION_ORACLE = """
    SELECT ratio_bucket, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(sum_raw_bytes AS BIGINT) AS sum_raw_bytes
    FROM (
    SELECT * FROM (VALUES (0.3e0, 1, 519), (0.4e0, 252, 107817), (0.5e0, 112, 28183), (0.6e0, 58, 9531), (0.7e0, 34, 3964), (0.8e0, 22, 1825), (0.9e0, 11, 756), (1.0e0, 9, 514), (1.1e0, 1, 47))
      t(ratio_bucket, n_docs, sum_raw_bytes)
    WHERE (SELECT SUM(length(text)) FROM documents) = 153156
    UNION ALL
    SELECT * FROM (VALUES (0.3e0, 2, 1050), (0.4e0, 227, 96569), (0.5e0, 131, 33711), (0.6e0, 69, 11083), (0.7e0, 38, 4353), (0.8e0, 16, 1367), (0.9e0, 13, 822), (1.0e0, 4, 219))
      t(ratio_bucket, n_docs, sum_raw_bytes)
    WHERE (SELECT SUM(length(text)) FROM documents) = 149174
    UNION ALL
    SELECT * FROM (VALUES (0.3e0, 10, 5428), (0.4e0, 2282, 978153), (0.5e0, 1270, 323556), (0.6e0, 644, 104724), (0.7e0, 387, 43875), (0.8e0, 203, 17092), (0.9e0, 141, 9242), (1.0e0, 62, 3458), (1.1e0, 1, 48))
      t(ratio_bucket, n_docs, sum_raw_bytes)
    WHERE (SELECT SUM(length(text)) FROM documents) = 1485576
    )
"""


@query("q_compression_ratio", oracle=_COMPRESSION_ORACLE, tags=("text", "quality"))
def q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression-ratio quality signal (operators/textops.py::
    compression_ratio) over the real corpus, hashed as the decile-bucket
    HISTOGRAM (bucket, n_docs, sum_raw_bytes) against a precomputed
    engine-independent lookup oracle (see _COMPRESSION_ORACLE /
    tools/gen_compression_oracle.py) — the upgrade that retired the
    registry's last no_oracle entries (round-8 verdict item 3). Any
    defect anywhere in the path — utf-8 byte handling, deflate call,
    ratio math, bucket rule — moves a doc between deciles and breaks the
    hash. Per-doc invariants (bounds, monotonicity, cross-level bucket
    stability, regime anchors) stay pinned in tests/test_mlprep.py.
    (The constructed-payload twin q_compression_fixed covered this
    operator rounds 7-9; displaced in round 10 — queries.py::DISPLACED.)"""
    per_doc = textops.compression_ratio(t(spark, sf_dir, "documents"))
    return (
        per_doc.filter(F.col("ratio").isNotNull())
        .groupBy("ratio_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("raw_bytes").cast("long").alias("sum_raw_bytes"),
        )
    )


# ---------------------------------------------------------------------------
# feature-hashing vectorizer (the text→vector bridge, no vocabulary)
# ---------------------------------------------------------------------------


@query(
    "q_hashing_vectorizer",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents
    ),
    b AS (
      SELECT doc_id,
             CAST(CAST(concat('0x', substr(md5(term), 1, 8)) AS UBIGINT) % 16
                  AS INTEGER) AS feature
      FROM tok WHERE term != ''
    )
    SELECT doc_id, feature, CAST(count(*) AS BIGINT) AS tf
    FROM b GROUP BY doc_id, feature
    """,
    tags=("text", "similarity"),
)
def q_hashing_vectorizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing TF vectors (operators/textops.py::
    hashing_vectorizer, dim=16) exploded to sparse long form
    (doc, feature, tf) — the vocabulary-free text→vector bridge into the
    similarity/ANN family; the driver compares the nonzero coordinates
    exactly."""
    vec = textops.hashing_vectorizer(t(spark, sf_dir, "documents"), dim=16)
    return (
        vec.select(
            "doc_id", F.posexplode("tf_vec").alias("feature", "tf")
        )
        .filter(F.col("tf") > 0)
        .select("doc_id", "feature", F.col("tf").cast("long").alias("tf"))
    )


# ---------------------------------------------------------------------------
# two-pass Misra-Gries heavy hitters (bounded-state candidates, exact output)
# ---------------------------------------------------------------------------


@query(
    "q_heavy_hitters",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_TOKENS_SQL}) AS term FROM documents
    ),
    t2 AS (SELECT term FROM tok WHERE term != ''),
    n AS (SELECT count(*) AS n_total FROM t2)
    SELECT term, CAST(count(*) AS BIGINT) AS cnt,
           CAST(n.n_total AS BIGINT) AS n_total
    FROM t2, n
    GROUP BY term, n.n_total
    HAVING count(*) > n.n_total / 100.0
    """,
    tags=("text", "approx"),
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters (tokens with frequency > N/100) via the
    two-pass Misra-Gries recipe (operators/textops.py::heavy_hitters):
    bounded m-entry candidate summaries per partition (mergeable-sketch
    state — never a full vocabulary), then an exact count of candidates
    only. The OUTPUT is exact — the sketch's superset guarantee makes
    the second pass recover precisely the SQL HAVING answer, which is
    why this approximate-family query carries a full oracle."""
    return textops.heavy_hitters(t(spark, sf_dir, "documents"), m=100)


# ---------------------------------------------------------------------------
# PMI co-occurrence pairs (collocation mining)
# ---------------------------------------------------------------------------


@query(
    "q_pmi_pairs",
    oracle=f"""
    WITH base AS (
      SELECT list_filter({_TOKENS_SQL}, t -> t != '') AS ts FROM documents
    ),
    pairs AS (
      SELECT p.a AS a, p.b AS b
      FROM base,
           UNNEST(flatten([[{{'a': ts[i], 'b': ts[j]}}
                            FOR j IN range(i + 1, least(i + 2, len(ts)) + 1)]
                           FOR i IN range(1, len(ts))])) AS u(p)
    ),
    co AS (SELECT a, b, count(*) AS c_ab FROM pairs GROUP BY a, b),
    lm AS (SELECT a, count(*) AS c_a FROM pairs GROUP BY a),
    rm AS (SELECT b, count(*) AS c_b FROM pairs GROUP BY b),
    n AS (SELECT count(*) AS n_slots FROM pairs)
    SELECT co.a, co.b, CAST(co.c_ab AS BIGINT) AS c_ab,
           round(ln(CAST(n.n_slots AS DOUBLE) * co.c_ab
                    / (CAST(lm.c_a AS DOUBLE) * rm.c_b)), 6) AS pmi
    FROM co JOIN lm USING (a) JOIN rm USING (b), n
    WHERE co.c_ab >= 5
    """,
    tags=("text",),
)
def q_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocations over ±2-token co-occurrence (operators/
    textops.py::pmi_pairs, min_count=5): map-only HOF pair generation
    (no position self-join), vocabulary-keyed marginal joins (never
    broadcast), 1-row slot-total broadcast."""
    return textops.pmi_pairs(
        t(spark, sf_dir, "documents"), window=2, min_count=5
    )
