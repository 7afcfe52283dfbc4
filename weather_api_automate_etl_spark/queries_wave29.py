"""Round-8 twenty-ninth-wave queries: hybrid-retrieval
fusion and ranking evaluation.

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.queries import query, t
from weather_api_automate_etl_spark.queries_ext import _DOT_SQL, _TOKENS_SQL

_BM25_CTE = f"""
    base AS (SELECT doc_id, {_TOKENS_SQL} AS w FROM documents),
    tf AS (
      SELECT doc_id, len(w) AS dl,
             CAST(len(list_filter(w, x -> x = 'spark')) AS DOUBLE) AS tf0,
             CAST(len(list_filter(w, x -> x = 'table')) AS DOUBLE) AS tf1,
             CAST(len(list_filter(w, x -> x = 'join'))  AS DOUBLE) AS tf2
      FROM base
    ),
    cs AS (
      SELECT COUNT(*) AS n, AVG(dl) AS avgdl,
             SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
             SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
             SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
      FROM tf
    ),
    bm AS (
      SELECT doc_id,
             ROUND(
                 ln((n - df0 + 0.5e0) / (df0 + 0.5e0) + 1.0e0) * tf0 * (1.2e0 + 1.0e0)
                   / (tf0 + 1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 * dl / avgdl))
               + ln((n - df1 + 0.5e0) / (df1 + 0.5e0) + 1.0e0) * tf1 * (1.2e0 + 1.0e0)
                   / (tf1 + 1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 * dl / avgdl))
               + ln((n - df2 + 0.5e0) / (df2 + 0.5e0) + 1.0e0) * tf2 * (1.2e0 + 1.0e0)
                   / (tf2 + 1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 * dl / avgdl))
             , 6) AS score
      FROM tf, cs
    )"""

_COS_CTE = f"""
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    cos AS (
      SELECT e.vec_id AS doc_id,
             ROUND({_DOT_SQL.format(a="e.embedding", b="q.qe")}
                   / (sqrt({_DOT_SQL.format(a="e.embedding", b="e.embedding")})
                      * sqrt({_DOT_SQL.format(a="q.qe", b="q.qe")})), 6)
               AS score
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id != 0
    )"""

_RRF_ORACLE = f"""
    WITH {_BM25_CTE},
    {_COS_CTE},
    ra AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)
               AS rank_a
      FROM (SELECT doc_id, score FROM bm WHERE score > 0
            ORDER BY score DESC, doc_id LIMIT 100)
    ),
    rb AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)
               AS rank_b
      FROM (SELECT doc_id, score FROM cos
            ORDER BY score DESC, doc_id LIMIT 100)
    ),
    fused AS (
      SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
             CAST(rank_a AS INTEGER) AS rank_a,
             CAST(rank_b AS INTEGER) AS rank_b,
             ROUND(COALESCE(1.0 / (60 + rank_a), 0)
                   + COALESCE(1.0 / (60 + rank_b), 0), 6) AS rrf_score
      FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
    )
    SELECT * FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 20
"""


@query("q_rrf_fusion", oracle=_RRF_ORACLE, tags=("similarity", "text"))
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse the BM25 list for {spark, table, join}
    with the embedding-cosine list for query vec 0 via reciprocal-rank
    fusion (operators/similarity.py::rrf_fuse, k=60, shortlist=100,
    top=20). Rank-space fusion needs no score calibration between the
    incomparable BM25/cosine scales — the reason RRF is the default
    hybrid merge. Both lists are TakeOrdered shortlists; the fusion
    window touches 100 rows, never the corpus."""
    from weather_api_automate_etl_spark.operators import similarity, textops

    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    lexical = textops.bm25_scores(docs, terms=["spark", "table", "join"])
    semantic = similarity.topk_cosine(
        emb.filter(F.col("vec_id") != 0), "embedding", qv, k=100,
        id_col="vec_id",
    ).withColumnRenamed("vec_id", "doc_id")
    return similarity.rrf_fuse(
        lexical, semantic, id_col="doc_id", rrf_k=60, shortlist=100, top=20
    )


_NDCG_ORACLE = f"""
    WITH {_COS_CTE},
    rel AS (
      SELECT doc_id,
             (CASE WHEN len(list_filter(w, x -> x = 'spark')) > 0
                   THEN 1 ELSE 0 END
              + CASE WHEN len(list_filter(w, x -> x = 'table')) > 0
                     THEN 1 ELSE 0 END
              + CASE WHEN len(list_filter(w, x -> x = 'join')) > 0
                     THEN 1 ELSE 0 END) AS r
      FROM (SELECT doc_id, {_TOKENS_SQL} AS w FROM documents)
    ),
    top AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS p
      FROM (SELECT doc_id, score FROM cos
            ORDER BY score DESC, doc_id LIMIT 10)
    ),
    dcg AS (
      SELECT SUM((power(2.0, COALESCE(rel.r, 0)) - 1.0)
                 / (ln(top.p + 1.0) / ln(2.0))) AS dcg
      FROM top LEFT JOIN rel USING (doc_id)
    ),
    ideal AS (
      SELECT row_number() OVER (ORDER BY r DESC, doc_id) AS p, r
      FROM (SELECT doc_id, r FROM rel ORDER BY r DESC, doc_id LIMIT 10)
    ),
    idcg AS (
      SELECT SUM((power(2.0, r) - 1.0) / (ln(p + 1.0) / ln(2.0))) AS idcg
      FROM ideal
    )
    SELECT CAST(10 AS INTEGER) AS k, ROUND(dcg, 6) AS dcg,
           ROUND(idcg, 6) AS idcg,
           ROUND(CASE WHEN idcg > 0 THEN dcg / idcg END, 6) AS ndcg
    FROM dcg, idcg
"""


@query("q_ndcg", oracle=_NDCG_ORACLE, tags=("similarity", "text"))
def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the semantic ranking (cosine to query vec 0) against
    lexical graded relevance — rel(d) = how many of {spark, table,
    join} appear in d's text (operators/similarity.py::ndcg_at_k).
    The eval every hybrid-retrieval change gates on: if semantic search
    stops surfacing lexically relevant docs, this number drops. System
    cut and ideal cut are both TakeOrdered heads on engine-exact keys."""
    from weather_api_automate_etl_spark.operators import similarity
    from weather_api_automate_etl_spark.functions.text import tokens

    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    system = similarity.topk_cosine(
        emb.filter(F.col("vec_id") != 0), "embedding", qv, k=100,
        id_col="vec_id",
    ).withColumnRenamed("vec_id", "doc_id")
    w = tokens("text")
    has = lambda term: F.when(  # noqa: E731
        F.size(F.filter(w, lambda x: x == term)) > 0, 1
    ).otherwise(0)
    rel = docs.select(
        "doc_id",
        (has("spark") + has("table") + has("join")).alias("rel"),
    )
    return similarity.ndcg_at_k(
        system, rel, id_col="doc_id", score_col="score", rel_col="rel", k=10
    )
