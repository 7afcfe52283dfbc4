"""Round-8 thirtieth-wave queries: ORC interchange
roundtrip and mean-reciprocal-rank retrieval evaluation.

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from weather_api_automate_etl_spark.queries import query, scratch, t
from weather_api_automate_etl_spark.queries_ext import _DOT_SQL

_ORC_ORACLE = """
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents
    WHERE n_chars >= 200
    GROUP BY lang, source
"""


@query("q_orc_roundtrip", oracle=_ORC_ORACLE, tags=("ingest", "formats"))
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC interchange roundtrip, driver-evidenced: project documents
    metadata, write ORC (sources/formats.py::write_orc, zlib), read it
    back under the explicit-schema contract (read_orc) with an
    n_chars >= 200 filter — pushed into OrcScan exactly as parquet
    filters are — and roll up per (lang, source). The oracle computes
    the identical rollup straight from the parquet source: any ORC
    writer/reader value drift (type coercion, null mangling, lost
    rows) breaks the hash."""
    from weather_api_automate_etl_spark.sources import formats

    with scratch("q_orc_roundtrip") as base:
        formats.write_orc(
            t(spark, sf_dir, "documents").select(
                "doc_id", "lang", "source", "n_chars"
            ),
            base,
        )
        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("lang", T.StringType()),
                T.StructField("source", T.StringType()),
                T.StructField("n_chars", T.LongType()),
            ]
        )
        result = (
            formats.read_orc(spark, base, schema)
            .filter(F.col("n_chars") >= 200)
            .groupBy("lang", "source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("sum_chars"),
                F.max("n_chars").alias("max_chars"),
            )
            .localCheckpoint(eager=True)
        )
    return result


_MRR_ORACLE = f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qe, label AS qlabel
      FROM embeddings WHERE vec_id IN (0, 1, 2)
    ),
    c AS (
      SELECT vec_id, embedding, label FROM embeddings
      WHERE vec_id NOT IN (0, 1, 2)
    ),
    scored AS (
      SELECT q.qid, q.qlabel, c.vec_id, c.label,
             ROUND({_DOT_SQL.format(a="c.embedding", b="q.qe")}
                   / (sqrt({_DOT_SQL.format(a="c.embedding", b="c.embedding")})
                      * sqrt({_DOT_SQL.format(a="q.qe", b="q.qe")})), 6)
               AS score
      FROM c CROSS JOIN q
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY score DESC, vec_id) AS p
      FROM scored
    ),
    hit AS (
      SELECT qid, MIN(p) AS first_rank
      FROM ranked WHERE p <= 20 AND label = qlabel
      GROUP BY qid
    )
    SELECT q.qid AS query_id,
           CAST(hit.first_rank AS INTEGER) AS first_rank,
           ROUND(COALESCE(1.0 / hit.first_rank, 0.0), 6) AS rr
    FROM (SELECT DISTINCT qid FROM q) q LEFT JOIN hit USING (qid)
"""


@query("q_mrr", oracle=_MRR_ORACLE, tags=("similarity",))
def q_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank of the first same-label neighbour in each query's
    cosine top-20 (operators/similarity.py::mrr_at_k, query vecs 0-2)
    — "how far down the list is the first right answer", the eval that
    catches a retriever whose recall@20 is fine but whose first screen
    is junk. The query set rides broadcast into ONE scored join (no
    driver loop); the per-query rank filter is a WindowGroupLimit
    top-k, not a full sort."""
    from weather_api_automate_etl_spark.operators import similarity

    return similarity.mrr_at_k(
        t(spark, sf_dir, "embeddings"),
        query_ids=(0, 1, 2),
        k=20,
    )
