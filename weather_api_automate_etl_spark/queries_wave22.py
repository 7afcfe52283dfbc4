"""Round-8 twenty-second-wave queries: runtime
partition pruning and format-layer error routing, driver-evidenced.

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from weather_api_automate_etl_spark.queries import query, scratch, t


@query(
    "q_dynamic_partition_pruning",
    oracle="""
    WITH dim AS (
      SELECT 1995 + r_regionkey AS o_year, r_name FROM region
      WHERE r_name IN ('ASIA', 'EUROPE')
    )
    SELECT d.o_year, d.r_name,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders o
    JOIN dim d ON year(o.o_orderdate) = d.o_year
    GROUP BY d.o_year, d.r_name
    """,
    tags=("joins", "storage"),
)
def q_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning end-to-end: orders land as a
    year-partitioned parquet fact, the region table plays an INDEPENDENT
    year dimension (o_year = 1995 + regionkey — its name filter cannot
    be folded into a static partition predicate), and the star join
    prunes the fact scan at runtime through Catalyst's broadcast-
    subquery DPP filter. tests/test_wave22.py pins the mechanism —
    ``dynamicpruningexpression`` inside the scan's PartitionFilters,
    fed by a ``SubqueryBroadcast`` of the dim — plus answer-equality
    with the unpartitioned join; the oracle pins the answer. At 100 TB
    this is the difference between scanning two partitions and scanning
    seven years of fact data."""
    with scratch("q_dpp") as base:
        t(spark, sf_dir, "orders").withColumn(
            "o_year", F.year("o_orderdate")
        ).write.partitionBy("o_year").mode("overwrite").parquet(base)
        fact = spark.read.parquet(base)
        dim = (
            t(spark, sf_dir, "region")
            .select(
                (F.lit(1995) + F.col("r_regionkey")).alias("o_year"),
                "r_name",
            )
            .filter(F.col("r_name").isin("ASIA", "EUROPE"))
        )
        result = (
            fact.join(dim, "o_year")
            .groupBy("o_year", "r_name")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            )
            .localCheckpoint(eager=True)
        )
    return result


_CSV_ORACLE = """
    WITH lines AS (
      SELECT doc_id, lang, n_chars,
             doc_id % 7 = 0 AS corrupt
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_good,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lines WHERE corrupt)
             AS n_bad
    FROM lines WHERE NOT corrupt
    GROUP BY lang
"""


@query("q_csv_error_routing", oracle=_CSV_ORACLE, tags=("ingest", "quality"))
def q_csv_error_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-layer bad-record routing, driver-evidenced: a CSV landing
    file is constructed from the documents table with every
    doc_id % 7 == 0 row corrupted (a non-numeric value in a LONG
    column), read back through the PERMISSIVE corrupt-record
    side-channel (sources/formats.py::read_csv — the reference's
    skip-and-log ingestion contract, dags/weatherstack_full_pipeline.py:
    72-77, at the format layer), and reduced to per-language good
    aggregates with the routed bad-row count riding every row. Both
    sides predict the split from the corruption pattern; a parser that
    silently coerces or silently drops breaks the match."""
    from weather_api_automate_etl_spark.sources import formats

    with scratch("q_csv_route") as base:
        (
            t(spark, sf_dir, "documents")
            .select(
                F.concat_ws(
                    ",",
                    F.col("doc_id"),
                    F.col("lang"),
                    F.when(F.col("doc_id") % 7 == 0, F.lit("not_a_number"))
                    .otherwise(F.col("n_chars").cast("string")),
                ).alias("value")
            )
            .write.mode("overwrite").text(base)
        )
        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("lang", T.StringType()),
                T.StructField("n_chars", T.LongType()),
            ]
        )
        good, bad = formats.read_csv(spark, base, schema, header=False)
        n_bad = bad.count()
        result = (
            good.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_good"),
                F.sum("n_chars").alias("sum_chars"),
            )
            .withColumn("n_bad", F.lit(n_bad).cast("long"))
            .localCheckpoint(eager=True)
        )
    return result
