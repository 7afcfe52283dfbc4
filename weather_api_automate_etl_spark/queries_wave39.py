"""Round-8 thirty-ninth-wave queries: bounded feature
scaling and deterministic category codes.

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.queries import query, t

_MINMAX_ORACLE = """
    WITH rng AS (
      SELECT l_returnflag AS g, MIN(l_extendedprice) AS lo,
             MAX(l_extendedprice) AS hi
      FROM lineitem GROUP BY 1
    ),
    scaled AS (
      SELECT l.l_returnflag AS g,
             CASE WHEN rng.hi > rng.lo
                  THEN ROUND((l.l_extendedprice - rng.lo)
                             / (rng.hi - rng.lo), 6) END AS x
      FROM lineitem l LEFT JOIN rng
        ON l.l_returnflag IS NOT DISTINCT FROM rng.g
    )
    SELECT g AS l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(x), 6) AS min_scaled, ROUND(MAX(x), 6) AS max_scaled,
           ROUND(CAST(SUM(CAST(ROUND(x * 1000000, 0) AS BIGINT)) AS DOUBLE)
                 / 1000000.0 / COUNT(x), 6) AS mean_scaled
    FROM scaled GROUP BY g
"""


@query("q_minmax_scale", oracle=_MINMAX_ORACLE, tags=("mlprep",))
def q_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max scale extended price within each return flag
    (operators/sampling.py::minmax_scale), then pin the scaled
    distribution per group: min 0, max 1, and the mean — which moves
    if the range join or the rounding drifts. The mean is an EXACT
    integer micro-unit sum (round(x,6)·1e6 as BIGINT) divided once at
    the end — summation order cannot flip a decimal on any engine or
    scale, the anova_oneway discipline. Two group-keyed shuffles,
    O(groups) range table."""
    from weather_api_automate_etl_spark.operators import sampling

    scaled = sampling.minmax_scale(
        t(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice",
        out_col="x",
    )
    micro = F.round(F.col("x") * 1_000_000, 0).cast("long")
    return scaled.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.min("x"), 6).alias("min_scaled"),
        F.round(F.max("x"), 6).alias("max_scaled"),
        F.round(
            F.sum(micro).cast("double") / 1_000_000.0 / F.count("x"), 6
        ).alias("mean_scaled"),
    )


_ORD_ORACLE = """
    WITH counts AS (
      SELECT o_orderpriority AS c, COUNT(*) AS n
      FROM orders WHERE o_orderpriority IS NOT NULL GROUP BY 1
    ),
    codes AS (
      SELECT c, CAST(dense_rank() OVER (ORDER BY n DESC, c) AS INTEGER)
               AS code
      FROM counts
    )
    SELECT codes.c AS o_orderpriority, codes.code,
           CAST(counts.n AS BIGINT) AS n_orders
    FROM codes JOIN counts USING (c)
"""


@query("q_ordinal_encode", oracle=_ORD_ORACLE, tags=("mlprep",))
def q_ordinal_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ordinal encoding of order priority
    (operators/sampling.py::ordinal_encode): the code table itself is
    the contract — dense ranks by descending count with lexicographic
    tie-breaks, so code 1 is the modal priority on every engine and
    every run. The window runs over the O(|vocab|) count table, not
    the data."""
    from weather_api_automate_etl_spark.operators import sampling

    od = t(spark, sf_dir, "orders")
    encoded = sampling.ordinal_encode(
        od, "o_orderpriority", out_col="code"
    )
    return encoded.groupBy("o_orderpriority", "code").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
