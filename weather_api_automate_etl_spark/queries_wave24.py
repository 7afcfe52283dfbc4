"""Round-8 twenty-fourth-wave queries: paired
nonparametric testing and weighted quantiles.

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.queries import query, t

_WILCOXON_ORACLE = """
    WITH pairs AS (
      SELECT c.c_mktsegment AS seg,
             SUM(CASE WHEN year(o_orderdate) % 2 = 0 THEN 1 ELSE 0 END)
               AS x,
             SUM(CASE WHEN year(o_orderdate) % 2 = 1 THEN 1 ELSE 0 END)
               AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment, o.o_custkey
    ),
    d AS (
      SELECT seg, CAST(x - y AS DOUBLE) AS d FROM pairs WHERE x != y
    ),
    ranked AS (
      SELECT seg, d,
             rank() OVER (PARTITION BY seg ORDER BY abs(d))
               + (COUNT(*) OVER (PARTITION BY seg, abs(d)) - 1) / 2.0
               AS r,
             CAST(COUNT(*) OVER (PARTITION BY seg, abs(d)) AS DOUBLE) AS t
      FROM d
    ),
    agg AS (
      SELECT seg, CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(CASE WHEN d > 0 THEN r ELSE 0.0 END) AS w_plus,
             SUM(t * t - 1.0) AS tie
      FROM ranked GROUP BY seg
    )
    SELECT seg AS c_mktsegment, CAST(n AS BIGINT) AS n,
           ROUND(w_plus, 6) AS w_plus,
           ROUND((w_plus - n * (n + 1.0) / 4.0)
                 / (CASE WHEN n * (n + 1.0) * (2.0 * n + 1.0) / 24.0
                              - tie / 48.0 > 0
                         THEN sqrt(n * (n + 1.0) * (2.0 * n + 1.0) / 24.0
                                   - tie / 48.0) END), 6) AS z
    FROM agg
"""


@query("q_wilcoxon", oracle=_WILCOXON_ORACLE, tags=("stats",))
def q_wilcoxon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank per market segment (operators/stats.py::
    wilcoxon_signed_rank): did each customer's order count shift
    between even and odd years? Matched pairs are integer counts, so
    |d| ranks are engine-exact and the tie correction (runs of equal
    integer gaps are common) is genuinely exercised; zero differences
    drop per the standard treatment."""
    from weather_api_automate_etl_spark.operators import stats

    od = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    pairs = (
        od.join(cust, od["o_custkey"] == cust["c_custkey"])
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            F.sum(
                F.when(F.year("o_orderdate") % 2 == 0, 1).otherwise(0)
            ).alias("x"),
            F.sum(
                F.when(F.year("o_orderdate") % 2 == 1, 1).otherwise(0)
            ).alias("y"),
        )
    )
    return stats.wilcoxon_signed_rank(pairs, "c_mktsegment", "x", "y")


@query(
    "q_weighted_quantile",
    oracle="""
    WITH byval AS (
      SELECT l_returnflag AS g, l_extendedprice AS v,
             CAST(SUM(l_quantity) AS DOUBLE) AS w
      FROM lineitem GROUP BY 1, 2
    ),
    cdf AS (
      SELECT g, v,
             SUM(w) OVER (PARTITION BY g ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cw,
             SUM(w) OVER (PARTITION BY g) AS tw
      FROM byval
    )
    SELECT g AS l_returnflag, CAST(q.q AS DOUBLE) AS q,
           MIN(v) AS quantile
    FROM cdf, (SELECT unnest([0.25, 0.5, 0.75, 0.9]) AS q) q
    WHERE tw > 0 AND cw >= q.q * tw
    GROUP BY g, CAST(q.q AS DOUBLE)
    """,
    tags=("stats",),
)
def q_weighted_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted price quantiles per return flag
    (operators/stats.py::weighted_quantiles, q ∈ {.25,.5,.75,.9}): each
    line counts its quantity times — the survey/importance-weighted
    form of q_percentiles. Left-continuous inverse CDF over the
    weight-pooled distinct values: exact, interpolation-free,
    engine-stable."""
    from weather_api_automate_etl_spark.operators import stats

    return stats.weighted_quantiles(
        t(spark, sf_dir, "lineitem"),
        "l_returnflag", "l_extendedprice", "l_quantity",
        qs=(0.25, 0.5, 0.75, 0.9),
    )
