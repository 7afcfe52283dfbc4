"""Round-8 twenty-seventh-wave queries: closed-form
multi-feature ridge regression and nonparametric trend detection.

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from weather_api_automate_etl_spark.queries import query, t

_RIDGE_ORACLE = """
    WITH m AS (
      SELECT l_returnflag AS g, COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(19,6))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(l_discount AS DECIMAL(19,6))) AS DOUBLE) AS s2,
             CAST(SUM(CAST(l_quantity AS DECIMAL(19,6))
                      * CAST(l_quantity AS DECIMAL(19,6))) AS DOUBLE) AS s11,
             CAST(SUM(CAST(l_quantity AS DECIMAL(19,6))
                      * CAST(l_discount AS DECIMAL(19,6))) AS DOUBLE) AS s12,
             CAST(SUM(CAST(l_discount AS DECIMAL(19,6))
                      * CAST(l_discount AS DECIMAL(19,6))) AS DOUBLE) AS s22,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE)
               AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(19,6))
                      * CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE)
               AS s1y,
             CAST(SUM(CAST(l_discount AS DECIMAL(19,6))
                      * CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE)
               AS s2y
      FROM lineitem GROUP BY l_returnflag
    ),
    solved AS (
      SELECT g, n,
             CAST(n AS DOUBLE) * ((s11 + 10.0) * (s22 + 10.0) - s12 * s12)
               - s1 * (s1 * (s22 + 10.0) - s12 * s2)
               + s2 * (s1 * s12 - (s11 + 10.0) * s2) AS det,
             sy * ((s11 + 10.0) * (s22 + 10.0) - s12 * s12)
               - s1 * (s1y * (s22 + 10.0) - s12 * s2y)
               + s2 * (s1y * s12 - (s11 + 10.0) * s2y) AS det0,
             CAST(n AS DOUBLE) * (s1y * (s22 + 10.0) - s12 * s2y)
               - sy * (s1 * (s22 + 10.0) - s12 * s2)
               + s2 * (s1 * s2y - s1y * s2) AS det1,
             CAST(n AS DOUBLE) * ((s11 + 10.0) * s2y - s1y * s12)
               - s1 * (s1 * s2y - s1y * s2)
               + sy * (s1 * s12 - (s11 + 10.0) * s2) AS det2
      FROM m
    )
    SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n_rows,
           ROUND(det0 / det, 6) AS b0,
           ROUND(det1 / det, 6) AS b1,
           ROUND(det2 / det, 6) AS b2
    FROM solved
"""


@query("q_ridge_normal_eq", oracle=_RIDGE_ORACLE, tags=("stats", "mlprep"))
def q_ridge_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge fit of extendedprice ~ quantity + discount per return flag
    (operators/stats.py::ridge_regression_2f, λ=10, intercept
    unpenalized): one map-side-combined aggregate builds the 3×3 Gram
    in exact decimal arithmetic, Cramer's rule solves it — no driver
    linear algebra, no iteration. The oracle replays the identical
    decimal sums and double Cramer expansion term for term."""
    from weather_api_automate_etl_spark.operators import stats

    return stats.ridge_regression_2f(
        t(spark, sf_dir, "lineitem"),
        "l_returnflag",
        "l_extendedprice",
        "l_quantity",
        "l_discount",
        lam=10.0,
    )


_MK_ORACLE = """
    WITH ser AS (
      SELECT event_type AS g, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS p,
             COUNT(*) AS y
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT a.g, CAST(SUM(sign(b.y - a.y)) AS BIGINT) AS s
      FROM ser a JOIN ser b ON a.g = b.g AND a.p < b.p
      GROUP BY a.g
    ),
    n AS (SELECT g, COUNT(*) AS n FROM ser GROUP BY g),
    ties AS (
      SELECT g, SUM(t * (t - 1) * (2 * t + 5)) AS tie
      FROM (SELECT g, y, COUNT(*) AS t FROM ser GROUP BY g, y)
      WHERE t > 1 GROUP BY g
    ),
    stat AS (
      SELECT n.g, n.n, s.s,
             (CAST(n.n AS DOUBLE) * (n.n - 1) * (2 * n.n + 5)
              - COALESCE(ties.tie, 0)) / 18.0 AS var_s
      FROM n JOIN s USING (g) LEFT JOIN ties USING (g)
    )
    SELECT g AS event_type, CAST(n AS BIGINT) AS n_periods, s,
           ROUND(var_s, 6) AS var_s,
           ROUND(CASE WHEN s = 0 THEN 0.0
                      ELSE (s - sign(CAST(s AS DOUBLE))) / sqrt(var_s) END, 6)
             AS z
    FROM stat
"""


@query("q_mann_kendall", oracle=_MK_ORACLE, tags=("stats", "timeseries"))
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on daily event counts per event type
    (operators/stats.py::mann_kendall_trend): S sums pairwise order
    signs over the 30-day series, Var(S) carries the tie correction
    (integer counts collide often — the correction genuinely moves z),
    and the continuity-corrected z flags monotonic drift. The pairwise
    join is quadratic ONLY in periods per group (calendar-bounded),
    after a (group, day) pre-aggregate collapses raw events."""
    from weather_api_automate_etl_spark.operators import stats

    from pyspark.sql import functions as F

    ev = t(spark, sf_dir, "events")
    return stats.mann_kendall_trend(
        ev.withColumn("day", F.to_date("ts")), "event_type", "day"
    )
