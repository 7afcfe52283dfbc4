"""Round-8 thirty-seventh-wave queries: experiment
assignment integrity and forecasting feature engineering.

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.queries import query, t
from weather_api_automate_etl_spark.queries_wave34 import _ERF_P_SQL

_SRM_ORACLE = f"""
    WITH units AS (
      SELECT DISTINCT event_type AS g, user_id AS u,
             CAST(user_id % 2 AS INTEGER) AS a
      FROM events
    ),
    agg AS (
      SELECT g,
             SUM(CASE WHEN a = 0 THEN 1 ELSE 0 END) AS n0,
             SUM(CASE WHEN a = 1 THEN 1 ELSE 0 END) AS n1
      FROM units GROUP BY g
    ),
    zt AS (
      SELECT g, n0, n1,
             CAST(n0 - n1 AS DOUBLE) / sqrt(CAST(n0 + n1 AS DOUBLE)) AS z
      FROM agg
    ),
    pt AS (SELECT g, n0, n1, z, {_ERF_P_SQL} AS p FROM zt)
    SELECT g AS event_type, CAST(n0 AS BIGINT) AS n_0,
           CAST(n1 AS BIGINT) AS n_1,
           ROUND(z, 6) AS z, ROUND(p, 6) AS p,
           p < 0.001 AS srm
    FROM pt
"""


@query("q_srm_check", oracle=_SRM_ORACLE, tags=("stats", "quality"))
def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRM audit of the user_id-parity assignment within each event
    type (operators/stats.py::srm_check, threshold 0.001): users count
    ONCE per arm (distinct unit grain — event volume must not skew the
    ratio), the z statistic is exact integer arithmetic, and p uses
    the shared erf polynomial. A flagged group would invalidate every
    metric computed on that assignment."""
    from weather_api_automate_etl_spark.operators import stats

    return stats.srm_check(
        t(spark, sf_dir, "events"),
        "event_type",
        "user_id",
        F.col("user_id") % 2,
        p_threshold=0.001,
    )


_LAG_ORACLE = """
    WITH ser AS (
      SELECT event_type AS g, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS p,
             COUNT(*) AS y
      FROM events GROUP BY 1, 2
    ),
    feat AS (
      SELECT g, p, y,
             lag(y, 1) OVER (PARTITION BY g ORDER BY p) AS lag_1,
             lag(y, 7) OVER (PARTITION BY g ORDER BY p) AS lag_7,
             CASE WHEN COUNT(*) OVER (PARTITION BY g ORDER BY p
                                      ROWS BETWEEN 6 PRECEDING
                                      AND CURRENT ROW) = 7
                  THEN ROUND(CAST(SUM(y) OVER (PARTITION BY g ORDER BY p
                                               ROWS BETWEEN 6 PRECEDING
                                               AND CURRENT ROW) AS DOUBLE)
                             / 7.0, 6) END AS ma_7,
             y - lag(y, 1) OVER (PARTITION BY g ORDER BY p) AS delta_1
      FROM ser
    )
    SELECT g AS event_type, p AS day, CAST(y AS BIGINT) AS y,
           CAST(lag_1 AS BIGINT) AS lag_1, CAST(lag_7 AS BIGINT) AS lag_7,
           CAST(delta_1 AS BIGINT) AS delta_1, ma_7
    FROM feat
    WHERE lag_1 IS NOT NULL AND lag_7 IS NOT NULL AND ma_7 IS NOT NULL
          AND delta_1 IS NOT NULL
"""


@query("q_lag_features", oracle=_LAG_ORACLE, tags=("timeseries", "mlprep"))
def q_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense lag/MA/difference feature matrix over daily event volume
    (operators/timeseries.py::lag_features, lags {1,7}, 7-day trailing
    mean): each surviving row is a complete training example; the
    7-day warm-up prefix drops so no NULL reaches a fit. Exact integer
    lags and window sums; one window pass per series."""
    from weather_api_automate_etl_spark.operators import timeseries

    ev = t(spark, sf_dir, "events")
    return timeseries.lag_features(
        ev.withColumn("day", F.to_date("ts")), "event_type", "day",
        lags=(1, 7), ma_window=7,
    )
