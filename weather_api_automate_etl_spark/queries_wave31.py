"""Round-8 thirty-first-wave queries: k-group variance
analysis and seasonal forecasting.

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.queries import query, t

_ANOVA_ORACLE = """
    WITH per AS (
      SELECT l_returnflag AS g, COUNT(*) AS n,
             SUM(CAST(l_quantity AS BIGINT)) AS s,
             SUM(CAST(l_quantity AS BIGINT)
                 * CAST(l_quantity AS BIGINT)) AS q
      FROM lineitem GROUP BY 1
    ),
    packed AS (
      SELECT COUNT(*) AS k, SUM(n) AS n_tot, SUM(s) AS s_tot,
             SUM(q) AS q_tot,
             list_reduce(
               list(CAST(s * s AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY g),
               (a, b) -> a + b) AS tt
      FROM per
    ),
    assembled AS (
      SELECT k, n_tot,
             tt - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE)
                  / CAST(n_tot AS DOUBLE) AS ssb,
             CAST(q_tot AS DOUBLE) - tt AS ssw
      FROM packed
    )
    SELECT CAST(k AS INTEGER) AS k, CAST(n_tot AS BIGINT) AS n,
           ROUND(ssb, 6) AS ssb, ROUND(ssw, 6) AS ssw,
           ROUND(CASE WHEN k > 1 AND ssw > 0 AND n_tot > k
                      THEN (ssb / (k - 1)) / (ssw / (n_tot - k)) END, 6)
             AS f_stat
    FROM assembled
"""


@query("q_anova_oneway", oracle=_ANOVA_ORACLE, tags=("stats",))
def q_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA: does mean order quantity differ across return
    flags? (operators/stats.py::anova_oneway). n/Σy/Σy² per group are
    exact integers; the single cross-group float fold runs in sorted
    group order on both engines, so ssb/ssw/F hash exactly despite the
    classic S²-cancellation that breaks naive double aggregation."""
    from weather_api_automate_etl_spark.operators import stats

    return stats.anova_oneway(
        t(spark, sf_dir, "lineitem"), "l_returnflag", "l_quantity"
    )


_HW_ORACLE = """
    WITH RECURSIVE ser AS (
      SELECT event_type AS g, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    ),
    arr AS (
      SELECT g, list(y ORDER BY d) AS ys, COUNT(*) AS n
      FROM ser GROUP BY g HAVING COUNT(*) >= 14
    ),
    init AS (
      SELECT g, ys, n,
             list_reduce(ys[1:7], (a, b) -> a + b) / 7.0 AS l0,
             (list_reduce(ys[8:14], (a, b) -> a + b) / 7.0
              - list_reduce(ys[1:7], (a, b) -> a + b) / 7.0) / 7.0 AS b0,
             [x - list_reduce(ys[1:7], (a, b) -> a + b) / 7.0
              FOR x IN ys[1:7]] AS s0
      FROM arr
    ),
    step AS (
      SELECT g, ys, CAST(n AS BIGINT) AS n, CAST(8 AS BIGINT) AS i,
             l0 AS l, b0 AS b, s0 AS s
      FROM init
      UNION ALL
      SELECT g, ys, n, i + 1,
             0.5 * (ys[CAST(i AS INTEGER)] - s[1]) + 0.5 * (l + b),
             0.25 * ((0.5 * (ys[CAST(i AS INTEGER)] - s[1])
                      + 0.5 * (l + b)) - l) + 0.75 * b,
             s[2:7] || [0.25 * (ys[CAST(i AS INTEGER)]
                                - (0.5 * (ys[CAST(i AS INTEGER)] - s[1])
                                   + 0.5 * (l + b)))
                        + 0.75 * s[1]]
      FROM step WHERE i <= n
    )
    SELECT g AS event_type, n AS n_points,
           ROUND(l, 6) AS level, ROUND(b, 6) AS trend,
           ROUND(s[1], 6) AS season_next,
           ROUND(l + b + s[1], 6) AS forecast_1
    FROM step WHERE i = n + 1
"""


@query("q_holt_winters", oracle=_HW_ORACLE, tags=("timeseries",))
def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive smoothing of each event type's daily
    volume, weekly season (operators/timeseries.py::
    holt_winters_additive, α=.5 β=.25 γ=.25, m=7): textbook two-season
    init, then a 23-step fold carrying (level, trend, 7-slot seasonal
    ring). The per-series state is O(m); the oracle's recursive CTE
    carries the same ring as a LIST and reproduces every float op in
    order."""
    from weather_api_automate_etl_spark.operators import timeseries

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    return timeseries.holt_winters_additive(
        daily, "event_type", "day", "y", season=7,
        alpha=0.5, beta=0.25, gamma=0.25,
    )
