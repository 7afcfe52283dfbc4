"""Round-8 thirty-fifth-wave queries: activity streaks
and statistical process control.

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.queries import query, t

_STREAK_ORACLE = """
    WITH days AS (
      SELECT DISTINCT user_id AS k,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
      FROM events
    ),
    islands AS (
      SELECT k, d,
             d - CAST(row_number() OVER (PARTITION BY k ORDER BY d)
                      AS INTEGER) AS island
      FROM days
    ),
    runs AS (
      SELECT k, island, COUNT(*) AS len, MIN(d) AS start
      FROM islands GROUP BY k, island
    ),
    best AS (
      SELECT k, len, start,
             row_number() OVER (PARTITION BY k
                                ORDER BY len DESC, start) AS rn
      FROM runs
    ),
    totals AS (SELECT k, COUNT(*) AS n_days FROM days GROUP BY k)
    SELECT t.k AS user_id, CAST(t.n_days AS BIGINT) AS n_active_days,
           CAST(b.len AS BIGINT) AS longest_streak,
           b.start AS streak_start
    FROM totals t JOIN best b ON b.k = t.k AND b.rn = 1
"""


@query("q_streaks", oracle=_STREAK_ORACLE, tags=("windows", "analytics"))
def q_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user
    (operators/windows.py::longest_streak): day − row_number labels
    islands in one expression; runs aggregate per (user, island); the
    argmax tie-breaks to the earliest start. Raw events collapse to
    distinct (user, day) first, so per-user window state is
    calendar-bounded."""
    from weather_api_automate_etl_spark.operators import windows

    return windows.longest_streak(
        t(spark, sf_dir, "events"), "user_id", F.to_date("ts")
    )


_CC_ORACLE = """
    WITH ser AS (
      SELECT event_type AS g, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS p,
             COUNT(*) AS y
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT g, COUNT(*) AS n, SUM(y) AS s, SUM(y * y) AS q
      FROM ser GROUP BY g
    ),
    lim AS (
      SELECT g,
             CAST(s AS DOUBLE) / n AS c,
             CAST(s AS DOUBLE) / n
               - 3.0 * sqrt((CAST(q AS DOUBLE)
                             - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                            / (n - 1)) AS lcl,
             CAST(s AS DOUBLE) / n
               + 3.0 * sqrt((CAST(q AS DOUBLE)
                             - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                            / (n - 1)) AS ucl
      FROM st
    )
    SELECT ser.g AS event_type, ser.p AS day, CAST(ser.y AS BIGINT) AS y,
           ROUND(lim.c, 6) AS center, ROUND(lim.lcl, 6) AS lcl,
           ROUND(lim.ucl, 6) AS ucl,
           (ser.y < lim.lcl OR ser.y > lim.ucl) AS out_of_control
    FROM ser JOIN lim ON ser.g = lim.g
"""


@query("q_control_chart", oracle=_CC_ORACLE, tags=("timeseries", "quality"))
def q_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart 3σ individuals chart of daily event volume per type
    (operators/timeseries.py::control_chart): centerline and limits
    assemble from exact integer Σy/Σy² in a single expression, so both
    engines draw identical limits and flag identical days — the
    retrospective phase-I chart (limits from the charted window,
    stated plainly in the operator docstring)."""
    from weather_api_automate_etl_spark.operators import timeseries

    ev = t(spark, sf_dir, "events")
    return timeseries.control_chart(
        ev.withColumn("day", F.to_date("ts")), "event_type", "day",
        n_sigma=3.0,
    )
