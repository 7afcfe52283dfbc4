"""Round-8 twenty-eighth-wave queries: multi-touch
attribution and robust trend estimation.

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.queries import query, t

_ATTR_ORACLE = """
    WITH conv AS (
      SELECT user_id AS u, event_id AS cid, CAST(ts AS TIMESTAMP) AS cts
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT user_id AS u, event_type AS channel, CAST(ts AS TIMESTAMP) AS tts
      FROM events WHERE event_type IN ('click', 'view')
    ),
    touched AS (
      SELECT c.cid, t.channel
      FROM conv c JOIN touch t ON c.u = t.u
      WHERE t.tts < c.cts AND t.tts >= c.cts - INTERVAL 7 DAY
    ),
    per_conv AS (SELECT cid, COUNT(*) AS n_touch FROM touched GROUP BY cid),
    credited AS (
      SELECT t.channel, CAST(COUNT(*) AS BIGINT) AS n_touchpoints,
             CAST(COUNT(DISTINCT t.cid) AS BIGINT) AS n_conversions,
             ROUND(SUM(1.0 / n_touch), 6) AS credit
      FROM touched t JOIN per_conv USING (cid) GROUP BY t.channel
    ),
    direct AS (
      SELECT '(direct)' AS channel, CAST(0 AS BIGINT) AS n_touchpoints,
             CAST(COUNT(*) AS BIGINT) AS n_conversions,
             ROUND(CAST(COUNT(*) AS DOUBLE), 6) AS credit
      FROM conv WHERE cid NOT IN (SELECT cid FROM per_conv)
      HAVING COUNT(*) > 0
    )
    SELECT * FROM credited UNION ALL SELECT * FROM direct
"""


@query(
    "q_attribution_linear", oracle=_ATTR_ORACLE, tags=("analytics", "windows")
)
def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution over the events stream
    (operators/stats.py::linear_attribution): purchases split credit
    equally across the same user's click/view touches in the prior
    7 days (strictly earlier). The join is USER-keyed with a bounded
    time-range predicate — per-key fan-out is events-per-user-per-week,
    never a cross-user interval join — and the '(direct)' row keeps
    Σcredit = Σconversions auditable."""
    from weather_api_automate_etl_spark.operators import stats

    return stats.linear_attribution(
        t(spark, sf_dir, "events"),
        user_col="user_id",
        type_col="event_type",
        ts_col="ts",
        id_col="event_id",
        conversion_type="purchase",
        touch_types=("click", "view"),
        window_days=7,
    )


_TS_ORACLE = """
    WITH ser AS (
      SELECT event_type AS g,
             date_diff('day', DATE '2024-01-01',
                       CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS p,
             COUNT(*) AS y
      FROM events GROUP BY 1, 2
    ),
    slopes AS (
      SELECT a.g,
             CAST(b.y - a.y AS DOUBLE) / CAST(b.p - a.p AS DOUBLE) AS v
      FROM ser a JOIN ser b ON a.g = b.g AND a.p < b.p
    ),
    sr AS (
      SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
             COUNT(*) OVER (PARTITION BY g) AS n
      FROM slopes
    ),
    slope AS (
      SELECT g, AVG(v) AS slope FROM sr
      WHERE rn = floor((n + 1) / 2) OR rn = floor(n / 2) + 1
      GROUP BY g
    ),
    resid AS (
      SELECT ser.g, CAST(y AS DOUBLE) - slope * p AS v
      FROM ser JOIN slope ON ser.g = slope.g
    ),
    rr AS (
      SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
             COUNT(*) OVER (PARTITION BY g) AS n
      FROM resid
    ),
    icept AS (
      SELECT g, AVG(v) AS intercept FROM rr
      WHERE rn = floor((n + 1) / 2) OR rn = floor(n / 2) + 1
      GROUP BY g
    ),
    np AS (SELECT g, COUNT(*) AS n_periods FROM ser GROUP BY g)
    SELECT np.g AS event_type, CAST(n_periods AS BIGINT) AS n_periods,
           ROUND(slope, 6) AS slope, ROUND(intercept, 6) AS intercept
    FROM np JOIN slope USING (g) JOIN icept USING (g)
"""


@query("q_theil_sen", oracle=_TS_ORACLE, tags=("stats", "timeseries"))
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily event volume per event type
    (operators/stats.py::theil_sen_trend, day index = days since
    2024-01-01): median of the C(30,2) pairwise slopes, then median
    residual intercept — the line a one-day outage barely moves, where
    least squares would tilt. Both medians are exact distributed
    sort-window selections; the oracle replays rank arithmetic and tie
    handling verbatim."""
    from weather_api_automate_etl_spark.operators import stats

    ev = t(spark, sf_dir, "events")
    return stats.theil_sen_trend(
        ev,
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")),
    )
