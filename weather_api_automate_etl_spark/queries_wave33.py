"""Round-8 thirty-third-wave queries: tree-split
search and forecast backtesting.

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.queries import query, t

_STUMP_ORACLE = """
    WITH per AS (
      SELECT l_returnflag AS g, l_discount AS x, COUNT(*) AS n,
             SUM(CAST(l_quantity AS BIGINT)) AS s
      FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
      SELECT g, x,
             SUM(n) OVER (PARTITION BY g ORDER BY x
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS nl,
             SUM(s) OVER (PARTITION BY g ORDER BY x
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS sl,
             SUM(n) OVER (PARTITION BY g) AS nt,
             SUM(s) OVER (PARTITION BY g) AS st,
             MAX(x) OVER (PARTITION BY g) AS xmax
      FROM per
    ),
    scored AS (
      SELECT g, x, nl, sl, nt - nl AS nr, st - sl AS sr,
             CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE)
             + CAST(st - sl AS DOUBLE) * CAST(st - sl AS DOUBLE)
               / CAST(nt - nl AS DOUBLE) AS gain
      FROM cum WHERE x != xmax
    ),
    picked AS (
      SELECT *, row_number() OVER (PARTITION BY g
                                   ORDER BY gain DESC, x) AS rn
      FROM scored
    )
    SELECT g AS l_returnflag, x AS split_x,
           CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
           ROUND(CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE), 6) AS mean_left,
           ROUND(CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE), 6) AS mean_right,
           ROUND(gain, 6) AS gain
    FROM picked WHERE rn = 1
"""


@query("q_decision_stump", oracle=_STUMP_ORACLE, tags=("stats", "mlprep"))
def q_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best quantity-vs-discount split per return flag (operators/
    stats.py::decision_stump): the one-feature CART search. Candidates
    collapse to the 11 distinct discount values per group; gains are
    single float expressions over exact cumulative integer sums
    (S_L²/n_L + S_R²/n_R — SSE-equivalent without the cancelling Σy²),
    argmax tie-broken on the threshold. Window cardinality = distinct
    feature values, never raw rows."""
    from weather_api_automate_etl_spark.operators import stats

    return stats.decision_stump(
        t(spark, sf_dir, "lineitem"), "l_returnflag", "l_discount",
        "l_quantity",
    )


_BACKTEST_ORACLE = """
    WITH ser AS (
      SELECT event_type AS g, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS p,
             COUNT(*) AS y
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT g, p, y,
             lag(y, 7) OVER (PARTITION BY g ORDER BY p) AS ys,
             lag(y, 1) OVER (PARTITION BY g ORDER BY p) AS y1,
             row_number() OVER (PARTITION BY g ORDER BY p) AS rn,
             COUNT(*) OVER (PARTITION BY g) AS n
      FROM ser
    ),
    agg AS (
      SELECT g, COUNT(*) AS n_test,
             SUM(abs(y - ys)) AS es, SUM(abs(y - y1)) AS e1
      FROM lagged
      WHERE rn > n - 5 AND ys IS NOT NULL AND y1 IS NOT NULL
      GROUP BY g HAVING COUNT(*) = 5
    )
    SELECT g AS event_type, CAST(n_test AS BIGINT) AS n_test,
           ROUND(CAST(es AS DOUBLE) / n_test, 6) AS mae_seasonal,
           ROUND(CAST(e1 AS DOUBLE) / n_test, 6) AS mae_naive,
           ROUND(CASE WHEN e1 > 0
                      THEN (CAST(es AS DOUBLE) / n_test)
                           / (CAST(e1 AS DOUBLE) / n_test) END, 6) AS skill
    FROM agg
"""


@query("q_backtest_naive", oracle=_BACKTEST_ORACLE, tags=("timeseries",))
def q_backtest_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest over the last 5 days of each event
    type's daily volume (operators/timeseries.py::
    backtest_seasonal_naive, m=7): seasonal-naive MAE vs last-value
    MAE, skill < 1 ⇔ weekly seasonality carries real signal — the
    go/no-go gate before trusting q_holt_winters' seasonal state.
    Integer counts ⇒ exact errors; two lag windows, zero self-joins."""
    from weather_api_automate_etl_spark.operators import timeseries

    ev = t(spark, sf_dir, "events")
    return timeseries.backtest_seasonal_naive(
        ev.withColumn("day", F.to_date("ts")), "event_type", "day",
        season=7, horizon=5,
    )
