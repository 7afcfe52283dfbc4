"""Window-function queries: ntile, top-n per group, cumulative
distributions, ratio to total, z-scores, event and session windows,
ranks, moving averages, cumulative distinct counts, path n-grams,
streaks, interval coalescing, rolling and sticky actives, and new
versus returning users.

Registry and oracle conventions: queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from weather_api_automate_etl_spark.operators import timeseries, windows
from weather_api_automate_etl_spark.queries import query, t


@query(
    "q_ntile_bucket",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority, o_totalprice,
             CAST(ntile(10) OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey)
                  AS INTEGER) AS bucket
      FROM orders
    )
    SELECT o_orderpriority, bucket, CAST(count(*) AS BIGINT) AS n,
           ROUND(min(o_totalprice), 2) AS lo, ROUND(max(o_totalprice), 2) AS hi
    FROM b GROUP BY o_orderpriority, bucket
    """,
)
def q_ntile_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH decile binning per order priority (q_histogram is the
    equi-WIDTH sibling): ntile(10) over a deterministic (price, key)
    order, then per-bucket count and price range — the bucket-boundary
    table quantile-based stratification samples against. One window
    shuffle on the partition key (per-priority sorts run independently)
    folded into the same-keyed aggregate. ntile's remainder rule
    (first ``n % 10`` buckets take the extra row) is identical on both
    engines.
    """
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return (
        t(spark, sf_dir, "orders")
        .select(
            "o_orderpriority",
            "o_totalprice",
            F.ntile(10).over(w).cast("int").alias("bucket"),
        )
        .groupBy("o_orderpriority", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@query(
    "q_topn_per_group",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           CAST(row_number() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER)
             AS rk
    FROM orders
    QUALIFY rk <= 3
    """,
)
def q_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price within each priority class. row_number (not
    rank) + a deterministic tie-break; Catalyst pushes the rk<=3 filter
    into the Window via WindowGroupLimit, so each partition keeps only a
    3-row heap instead of fully sorting."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        t(spark, sf_dir, "orders")
        .select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


@query(
    "q_window_distribution",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           CAST(ntile(4) OVER w AS INTEGER) AS price_quartile,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           ROUND(cume_dist() OVER w, 6) AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution analytics per priority class: quartile assignment,
    percentile rank, cumulative distribution. One shuffle on the partition
    key serves all three (same window spec, deterministic tie-break)."""
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("price_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@query(
    "q_ratio_to_total",
    oracle="""
    WITH r AS (
      SELECT o_orderpriority, SUM(o_totalprice) AS rev
      FROM orders GROUP BY 1
    )
    SELECT o_orderpriority,
           ROUND(rev, 2) AS revenue,
           ROUND(rev / SUM(rev) OVER (), 6) AS share,
           ROUND(SUM(rev) OVER (ORDER BY rev DESC, o_orderpriority
                                ROWS UNBOUNDED PRECEDING)
                 / SUM(rev) OVER (), 6) AS cum_share
    FROM r
    """,
)
def q_ratio_to_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total and running (Pareto) share per priority class —
    ratio_to_report re-expressed as a window-over-aggregate. The windows run
    over the tiny post-aggregate (one row per priority), so the single-
    partition global frame is harmless at any scale."""
    rev = (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    w_all = Window.partitionBy()
    w_run = (
        Window.partitionBy()
        .orderBy(F.desc("rev"), "o_orderpriority")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return rev.select(
        "o_orderpriority",
        F.round("rev", 2).alias("revenue"),
        F.round(F.col("rev") / F.sum("rev").over(w_all), 6).alias("share"),
        F.round(
            F.sum("rev").over(w_run) / F.sum("rev").over(w_all), 6
        ).alias("cum_share"),
    )


@query(
    "q_zscore",
    oracle="""
    SELECT event_id, event_type,
           ROUND((value - AVG(value) OVER w)
                 / NULLIF(STDDEV_SAMP(value) OVER w, 0), 6) AS z
    FROM events
    WINDOW w AS (PARTITION BY event_type)
    """,
)
def q_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature standardization: z = (v - mean)/stddev within each
    event_type — the normalization step every training pipeline runs before
    modeling. One shuffle on the group key; mean and stddev share the same
    unordered window frame, so Spark computes both in a single pass. The
    NULLIF guard makes constant groups yield NULL, matching the oracle."""
    w = Window.partitionBy("event_type")
    std = F.stddev_samp("value").over(w)
    return t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(
            (F.col("value") - F.avg("value").over(w))
            / F.when(std != 0, std),
            6,
        ).alias("z"),
    )


@query(
    "q_event_windows",
    oracle="""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling event-time windows (same code streams with a
    watermark — streaming/events.py)."""
    return windows.tumbling_window_agg(t(spark, sf_dir, "events"))


@query(
    "q_window_rank",
    oracle="""
    SELECT event_id, user_id,
           CAST(row_number() OVER w AS INTEGER) AS seq,
           epoch_us(CAST(ts AS TIMESTAMP))
             - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS gap_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    """,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ranking + lag gap analytics (deterministic tie-break)."""
    return windows.rank_and_lag(t(spark, sf_dir, "events"))


@query(
    "q_session_windows",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, ts, value,
             epoch_us(CAST(ts AS TIMESTAMP))
               - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS gap_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    ),
    s AS (
      SELECT *, CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 30 * 60 * 1000000
                              THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM g
    )
    SELECT user_id, session_seq, COUNT(*) AS n_events,
           MIN(CAST(ts AS TIMESTAMP)) AS session_start,
           MAX(CAST(ts AS TIMESTAMP)) AS session_end,
           ROUND(SUM(value), 2) AS session_value
    FROM s GROUP BY user_id, session_seq
    """,
)
def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute idle threshold)."""
    return windows.sessionize(t(spark, sf_dir, "events"), gap_minutes=30)


@query(
    "q_moving_avg",
    oracle="""
    SELECT event_id, user_id,
           ROUND(AVG(value) OVER (PARTITION BY user_id
                                  ORDER BY CAST(ts AS TIMESTAMP), event_id
                                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS mov_avg,
           ROUND(first_value(value) OVER (PARTITION BY user_id
                                  ORDER BY CAST(ts AS TIMESTAMP), event_id), 2) AS first_val
    FROM events
    """,
)
def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window frames: 4-row moving average + first_value per user —
    the ROWS-frame analytic the tumbling/rank operators don't cover."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w.rowsBetween(-3, 0)), 4).alias("mov_avg"),
        F.round(F.first("value").over(w), 2).alias("first_val"),
    )


@query(
    "q_cumulative_distinct",
    oracle="""
    WITH f AS (
      SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS tss,
             CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                          ORDER BY CAST(ts AS TIMESTAMP),
                                                   event_id) = 1
                  THEN 1 ELSE 0 END AS first_seen
      FROM events
    )
    SELECT event_id, user_id,
           CAST(SUM(first_seen) OVER (PARTITION BY user_id
                                      ORDER BY tss, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS n_types_so_far
    FROM f
    """,
)
def q_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running count of distinct event_types each user has seen — the
    exploration/breadth signal (feature onboarding, catalog coverage)
    that a naive COUNT(DISTINCT) OVER would need full-history state for.
    The first-seen trick makes it two plain windows: flag each (user,
    type)'s first occurrence (one window keyed by user+type), then a
    running sum of flags per user — O(1) state per row, both windows
    partitioned, no distinct-set accumulation anywhere."""
    return timeseries.cumulative_distinct(
        t(spark, sf_dir, "events"),
        "user_id",
        "event_type",
        ("ts", "event_id"),
        "event_id",
    )


@query(
    "q_path_ngrams",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS s2,
             lead(event_type, 2) OVER w AS s3
      FROM events
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id)
    ),
    g AS (
      SELECT concat(event_type, ' > ', s2, ' > ', s3) AS path
      FROM seq WHERE s3 IS NOT NULL
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM g GROUP BY path
    ORDER BY n_occurrences DESC, path ASC
    LIMIT 20
    """,
)
def q_path_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 navigation trigrams across each user's time-ordered event
    sequence (operators/windows.py::path_ngrams, n=3) — the funnel-shape
    miner pairwise transitions can't see. One per-user window shuffle
    (two stacked leads), one count, deterministic lexicographic
    tie-break, TakeOrdered top-k."""

    return windows.path_ngrams(
        t(spark, sf_dir, "events"), "user_id", ["ts", "event_id"],
        "event_type", n=3, top_k=20,
    )


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


@query("q_streaks", oracle=_STREAK_ORACLE)
def q_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user
    (operators/windows.py::longest_streak): day − row_number labels
    islands in one expression; runs aggregate per (user, island); the
    argmax tie-breaks to the earliest start. Raw events collapse to
    distinct (user, day) first, so per-user window state is
    calendar-bounded."""

    return windows.longest_streak(
        t(spark, sf_dir, "events"), "user_id", F.to_date("ts")
    )


_COALESCE_ORACLE = """
    WITH iv AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS s,
             epoch_us(CAST(ts AS TIMESTAMP))
               + CAST(floor(value * 60) AS BIGINT) * 1000000 AS e
      FROM events
    ),
    marked AS (
      SELECT user_id, s, e,
             CASE WHEN s > MAX(e) OVER (
                    PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  OR MAX(e) OVER (
                    PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    isl AS (
      SELECT user_id, s, e,
             SUM(new_island) OVER (
               PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island_seq
      FROM marked
    )
    SELECT user_id,
           CAST(island_seq AS BIGINT) AS island_seq,
           MIN(s) AS island_start_us,
           MAX(e) AS island_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           MAX(e) - MIN(s) AS covered_us
    FROM isl GROUP BY user_id, island_seq
"""


@query(
    "q_interval_coalesce",
    oracle=_COALESCE_ORACLE,
)
def q_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user interval union (operators/windows.py::coalesce_intervals):
    merge every overlapping/touching [ts, ts + ⌊value·60⌋ s] activity
    interval into islands and report covered micros — one shuffle on
    user_id shared by both window passes and the island aggregate. The
    running-max-end island rule handles containment (a long interval
    swallowing later short ones), which naive lag(end) misses."""

    ev = t(spark, sf_dir, "events")
    start = F.unix_micros(F.col("ts").cast("timestamp"))
    dur_us = F.floor(F.col("value") * 60).cast("long") * F.lit(1_000_000)
    return windows.coalesce_intervals(
        ev, "user_id", start, start + dur_us
    )


_ROLLING_ORACLE = """
    WITH ud AS (
      SELECT DISTINCT user_id AS u,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
      FROM events
    ),
    days AS (SELECT DISTINCT d AS day FROM ud),
    contrib AS (
      SELECT DISTINCT u, d + CAST(i AS INTEGER) AS day
      FROM ud, UNNEST(range(0, 7)) AS t(i)
    )
    SELECT c.day AS day, CAST(COUNT(*) AS BIGINT) AS n_active
    FROM contrib c JOIN days USING (day)
    GROUP BY c.day
"""


@query("q_rolling_actives", oracle=_ROLLING_ORACLE)
def q_rolling_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling distinct actives (operators/windows.py::
    rolling_active_users): the (user, day) dedupe is the only row-scale
    shuffle; the ×7 contribute-forward explode runs on the deduped
    grain, and target days clamp to the data's own day set via a tiny
    broadcast."""

    return windows.rolling_active_users(
        t(spark, sf_dir, "events"), "user_id", "ts", window_days=7
    )


_NVR_ORACLE = """
    WITH ud AS (
      SELECT DISTINCT user_id AS u,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
      FROM events
    ),
    fd AS (SELECT u, MIN(d) AS first_d FROM ud GROUP BY u)
    SELECT ud.d AS day,
           CAST(SUM(CASE WHEN ud.d = fd.first_d THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new,
           CAST(SUM(CASE WHEN ud.d > fd.first_d THEN 1 ELSE 0 END)
                AS BIGINT) AS n_returning,
           CAST(COUNT(*) AS BIGINT) AS n_active
    FROM ud JOIN fd USING (u)
    GROUP BY ud.d
"""


@query("q_new_vs_returning", oracle=_NVR_ORACLE)
def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning user split (operators/windows.py::
    new_vs_returning): per-user first-day aggregate joined back on the
    user key the grain is already partitioned by, then one day
    rollup — exact counts everywhere."""

    return windows.new_vs_returning(
        t(spark, sf_dir, "events"), "user_id", "ts"
    )


_STICKY_ORACLE = """
    WITH ud AS (
      SELECT DISTINCT user_id AS u,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
      FROM events
    ),
    days AS (SELECT DISTINCT d AS day FROM ud),
    dau AS (
      SELECT d AS day, CAST(COUNT(*) AS BIGINT) AS n_dau
      FROM ud GROUP BY d
    ),
    contrib AS (
      SELECT DISTINCT u, d + CAST(i AS INTEGER) AS day
      FROM ud, UNNEST(range(0, 7)) AS t(i)
    ),
    wau AS (
      SELECT c.day AS day, CAST(COUNT(*) AS BIGINT) AS n_wau
      FROM contrib c JOIN days USING (day)
      GROUP BY c.day
    )
    SELECT day, n_dau, n_wau,
           ROUND(n_dau / CAST(n_wau AS DOUBLE), 6) AS stickiness
    FROM dau JOIN wau USING (day)
"""


@query("q_stickiness", oracle=_STICKY_ORACLE)
def q_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per day (operators/windows.py::
    rolling_active_users at w=1 joined with w=7): the engagement-depth
    ratio — WAU ≥ DAU by construction so the division never needs a
    zero guard on observed days."""

    ev = t(spark, sf_dir, "events")
    dau = windows.rolling_active_users(
        ev, "user_id", "ts", window_days=1
    ).withColumnRenamed("n_active", "n_dau")
    wau = windows.rolling_active_users(
        ev, "user_id", "ts", window_days=7
    ).withColumnRenamed("n_active", "n_wau")
    return dau.join(wau, "day").select(
        "day",
        "n_dau",
        "n_wau",
        F.round(
            F.col("n_dau") / F.col("n_wau").cast("double"), 6
        ).alias("stickiness"),
    )
