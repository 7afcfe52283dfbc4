"""Time-series queries: EWMA and moving medians, gap filling, forward
fill and linear interpolation, time-weighted averages, hopping and
trailing windows, funnels and cohort retention, period-over-period,
autocorrelation and cross-correlation, seasonal baselines and
decomposition, Holt and Holt-Winters smoothing, backtests, control
charts, CUSUM change points, burstiness, concurrency and late events.

Registry and oracle conventions: queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from weather_api_automate_etl_spark.operators import stats, timeseries
from weather_api_automate_etl_spark.queries import query, t


_EWMA_ALPHA = 0.3

_EWMA_W = 8  # trailing frame length (rows)


@query(
    "q_ewma",
    oracle=f"""
    WITH e AS (
      SELECT event_id, user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
      FROM events
    )
    SELECT a.event_id, a.user_id, a.value,
           ROUND(SUM(b.value * POWER({1 - _EWMA_ALPHA}, a.rn - b.rn))
                 / SUM(POWER({1 - _EWMA_ALPHA}, a.rn - b.rn)), 6) AS ewma
    FROM e a JOIN e b
      ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - {_EWMA_W - 1} AND a.rn
    GROUP BY a.event_id, a.user_id, a.value
    """,
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing exponentially-weighted moving average per user (α=0.3 over
    the last 8 observations) — the smoothing signal dashboards and anomaly
    baselines run on. Spark computes it join-free: collect the ordered
    trailing frame per row (one window shuffle on user_id) and fold it
    with a higher-order ``aggregate`` — weights are accumulated by
    repeated multiply inside the fold, so the whole expression stays in
    codegen with no second pass over events. The oracle states the same
    weighted mean relationally (bounded self-join on row-number offsets);
    HOF-fold vs join equivalence is the point of the pairing. Per-user
    frames keep the window partitioned — never a global sort.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(-( _EWMA_W - 1), 0)
    )
    frame = F.reverse(F.collect_list("value").over(w))  # newest first
    folded = F.aggregate(
        frame,
        F.struct(F.lit(0.0).alias("s"), F.lit(1.0).alias("w")),
        lambda acc, x: F.struct(
            (acc["s"] + x * acc["w"]).alias("s"),
            (acc["w"] * F.lit(1 - _EWMA_ALPHA)).alias("w"),
        ),
        lambda acc: acc["s"],
    )
    norm = (
        F.lit(1.0) - F.pow(F.lit(1 - _EWMA_ALPHA), F.size(frame))
    ) / F.lit(_EWMA_ALPHA)
    return t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "value",
        F.round(folded / norm, 6).alias("ewma"),
    )


@query(
    "q_gap_fill",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             COUNT(*) AS n FROM events GROUP BY 1, 2
    ), b AS (
      SELECT event_type, MIN(day) AS lo, MAX(day) AS hi FROM c GROUP BY 1
    ), g AS (
      SELECT b.event_type,
             CAST(unnest(generate_series(b.lo, b.hi, INTERVAL 1 DAY)) AS DATE)
               AS day
      FROM b
    )
    SELECT g.event_type, g.day, COALESCE(c.n, 0) AS n_events
    FROM g LEFT JOIN c ON g.event_type = c.event_type AND g.day = c.day
    """,
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample events to a dense daily grid per event_type, zero-filling
    days with no traffic (the classic time-series gap-fill the reference's
    daily scheduler assumes away — SURVEY.md §2.6 runs once per day and
    skips nothing).

    Scale shape: one shuffle to the (type, day) pre-aggregate — tiny output
    (days x types, independent of row count) — then the calendar grid is
    built by sequence()+explode over per-type bounds and LEFT-joined back.
    Both join sides are post-aggregation minis, so AQE broadcasts; the raw
    events table is never touched again."""
    ev = t(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day")
    )
    counts = ev.groupBy("event_type", "day").agg(F.count(F.lit(1)).alias("n"))
    grid = (
        counts.groupBy("event_type")
        .agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("interval 1 day"))
            ).alias("day"),
        )
    )
    return grid.join(counts, ["event_type", "day"], "left").select(
        "event_type", "day", F.coalesce("n", F.lit(0)).alias("n_events")
    )


@query(
    "q_forward_fill",
    oracle="""
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
           ROUND(last_value(CASE WHEN event_type = 'purchase' THEN value END
                            IGNORE NULLS)
                 OVER (PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 6) AS last_purchase_value
    FROM events
    """,
)
def q_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill: carry each user's most recent purchase value onto every
    subsequent event (LOCF — the standard panel-data imputation). One shuffle
    on user_id; the running state is a single value per partition, so the
    window frame is streaming-friendly (no buffering of the full frame)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    purchase_value = F.when(F.col("event_type") == "purchase", F.col("value"))
    return t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.round(
            F.last(purchase_value, ignorenulls=True).over(w), 6
        ).alias("last_purchase_value"),
    )


@query(
    "q_hopping_windows",
    oracle="""
    WITH e AS (
      SELECT event_type, value,
             unnest([make_timestamp(epoch_us(CAST(ts AS TIMESTAMP))
                                    - epoch_us(CAST(ts AS TIMESTAMP)) % 300000000),
                     make_timestamp(epoch_us(CAST(ts AS TIMESTAMP))
                                    - epoch_us(CAST(ts AS TIMESTAMP)) % 300000000)
                       - INTERVAL 5 MINUTE]) AS window_start
      FROM events
    )
    SELECT window_start, event_type, COUNT(*) AS n,
           ROUND(AVG(value), 6) AS avg_value
    FROM e GROUP BY 1, 2
    """,
)
def q_hopping_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window aggregation: 10-minute windows sliding every 5 minutes
    (each event lands in exactly two overlapping windows). Spark's window()
    generator expands the hops map-side before a single combinable agg —
    the streaming-ready form of overlapping-window rollups. The oracle
    expands the same two hops arithmetically."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "avg_value"
        )
    )


@query(
    "q_linear_interpolate",
    oracle="""
    WITH f AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
             last_value(CASE WHEN event_type = 'purchase' THEN value END
                        IGNORE NULLS) OVER wp AS prev_v,
             last_value(CASE WHEN event_type = 'purchase'
                             THEN CAST(ts AS TIMESTAMP) END
                        IGNORE NULLS) OVER wp AS prev_ts,
             first_value(CASE WHEN event_type = 'purchase' THEN value END
                         IGNORE NULLS) OVER wf AS next_v,
             first_value(CASE WHEN event_type = 'purchase'
                              THEN CAST(ts AS TIMESTAMP) END
                         IGNORE NULLS) OVER wf AS next_ts
      FROM events
      WINDOW
        wp AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wf AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id, user_id, ts,
           ROUND(CASE
             WHEN prev_ts IS NOT NULL AND next_ts IS NOT NULL
                  AND next_ts > prev_ts
             THEN prev_v + (next_v - prev_v)
                  * (CAST(epoch_us(ts) - epoch_us(prev_ts) AS DOUBLE)
                     / CAST(epoch_us(next_ts) - epoch_us(prev_ts) AS DOUBLE))
             ELSE coalesce(prev_v, next_v)
           END, 6) AS interp_value
    FROM f
    """,
)
def q_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of the sparse purchase-value signal onto every
    event: bracket each row with the nearest purchase before and after
    (last/first over IGNORE NULLS frames), then lerp by the time fraction.
    Same single user_id shuffle serves both frames; the time ratio is
    integer-µs arithmetic in double, bit-identical across engines."""
    on_purchase = lambda c: F.when(F.col("event_type") == "purchase", c)  # noqa: E731
    wp = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the forward bracket runs as a running `last` over the REVERSED
    # ordering: a shrinking (current, unboundedFollowing) frame is not
    # incrementally computable (Spark re-scans the remainder per row —
    # the O(n²)-per-partition hazard tools/stress_eval.py measured on
    # caliper_match); "at-or-after me ascending" == "at-or-before me
    # descending", same rows, one extra in-partition sort, no shuffle.
    wf_rev = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.last(on_purchase(F.col("value")), ignorenulls=True).over(wp).alias("prev_v"),
        F.last(on_purchase(F.col("ts")), ignorenulls=True).over(wp).alias("prev_ts"),
        F.last(on_purchase(F.col("value")), ignorenulls=True).over(wf_rev).alias("next_v"),
        F.last(on_purchase(F.col("ts")), ignorenulls=True).over(wf_rev).alias("next_ts"),
    )
    # session TZ is UTC (sources/tables.py), so ntz -> instant cast is exact
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    frac = (us("ts") - us("prev_ts")).cast("double") / (
        us("next_ts") - us("prev_ts")
    ).cast("double")
    interp = F.when(
        F.col("prev_ts").isNotNull()
        & F.col("next_ts").isNotNull()
        & (F.col("next_ts") > F.col("prev_ts")),
        F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * frac,
    ).otherwise(F.coalesce("prev_v", "next_v"))
    return ev.select(
        "event_id", "user_id", "ts", F.round(interp, 6).alias("interp_value")
    )


@query(
    "q_time_weighted_avg",
    oracle="""
    WITH d AS (
      SELECT user_id, value,
             CAST(lead(epoch_us(CAST(ts AS TIMESTAMP))) OVER w
                  - epoch_us(CAST(ts AS TIMESTAMP)) AS DOUBLE) AS dur_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    )
    SELECT user_id,
           ROUND(SUM(value * dur_us) / SUM(dur_us), 4) AS twa_value,
           CAST(COUNT(dur_us) AS BIGINT) AS n_intervals
    FROM d WHERE dur_us IS NOT NULL AND dur_us > 0
    GROUP BY 1
    """,
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of the value signal per user: each observation
    is weighted by how long it was the current reading (duration to the next
    event). The irregular-sampling-correct mean — a plain AVG over-weights
    bursts. One window shuffle on user_id feeding a map-side-combinable
    aggregate."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = (
        t(spark, sf_dir, "events")
        .select(
            "user_id",
            "value",
            (
                F.unix_micros(F.lead("ts").over(w).cast("timestamp"))
                - F.unix_micros(F.col("ts").cast("timestamp"))
            )
            .cast("double")
            .alias("dur_us"),
        )
        .filter(F.col("dur_us").isNotNull() & (F.col("dur_us") > 0))
    )
    return d.groupBy("user_id").agg(
        F.round(
            F.sum(F.col("value") * F.col("dur_us")) / F.sum("dur_us"), 4
        ).alias("twa_value"),
        F.count("dur_us").alias("n_intervals"),
    )


@query(
    "q_funnel",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts_c,
             epoch_us(CAST(ts AS TIMESTAMP))
               - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS gap_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    ),
    s AS (
      SELECT *, CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 30 * 60 * 1000000
                              THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts_c, event_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM g
    ),
    w2 AS (
      SELECT user_id, session_seq, event_type, ts_c,
             MIN(CASE WHEN event_type = 'click' THEN ts_c END)
               OVER (PARTITION BY user_id, session_seq) AS first_click
      FROM s
    ),
    sess AS (
      SELECT user_id, session_seq,
             MAX(first_click) AS first_click,
             MAX(CASE WHEN event_type = 'purchase' AND ts_c >= first_click
                      THEN 1 ELSE 0 END) AS converted
      FROM w2 GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN first_click IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_click,
           CAST(SUM(converted) AS BIGINT) AS n_converted,
           ROUND(SUM(converted) * 1.0e0 / COUNT(*), 6) AS conv_rate
    FROM sess
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionized click->purchase conversion funnel: within each 30-minute
    gap session, did a purchase follow the session's first click? Three
    stacked windows share ONE user_id shuffle (the per-session frames are
    sub-partitions of it); the final rollup is a single-row global
    aggregate."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = epoch - F.lag(epoch).over(w)
    is_new = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    sess_w = Window.partitionBy("user_id", "session_seq")
    per_event = (
        t(spark, sf_dir, "events")
        .select("user_id", "event_id", "event_type", "ts")
        .withColumn("__new", is_new)
        .withColumn(
            "session_seq",
            F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn(
            "first_click",
            F.min(
                F.when(F.col("event_type") == "click", F.col("ts"))
            ).over(sess_w),
        )
    )
    sessions = per_event.groupBy("user_id", "session_seq").agg(
        F.max("first_click").alias("first_click"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") >= F.col("first_click")),
                1,
            ).otherwise(0)
        ).alias("converted"),
    )
    return sessions.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(
            F.when(F.col("first_click").isNotNull(), 1).otherwise(0)
        ).alias("n_with_click"),
        F.sum("converted").alias("n_converted"),
        F.round(F.sum("converted") / F.count(F.lit(1)), 6).alias("conv_rate"),
    )


@query(
    "q_cohort_retention",
    oracle="""
    WITH c AS (
      SELECT user_id, MIN(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS cohort_day
      FROM events GROUP BY 1
    ),
    a AS (
      SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS active_day
      FROM events
    )
    SELECT c.cohort_day,
           CAST(date_diff('day', c.cohort_day, a.active_day) AS INTEGER)
             AS day_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM a JOIN c ON a.user_id = c.user_id
    GROUP BY 1, 2
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users bucketed by first-seen day, counted
    on each subsequent active day offset.

    Single user_id shuffle: per-user active-day sets via collect_set
    (bounded by the calendar, map-side combined), cohort = array_min of the
    set — no cohort/active self-join at all. The exploded frame feeds the
    final cohort x offset rollup, whose output is calendar-bounded and tiny
    at any data scale. The naive two-aggregate + join formulation costs 4
    exchanges; this costs 2 (PLANS.md)."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    per_user = ev.groupBy("user_id").agg(
        F.collect_set("day").alias("days")
    )
    exploded = per_user.select(
        "user_id",
        F.array_min("days").alias("cohort_day"),
        F.explode("days").alias("active_day"),
    )
    return exploded.groupBy(
        "cohort_day",
        F.datediff("active_day", "cohort_day").alias("day_offset"),
    ).agg(F.count_distinct("user_id").alias("n_users"))


@query(
    "q_period_over_period",
    oracle="""
    WITH m AS (
      SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
               AS month,
             SUM(o_totalprice) AS rev
      FROM orders GROUP BY 1
    )
    SELECT month, ROUND(rev, 2) AS revenue,
           ROUND(rev - lag(rev) OVER (ORDER BY month), 2) AS mom_change,
           ROUND((rev - lag(rev) OVER (ORDER BY month))
                 / lag(rev) OVER (ORDER BY month), 6) AS mom_pct
    FROM m
    """,
)
def q_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue deltas: lag over the monthly aggregate.
    The window runs on the post-aggregate (one row per month — calendar-
    bounded), so the single-partition global frame is harmless at any
    scale; the heavy lifting is the map-side-combined monthly rollup."""
    monthly = (
        t(spark, sf_dir, "orders")
        .groupBy(F.trunc(F.to_date("o_orderdate"), "month").alias("month"))
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    w = Window.partitionBy().orderBy("month")
    prev = F.lag("rev").over(w)
    return monthly.select(
        "month",
        F.round("rev", 2).alias("revenue"),
        F.round(F.col("rev") - prev, 2).alias("mom_change"),
        F.round((F.col("rev") - prev) / prev, 6).alias("mom_pct"),
    )


@query(
    "q_trailing_window",
    oracle="""
    WITH d AS (
      SELECT CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE) AS day,
             SUM(o_totalprice) AS rev
      FROM orders GROUP BY 1
    )
    SELECT day, ROUND(rev, 2) AS revenue,
           ROUND(SUM(rev) OVER (ORDER BY day
                                RANGE BETWEEN INTERVAL 6 DAY PRECEDING
                                          AND CURRENT ROW), 2)
             AS trailing_7d,
           CAST(COUNT(*) OVER (ORDER BY day
                               RANGE BETWEEN INTERVAL 6 DAY PRECEDING
                                         AND CURRENT ROW) AS BIGINT)
             AS days_in_window
    FROM d
    """,
)
def q_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day trailing revenue via a time-based RANGE frame — the frame is
    bounded by event-time distance, not row count, so sparse days widen
    correctly (a 6-row ROWS frame would be wrong across gaps). Spark range
    frames need a numeric sort key: days-since-epoch via datediff; the
    window runs over the daily post-aggregate (calendar-bounded)."""
    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum("o_totalprice").alias("rev"))
        .withColumn(
            "day_num", F.datediff("day", F.lit("1970-01-01").cast("date"))
        )
    )
    w = Window.partitionBy().orderBy("day_num").rangeBetween(-6, 0)
    return daily.select(
        "day",
        F.round("rev", 2).alias("revenue"),
        F.round(F.sum("rev").over(w), 2).alias("trailing_7d"),
        F.count(F.lit(1)).over(w).alias("days_in_window"),
    )


@query(
    "q_event_transitions",
    oracle="""
    WITH n AS (
      SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY CAST(ts AS TIMESTAMP), event_id)
               AS next_type
      FROM events
    )
    SELECT event_type, next_type, COUNT(*) AS n,
           ROUND(COUNT(*) * 1.0e0
                 / SUM(COUNT(*)) OVER (PARTITION BY event_type), 6)
             AS transition_prob
    FROM n WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    (type -> next type) counts and row-normalized probabilities. One
    user_id shuffle for the lead(), then a combinable pair-count; the
    normalizing window runs over the type x type matrix (bounded by the
    event-type vocabulary, not the data)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        t(spark, sf_dir, "events")
        .select(
            "event_type", F.lead("event_type").over(w).alias("next_type")
        )
        .filter(F.col("next_type").isNotNull())
    )
    counts = pairs.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_norm = Window.partitionBy("event_type")
    return counts.select(
        "event_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(w_norm), 6).alias(
            "transition_prob"
        ),
    )


@query(
    "q_autocorr",
    oracle="""
    WITH p AS (
      SELECT user_id, value AS x,
             lag(value) OVER (PARTITION BY user_id
                              ORDER BY CAST(ts AS TIMESTAMP), event_id) AS xp
      FROM events
    ),
    m AS (
      SELECT user_id, CAST(count(*) AS DOUBLE) AS n,
             SUM(x) AS sx, SUM(xp) AS sy, SUM(x * xp) AS sxy,
             SUM(x * x) AS sxx, SUM(xp * xp) AS syy
      FROM p WHERE xp IS NOT NULL GROUP BY user_id
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
           ROUND((n * sxy - sx * sy)
                 / SQRT((CASE WHEN n * sxx - sx * sx > 1e-14 * n * sxx
                              THEN n * sxx - sx * sx END)
                        * (CASE WHEN n * syy - sy * sy > 1e-14 * n * syy
                                THEN n * syy - sy * sy END)),
                 6) + 0.0 AS autocorr_lag1
    FROM m
    """,
)
def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each user's value series (Pearson r of
    (xₜ, xₜ₋₁) pairs) — the is-this-series-noise-or-trend screen run
    before forecasting or anomaly baselines. One per-user window shuffle
    forms the lag pairs, then the q_linreg_by_group closed-form moment
    recipe (five mergeable sums, NULLIF-guarded) — never a second pass
    or a self-join on positions. Constant series yield NULL (zero
    variance) on both engines."""
    return stats.autocorr_lag1(
        t(spark, sf_dir, "events"), "user_id", "value", ("ts", "event_id")
    )


_MED_W = 8


@query(
    "q_trailing_median",
    oracle=f"""
    SELECT event_id, user_id, value,
           ROUND(quantile_cont(value, 0.5)
                   OVER (PARTITION BY user_id
                         ORDER BY CAST(ts AS TIMESTAMP), event_id
                         ROWS BETWEEN {_MED_W - 1} PRECEDING AND CURRENT ROW),
                 6) AS trailing_median
    FROM events
    """,
)
def q_trailing_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing median of each user's last 8 observations — the robust
    smoothing baseline (q_ewma's outlier-immune sibling: one wild value
    shifts an EWMA for the whole decay tail but leaves the rolling
    median untouched). Spark has no percentile window over a moving
    frame, so the frame is collected per row (one window shuffle on
    user_id, frame bounded at 8), sorted, and interpolated with the
    exact ``lo + (hi − lo)·0.5`` form quantile_cont uses — spelled
    identically so even the last-ulp arithmetic matches the oracle's
    windowed quantile_cont. Frames are per-user — never a global
    sort."""
    return timeseries.trailing_median(
        t(spark, sf_dir, "events"),
        "user_id",
        "value",
        ("ts", "event_id"),
        window_rows=_MED_W,
        keep_cols=("event_id",),
    )


@query(
    "q_seasonal_baseline",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(date_part('dow', CAST(ts AS TIMESTAMP)) AS INTEGER) AS dow,
             CAST(date_part('hour', CAST(ts AS TIMESTAMP)) AS INTEGER) AS hr,
             ROUND(avg(value), 6) AS baseline
      FROM events GROUP BY 1, 2, 3
    )
    SELECT e.event_id, e.event_type, e.value,
           CAST(date_part('dow', CAST(e.ts AS TIMESTAMP)) AS INTEGER) AS dow,
           CAST(date_part('hour', CAST(e.ts AS TIMESTAMP)) AS INTEGER) AS hr,
           b.baseline,
           ROUND(e.value - b.baseline, 6) AS residual
    FROM events e
    JOIN b ON b.event_type = e.event_type
          AND b.dow = CAST(date_part('dow', CAST(e.ts AS TIMESTAMP)) AS INTEGER)
          AND b.hr = CAST(date_part('hour', CAST(e.ts AS TIMESTAMP)) AS INTEGER)
    """,
)
def q_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive baseline per (event_type, day-of-week, hour) with
    per-event residuals — the first-order seasonality model anomaly
    alerting diffs against before reaching for real forecasting. Uses
    the reference's Postgres calendar semantics (dow 0=Sunday —
    functions/core.py::pg_dow, the §2 op-18 trap). The baseline table is
    (types × 7 × 24) rows — one map-side-combined aggregate broadcast
    back onto the stream; baselines round before the residual subtraction
    so residuals can't flip on aggregation-order ulps."""
    return timeseries.seasonal_baseline(
        t(spark, sf_dir, "events"),
        "event_type",
        "ts",
        "value",
        keep_cols=("event_id",),
    )


@query(
    "q_concurrency",
    oracle="""
    WITH iv AS (
      SELECT event_id, event_type, CAST(ts AS TIMESTAMP) AS s,
             CAST(ts AS TIMESTAMP)
               + to_seconds(CAST(greatest(1, floor(value)) AS BIGINT)) AS e
      FROM events
    ),
    pts AS (
      SELECT event_type, s AS t, 1 AS delta FROM iv
      UNION ALL
      SELECT event_type, e AS t, -1 AS delta FROM iv
    ),
    cum AS (
      SELECT event_type,
             SUM(delta) OVER (PARTITION BY event_type
                              ORDER BY t ASC, delta DESC) AS load
      FROM pts
    )
    SELECT event_type, CAST(max(load) AS INTEGER) AS peak_concurrency,
           CAST(count(*) / 2 AS BIGINT) AS n_intervals
    FROM cum GROUP BY event_type
    """,
)
def q_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak interval concurrency per event_type by the classic sweep
    line: each event spans [ts, ts + max(1, ⌊value⌋) seconds); +1/−1
    boundary points, a running sum in time order, max of the running
    load — how many sessions/jobs/calls were simultaneously open at the
    worst moment. The running sum uses the DEFAULT window frame (RANGE
    …CURRENT ROW): all peers of a timestamp are included together, so
    the load at a tie is order-independent on both engines; starts sort
    before ends (delta DESC), so touching intervals count as
    overlapping. One window shuffle partitioned by event_type — never a
    global timeline sort."""
    return timeseries.concurrency_peak(
        t(spark, sf_dir, "events"), "event_type", "ts", "value"
    )


@query(
    "q_cusum_changepoint",
    oracle="""
    WITH s AS (
      SELECT event_type, ROUND(avg(value), 6) AS mu,
             ROUND(stddev_samp(value), 6) AS sd
      FROM events GROUP BY event_type
    ),
    c AS (
      SELECT e.event_id, e.event_type,
             ROUND(SUM((e.value - s.mu) / NULLIF(s.sd, 0))
                     OVER (PARTITION BY e.event_type
                           ORDER BY CAST(e.ts AS TIMESTAMP), e.event_id
                           ROWS UNBOUNDED PRECEDING),
                   6) AS cusum,
             CAST(e.ts AS TIMESTAMP) AS tss
      FROM events e JOIN s USING (event_type)
    ),
    p AS (
      SELECT event_type, event_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(cusum) DESC, tss ASC,
                                         event_id ASC) AS rn
      FROM c
    ),
    agg AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
             max(abs(cusum)) AS max_abs_cusum
      FROM c GROUP BY event_type
    )
    SELECT agg.event_type, agg.n_events, agg.max_abs_cusum,
           p.event_id AS change_event_id
    FROM agg JOIN p USING (event_type)
    WHERE p.rn = 1
    """,
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift detection per event_type: running sum of
    standardized residuals in time order; the change point is the event
    where |CUSUM| peaks (ties → earliest). Group mean/stddev round to 6
    BEFORE standardizing (aggregation-order ulps stop at the rounding),
    and the argmax reads the ROUNDED cusum with a (time, id) tie-break —
    the last-ulp-proof argmax recipe. One stats aggregate broadcast back
    + one per-type ordered running sum (partitioned — never global).
    Spark takes the argmax via a row_number window on the same keys the
    oracle's arg_min tuple encodes."""
    return timeseries.cusum_changepoint(
        t(spark, sf_dir, "events"),
        "event_type",
        "value",
        ("ts", "event_id"),
        "event_id",
    )


@query(
    "q_burstiness",
    oracle="""
    WITH p AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS t,
             lag(CAST(ts AS TIMESTAMP))
               OVER (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP), event_id) AS tp
      FROM events
    ),
    g AS (
      SELECT user_id, CAST(date_diff('second', tp, t) AS DOUBLE) AS gap
      FROM p WHERE tp IS NOT NULL
    ),
    m AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
             ROUND(avg(gap), 6) AS mu, ROUND(stddev_samp(gap), 6) AS sigma
      FROM g GROUP BY user_id
    )
    SELECT user_id, n_gaps, mu, sigma,
           ROUND((sigma - mu) / NULLIF(sigma + mu, 0), 6) + 0.0 AS burstiness
    FROM m
    """,
)
def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh–Barabási burstiness of each user's inter-arrival times
    (operators/timeseries.py::burstiness): B = (σ−μ)/(σ+μ) over the
    gaps — −1 periodic, ≈0 Poisson, →1 bursty; the traffic-shape
    diagnostic behind rate-limit and capacity decisions. Gaps are
    wall-clock second-boundary counts (DST-proof on TIMESTAMP_NTZ — the
    freshness recipe); one per-user lag window + one moment
    aggregate."""
    return timeseries.burstiness(
        t(spark, sf_dir, "events"), "user_id", "ts", ("ts", "event_id")
    )


@query(
    "q_late_events",
    oracle="""
    WITH arr AS (
      SELECT event_type, CAST(ts AS TIMESTAMP) AS ts,
             MAX(CAST(ts AS TIMESTAMP)) OVER (
               PARTITION BY event_type ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS hwm
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(CASE WHEN hwm IS NULL OR ts >= hwm THEN 1 END) AS BIGINT)
             AS n_on_time,
           CAST(COUNT(CASE WHEN ts < hwm
                            AND ts + INTERVAL 10 MINUTE >= hwm THEN 1 END)
                AS BIGINT) AS n_late_accepted,
           CAST(COUNT(CASE WHEN ts + INTERVAL 10 MINUTE < hwm THEN 1 END)
                AS BIGINT) AS n_dropped
    FROM arr GROUP BY event_type
    """,
)
def q_late_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data accounting against a per-stream high-water mark — the
    BATCH derivation of what a 10-minute streaming watermark would do to
    this data: events are replayed in arrival order (event_id) per
    event_type, the running max event-time is the watermark source, and
    each event classifies as on-time (advances or equals the HWM), late
    but within the 10-minute tolerance (accepted, state still open), or
    beyond it (dropped at eviction). Classification is pure interval
    comparison — no epoch extraction, so the TIMESTAMP_NTZ ns-precision
    fixture can't diverge across engines (the DST/date_diff trap from the
    round-5 notes). The capacity-planning readout before choosing a
    production watermark delay. Per-type windows, never a global order."""
    ev = t(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hwm = F.max("ts").over(w)
    tol = F.expr("INTERVAL 10 MINUTE")
    arr = ev.select(
        "event_type",
        "ts",
        hwm.alias("hwm"),
    )
    on_time = F.col("hwm").isNull() | (F.col("ts") >= F.col("hwm"))
    dropped = (F.col("ts") + tol) < F.col("hwm")
    return arr.groupBy("event_type").agg(
        F.count(F.when(on_time, 1)).cast("long").alias("n_on_time"),
        F.count(F.when(~on_time & ~dropped, 1)).cast("long").alias("n_late_accepted"),
        F.count(F.when(dropped, 1)).cast("long").alias("n_dropped"),
    )


@query(
    "q_seasonal_decompose",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM events
      WHERE event_type IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1, 2
    ),
    tr AS (
      SELECT event_type, day, y,
             CASE WHEN COUNT(y) OVER w = 7
                  THEN ROUND(AVG(y) OVER w, 6) END AS trend,
             CAST(date_diff('day', DATE '1970-01-01', day) % 7 AS INTEGER) AS ph
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    pm AS (
      SELECT event_type, ph,
             (CAST(SUM(CAST(ROUND((y - trend) * 1e6, 0) AS BIGINT)) AS DOUBLE)
              / COUNT(*)) / 1e6 AS pmv
      FROM tr WHERE trend IS NOT NULL GROUP BY 1, 2
    ),
    gm AS (SELECT event_type, AVG(pmv) AS gmv FROM pm GROUP BY 1),
    eff AS (
      SELECT pm.event_type, ph, ROUND(pmv - gmv, 6) AS seasonal
      FROM pm JOIN gm USING (event_type)
    )
    SELECT t.event_type, t.day, t.y, t.trend,
           CASE WHEN t.trend IS NOT NULL THEN e.seasonal END AS seasonal,
           CASE WHEN t.trend IS NOT NULL
                THEN ROUND(t.y - t.trend - e.seasonal, 6) END AS residual
    FROM tr t LEFT JOIN eff e
      ON e.event_type = t.event_type AND e.ph = t.ph
    """,
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of the daily event-count series
    per type (operators/timeseries.py::seasonal_decompose, period 7):
    y = centered-MA trend + phase-mean weekly seasonal (centered to sum
    ~0) + residual, with NULL trend/seasonal/residual on the half-window
    edges where the decomposition is undefined. Every interface is
    round-6-clamped, so the full window+aggregate pipeline hash-matches
    the declarative twin; identity (y = t+s+r where defined) and
    gap-robust phase anchoring are pinned in tests/test_wave4.py."""

    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    return timeseries.seasonal_decompose(
        daily, "event_type", "day", "y", period=7
    )


@query(
    "q_holt_linear",
    oracle="""
    WITH RECURSIVE s AS (
      SELECT o_orderpriority AS grp,
             year(o_orderdate) * 100 + month(o_orderdate) AS ym,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM orders GROUP BY 1, 2
    ),
    idx AS (
      SELECT grp, y,
             row_number() OVER (PARTITION BY grp ORDER BY ym) AS i,
             COUNT(*) OVER (PARTITION BY grp) AS n
      FROM s
    ),
    rec AS (
      SELECT a.grp, 1 AS i, a.y AS lvl, b.y - a.y AS trd
      FROM idx a JOIN idx b ON a.grp = b.grp AND a.i = 1 AND b.i = 2
      UNION ALL
      SELECT r.grp, r.i + 1,
             0.5 * x.y + 0.5 * (r.lvl + r.trd),
             0.25 * ((0.5 * x.y + 0.5 * (r.lvl + r.trd)) - r.lvl)
               + 0.75 * r.trd
      FROM rec r JOIN idx x ON x.grp = r.grp AND x.i = r.i + 1
    ),
    last AS (
      SELECT grp, MAX(i) AS n FROM rec GROUP BY grp
    )
    SELECT r.grp, CAST(l.n AS BIGINT) AS n_points,
           ROUND(r.lvl, 6) AS level, ROUND(r.trd, 6) AS trend,
           ROUND(r.lvl + r.trd, 6) AS forecast_1
    FROM rec r JOIN last l ON r.grp = l.grp AND r.i = l.n
    """,
)
def q_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear (double exponential) smoothing of the monthly order
    volume per priority (operators/timeseries.py::holt_linear, α=0.5,
    β=0.25 — dyadic, so every step is exact IEEE arithmetic and the
    recursive-CTE oracle replays it bit-for-bit): textbook init
    l₁=y₁, b₁=y₂−y₁, recursion from t=2. One aggregate to the monthly
    grain, one fold per series — sequential in t, parallel across
    series."""

    monthly = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("grp"),
            (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("ym"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
    )
    # WITH RECURSIVE's UNION ALL requires n_points as MAX(i) from the
    # replay itself; Spark's n_points is the series length — same number
    return timeseries.holt_linear(monthly, "grp", "ym", "y")


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


@query("q_holt_winters", oracle=_HW_ORACLE)
def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive smoothing of each event type's daily
    volume, weekly season (operators/timeseries.py::
    holt_winters_additive, α=.5 β=.25 γ=.25, m=7): textbook two-season
    init, then a 23-step fold carrying (level, trend, 7-slot seasonal
    ring). The per-series state is O(m); the oracle's recursive CTE
    carries the same ring as a LIST and reproduces every float op in
    order."""

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    return timeseries.holt_winters_additive(
        daily, "event_type", "day", "y", season=7,
        alpha=0.5, beta=0.25, gamma=0.25,
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


@query("q_backtest_naive", oracle=_BACKTEST_ORACLE)
def q_backtest_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest over the last 5 days of each event
    type's daily volume (operators/timeseries.py::
    backtest_seasonal_naive, m=7): seasonal-naive MAE vs last-value
    MAE, skill < 1 ⇔ weekly seasonality carries real signal — the
    go/no-go gate before trusting q_holt_winters' seasonal state.
    Integer counts ⇒ exact errors; two lag windows, zero self-joins."""

    ev = t(spark, sf_dir, "events")
    return timeseries.backtest_seasonal_naive(
        ev.withColumn("day", F.to_date("ts")), "event_type", "day",
        season=7, horizon=5,
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


@query("q_control_chart", oracle=_CC_ORACLE)
def q_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart 3σ individuals chart of daily event volume per type
    (operators/timeseries.py::control_chart): centerline and limits
    assemble from exact integer Σy/Σy² in a single expression, so both
    engines draw identical limits and flag identical days — the
    retrospective phase-I chart (limits from the charted window,
    stated plainly in the operator docstring)."""

    ev = t(spark, sf_dir, "events")
    return timeseries.control_chart(
        ev.withColumn("day", F.to_date("ts")), "event_type", "day",
        n_sigma=3.0,
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


@query("q_lag_features", oracle=_LAG_ORACLE)
def q_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense lag/MA/difference feature matrix over daily event volume
    (operators/timeseries.py::lag_features, lags {1,7}, 7-day trailing
    mean): each surviving row is a complete training example; the
    7-day warm-up prefix drops so no NULL reaches a fit. Exact integer
    lags and window sums; one window pass per series."""

    ev = t(spark, sf_dir, "events")
    return timeseries.lag_features(
        ev.withColumn("day", F.to_date("ts")), "event_type", "day",
        lags=(1, 7), ma_window=7,
    )


_CCF_ORACLE = """
    WITH daily AS (
      SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS x,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS y
      FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest(range(-7, 8)) AS lag),
    p AS (
      SELECT l.lag AS lag, a.x AS x, b.y AS y
      FROM daily a
      CROSS JOIN lags l
      JOIN daily b ON b.d = a.d + CAST(l.lag AS INTEGER)
    ),
    m AS (
      SELECT lag, CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM p GROUP BY lag
    )
    SELECT CAST(lag AS INTEGER) AS lag, CAST(n AS BIGINT) AS n_days,
           ROUND((n * sxy - sx * sy) / SQRT(vx * vy), 6) + 0.0 AS r_xy
    FROM (
      SELECT *,
             CASE WHEN n * sxx - sx * sx > 1e-14 * n * sxx
                  THEN n * sxx - sx * sx END AS vx,
             CASE WHEN n * syy - sy * sy > 1e-14 * n * syy
                  THEN n * syy - sy * sy END AS vy
      FROM m
    )
"""


@query("q_cross_corr", oracle=_CCF_ORACLE)
def q_cross_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """±7-day cross-correlation of daily purchase vs click counts
    (operators/timeseries.py::cross_correlation): the event stream is
    scanned ONCE into a days-sized table; the lag explode and
    self-join run on that tiny table (AQE broadcasts it), and each
    lag's Pearson r comes from exact-integer moment sums behind the
    shared relative variance floor."""

    ev = t(spark, sf_dir, "events")
    return timeseries.cross_correlation(
        ev,
        "ts",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0),
        F.when(F.col("event_type") == "click", 1).otherwise(0),
        max_lag=7,
    )
