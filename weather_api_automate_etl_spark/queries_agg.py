"""Aggregation queries: grouped and multi-dimensional aggregates (cube,
conditional, salted, array and argmax aggregates), histograms and robust
outlier fences, market-basket pairs, RFM and cohort-LTV segments, A/B
lift, first-touch and linear attribution, and distribution-drift scores
(chi-square, PSI, KS, Jensen-Shannon) over grouped counts.

Registry and oracle conventions: queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from weather_api_automate_etl_spark.operators import skew, stats
from weather_api_automate_etl_spark.queries import query, t


@query(
    "q_anomaly_iqr",
    oracle="""
    WITH s AS (
      SELECT event_type,
             ROUND(quantile_cont(value, 0.25)
                   - 1.5 * (quantile_cont(value, 0.75)
                            - quantile_cont(value, 0.25)), 6) AS lo,
             ROUND(quantile_cont(value, 0.75)
                   + 1.5 * (quantile_cont(value, 0.75)
                            - quantile_cont(value, 0.25)), 6) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value, s.lo, s.hi,
           (e.value < s.lo OR e.value > s.hi) AS is_outlier
    FROM events e JOIN s USING (event_type)
    """,
)
def q_anomaly_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier flags per event_type: values outside
    [Q1 − 1.5·IQR, Q3 + 1.5·IQR] — the robust anomaly gate (winsorize's
    flag-don't-clamp sibling). Quartiles are EXACT interpolated
    percentiles (one group aggregate, group-cardinality output) broadcast
    back onto the stream — a map-side join, no second shuffle of the fact
    table. Fences are rounded BEFORE the comparison on both engines so
    the boolean can't flip on a last-ulp quantile difference.
    """
    ev = t(spark, sf_dir, "events")
    q1 = F.expr("percentile(value, 0.25)")
    q3 = F.expr("percentile(value, 0.75)")
    stats = ev.groupBy("event_type").agg(
        F.round(q1 - 1.5 * (q3 - q1), 6).alias("lo"),
        F.round(q3 + 1.5 * (q3 - q1), 6).alias("hi"),
    )
    return ev.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        "value",
        "lo",
        "hi",
        ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))).alias(
            "is_outlier"
        ),
    )


@query(
    "q_linreg_by_group",
    oracle="""
    WITH m AS (
      SELECT l_returnflag, CAST(count(*) AS DOUBLE) AS n,
             SUM(l_quantity) AS sx, SUM(l_extendedprice) AS sy,
             SUM(l_quantity * l_extendedprice) AS sxy,
             SUM(l_quantity * l_quantity) AS sxx,
             SUM(l_extendedprice * l_extendedprice) AS syy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
           ROUND((n * sxy - sx * sy) / vx, 6) + 0.0 AS slope,
           ROUND((sy - (n * sxy - sx * sy) / vx * sx) / n, 6) + 0.0
             AS intercept,
           ROUND((n * sxy - sx * sy) / SQRT(vx * vy), 6) + 0.0 AS corr_xy,
           ROUND(POWER(n * sxy - sx * sy, 2) / (vx * vy), 6) AS r2
    FROM (
      SELECT *,
             CASE WHEN n * sxx - sx * sx > 1e-14 * n * sxx
                  THEN n * sxx - sx * sx END AS vx,
             CASE WHEN n * syy - sy * sy > 1e-14 * n * syy
                  THEN n * syy - sy * sy END AS vy
      FROM m
    )
    """,
)
def q_linreg_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group closed-form OLS (extendedprice ~ quantity by returnflag):
    slope, intercept, Pearson r, R² — the drift/trend fit feature
    pipelines compute per segment. Everything derives from FIVE moment
    sums in ONE map-side-combined aggregate (the mergeable-statistics
    pattern: partial moments combine associatively, so this is the same
    shape at 100 TB), with the closed forms spelled identically on both
    engines rather than leaning on regr_* built-ins whose internal
    formulations (single- vs two-pass centering) differ across engines.
    """
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    m = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(x).alias("sx"),
            F.sum(y).alias("sy"),
            F.sum(x * y).alias("sxy"),
            F.sum(x * x).alias("sxx"),
            F.sum(y * y).alias("syy"),
        )
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    from weather_api_automate_etl_spark.operators.stats import (
        ols_from_moments,
        round0,
    )

    # stats.ols_from_moments: relative-floor variance guards (degenerate
    # groups NULL on both engines, never NaN/garbage ±1) — and round0 on
    # the aggregated near-zero-able outputs (−0.0 hash hazard)
    slope, intercept, corr, r2 = ols_from_moments(n, sx, sy, sxy, sxx, syy)
    return m.select(
        "l_returnflag",
        n.cast("long").alias("n_rows"),
        round0(slope, 6).alias("slope"),
        round0(intercept, 6).alias("intercept"),
        round0(corr, 6).alias("corr_xy"),
        F.round(r2, 6).alias("r2"),
    )


@query(
    "q_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid,
           COUNT(*) AS n_rows, ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube over (returnflag, linestatus) with grouping_id — all four
    grouping sets in one pass (Spark expands to a single Expand + hash agg,
    first grouping column is the grouping_id MSB on both engines)."""
    return (
        t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@query(
    "q_conditional_agg",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
           ROUND(SUM(o_totalprice) FILTER (WHERE o_totalprice > 200000.0e0), 2)
             AS high_value_revenue
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregates (SQL FILTER clause) in one grouped pass —
    no self-joins, no multiple scans."""
    orders = t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count_if(F.col("o_orderstatus") == "F").alias("n_filled"),
        F.round(
            F.sum(F.when(F.col("o_totalprice") > 200000.0, F.col("o_totalprice"))), 2
        ).alias("high_value_revenue"),
    )


@query(
    "q_salted_agg",
    oracle="""
    SELECT l_returnflag,
           COUNT(l_quantity) AS n_rows,
           ROUND(SUM(l_extendedprice), 2) AS total_price,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation on a 3-value (maximally hot) grouping
    key. Results are identical to a plain GROUP BY — the oracle proves the
    salting transform is semantics-transparent — while each reduce task
    handles at most 1/16 of a hot key's rows.

    Rounding: SUM merges exact per-salt partial sums, so the phase-2 sum
    is a reordering of the same doubles; round(2) absorbs the last-ulp
    difference exactly as for every other double aggregate."""
    li = t(spark, sf_dir, "lineitem")
    out = skew.salted_agg(
        li,
        keys=["l_returnflag"],
        aggs={
            "n_rows": ("l_quantity", "count"),
            "total_price": ("l_extendedprice", "sum"),
            "min_qty": ("l_quantity", "min"),
            "max_qty": ("l_quantity", "max"),
        },
        salt_from="l_orderkey",
        n_salts=16,
    )
    return out.withColumn("total_price", F.round("total_price", 2))


@query(
    "q_array_agg",
    oracle="""
    SELECT l_orderkey,
           array_to_string(list(l_linenumber ORDER BY l_linenumber), ',')
             AS line_numbers,
           CAST(len(list(l_linenumber)) AS INTEGER) AS n_lines,
           CAST(list_max(list(l_linenumber)) AS INTEGER) AS max_line,
           array_to_string(list_sort(list_distinct(list(l_returnflag))), ',')
             AS flags
    FROM lineitem GROUP BY l_orderkey
    """,
)
def q_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-type aggregation: per-order sorted line-number arrays plus
    array length/max/distinct — collect_list with explicit sort_array
    (collect order is partition-dependent; sorting restores determinism).

    Array outputs are serialized to comma-joined strings in BOTH twins:
    the external harness canonicalizes results through a pandas sort, which
    cannot hash list-valued cells (round-1 red row)."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("l_linenumber")).cast("array<string>"),
                ",",
            ).alias("line_numbers"),
            F.count("l_linenumber").cast("int").alias("n_lines"),
            F.max("l_linenumber").alias("max_line"),
            F.array_join(
                F.array_distinct(F.sort_array(F.collect_list("l_returnflag"))), ","
            ).alias("flags"),
        )
    )


@query(
    "q_argmax",
    oracle="""
    SELECT o_orderpriority,
           MAX(CASE WHEN rn_max = 1 THEN o_orderkey END) AS top_orderkey,
           MAX(CASE WHEN rn_min = 1 THEN o_orderkey END) AS cheapest_orderkey,
           ROUND(MAX(o_totalprice), 2) AS max_price
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey DESC)
               AS rn_max,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice ASC, o_orderkey ASC)
               AS rn_min
      FROM orders
    ) GROUP BY 1
    """,
)
def q_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax/argmin per group via max_by/min_by keyed on a (price, key)
    struct — the struct tie-break makes the pick deterministic, which bare
    max_by is not. Single aggregate pass, no window shuffle; the oracle
    proves equivalence against the row_number() formulation."""
    key_struct = F.struct("o_totalprice", "o_orderkey")
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.max_by("o_orderkey", key_struct).alias("top_orderkey"),
            F.min_by("o_orderkey", key_struct).alias("cheapest_orderkey"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


@query(
    "q_histogram",
    oracle="""
    SELECT CAST(least(floor(o_totalprice / 30000e0), 19) AS INTEGER)
             AS bucket,
           ROUND(least(floor(o_totalprice / 30000e0), 19) * 30000e0, 2)
             AS bucket_lo,
           COUNT(*) AS n,
           ROUND(AVG(o_totalprice), 4) AS avg_price
    FROM orders GROUP BY 1, 2
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order value: 20 x 30k buckets with an
    overflow top bucket (width_bucket semantics spelled out as floor math so
    both engines compute bit-identical bucket ids). Map-side combinable —
    the shuffle carries at most 20 rows per task."""
    bucket = F.least(F.floor(F.col("o_totalprice") / 30000.0), F.lit(19)).cast(
        "int"
    )
    return (
        t(spark, sf_dir, "orders")
        .groupBy(
            bucket.alias("bucket"),
            F.round(bucket * 30000.0, 2).alias("bucket_lo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
    )


@query(
    "q_winsorize",
    oracle="""
    WITH q AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS lo,
             quantile_cont(value, 0.95) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) FILTER (WHERE value < lo) AS BIGINT) AS n_clamped_lo,
           CAST(COUNT(*) FILTER (WHERE value > hi) AS BIGINT) AS n_clamped_hi,
           ROUND(AVG(value), 6) AS mean_raw,
           ROUND(AVG(CASE WHEN value < lo THEN lo
                          WHEN value > hi THEN hi
                          ELSE value END), 6) AS mean_winsor
    FROM events e JOIN q USING (event_type)
    GROUP BY e.event_type
    """,
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust aggregation: clamp each group's values to its own
    exact [p05, p95] before averaging — the outlier-taming step quality
    filters apply before thresholding on corpus statistics. Two aggregate
    passes over the data (quantiles, then clamped stats) joined through a
    broadcast group-cardinality quantile table; Spark's exact
    ``percentile`` and DuckDB's ``quantile_cont`` share linear-interpolation
    semantics, so the twins agree to the rounded digit."""
    ev = t(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("lo"),
        F.expr("percentile(value, 0.95)").alias("hi"),
    )
    clamped = F.when(F.col("value") < F.col("lo"), F.col("lo")).when(
        F.col("value") > F.col("hi"), F.col("hi")
    ).otherwise(F.col("value"))
    return (
        ev.join(F.broadcast(q), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("value") < F.col("lo"), 1)).alias("n_clamped_lo"),
            F.count(F.when(F.col("value") > F.col("hi"), 1)).alias("n_clamped_hi"),
            F.round(F.avg("value"), 6).alias("mean_raw"),
            F.round(F.avg(clamped), 6).alias("mean_winsor"),
        )
    )


@query(
    "q_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type, m.med,
             quantile_cont(abs(e.value - m.med), 0.5) AS mad
      FROM events e JOIN med m USING (event_type)
      GROUP BY e.event_type, m.med
    )
    SELECT e.event_id, e.event_type, e.value,
           ROUND(m.med, 6) AS med, ROUND(m.mad, 6) AS mad,
           ROUND(0.6745 * (e.value - m.med) / NULLIF(m.mad, 0), 6)
             AS robust_z,
           abs(ROUND(0.6745 * (e.value - m.med) / NULLIF(m.mad, 0), 6)) > 3.5
             AS is_outlier
    FROM events e JOIN mad m USING (event_type)
    """,
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation robust z-scores per event_type
    (0.6745·(x − med)/MAD, flag |z| > 3.5) — the outlier gate that
    survives heavy-tailed value distributions where mean/stddev z-scores
    (q_zscore) and even IQR fences drift. Two group aggregates (median,
    then median of absolute residuals — the second pass is inherent to
    MAD) with the group-cardinality stats broadcast back onto the
    stream; the flag compares the ROUNDED z on both engines so it can't
    flip on a last-ulp quantile difference (the anomaly_iqr
    discipline)."""
    return stats.mad_robust_z(
        t(spark, sf_dir, "events"),
        "event_type",
        "value",
        keep_cols=("event_id",),
    )


@query(
    "q_basket_pairs",
    oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS n_orders FROM b),
    m AS (SELECT l_partkey, count(*) AS c FROM b GROUP BY l_partkey),
    p AS (
      SELECT a.l_partkey AS p1, b2.l_partkey AS p2, count(*) AS c_ab
      FROM b a JOIN b b2
        ON a.l_orderkey = b2.l_orderkey AND a.l_partkey < b2.l_partkey
      GROUP BY a.l_partkey, b2.l_partkey
      HAVING count(*) >= 2
    )
    SELECT p.p1, p.p2, CAST(p.c_ab AS BIGINT) AS c_ab,
           ROUND(p.c_ab / CAST(m1.c AS DOUBLE), 6) AS confidence,
           ROUND(n.n_orders * p.c_ab / (CAST(m1.c AS DOUBLE) * m2.c), 6)
             AS lift
    FROM p JOIN m m1 ON m1.l_partkey = p.p1
           JOIN m m2 ON m2.l_partkey = p.p2, n
    """,
)
def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association pairs over order line items: support
    count, confidence P(p2|p1) and lift for every part pair co-occurring
    in ≥ 2 orders — the co-occurrence mining shape (recommendations,
    co-purchase graphs; on documents it's the PMI recipe with orders as
    context windows). The self-join is keyed on the ORDER (fan-out
    quadratic only in basket size, which is bounded — never all-pairs
    across parts); marginals join part-keyed (part-cardinality tables,
    deliberately NOT broadcast at catalog scale); the order total is a
    1-row broadcast."""
    return stats.basket_pairs(
        t(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey"
    )


@query(
    "q_rfm_segments",
    oracle="""
    WITH cust AS (
      SELECT o_custkey, max(o_orderdate) AS last_order,
             count(*) AS freq, ROUND(sum(o_totalprice), 2) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    mx AS (SELECT max(o_orderdate) AS maxd FROM orders),
    base AS (
      SELECT o_custkey,
             CAST(date_diff('day', last_order, mx.maxd) AS INTEGER) AS recency,
             CAST(freq AS BIGINT) AS freq, monetary
      FROM cust, mx
    ),
    q AS (
      SELECT ROUND(quantile_cont(recency, 0.25), 6) AS r1,
             ROUND(quantile_cont(recency, 0.50), 6) AS r2,
             ROUND(quantile_cont(recency, 0.75), 6) AS r3,
             ROUND(quantile_cont(freq, 0.25), 6) AS f1,
             ROUND(quantile_cont(freq, 0.50), 6) AS f2,
             ROUND(quantile_cont(freq, 0.75), 6) AS f3,
             ROUND(quantile_cont(monetary, 0.25), 6) AS m1,
             ROUND(quantile_cont(monetary, 0.50), 6) AS m2,
             ROUND(quantile_cont(monetary, 0.75), 6) AS m3
      FROM base
    )
    SELECT b.o_custkey, b.recency, b.freq, b.monetary,
           CAST(4 - ((b.recency > q.r1)::INT + (b.recency > q.r2)::INT
                     + (b.recency > q.r3)::INT) AS INTEGER) AS r_score,
           CAST(1 + ((b.freq > q.f1)::INT + (b.freq > q.f2)::INT
                     + (b.freq > q.f3)::INT) AS INTEGER) AS f_score,
           CAST(1 + ((b.monetary > q.m1)::INT + (b.monetary > q.m2)::INT
                     + (b.monetary > q.m3)::INT) AS INTEGER) AS m_score
    FROM base b, q
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency (days since last order),
    frequency, monetary per customer, each scored 1–4 by GLOBAL quartile
    boundaries (recency inverted — recent = 4). The boundaries come from
    ONE aggregate broadcast back as a single row — never a global
    ntile, whose unpartitioned window is exactly the single-partition
    sort this repo bans at scale (q_ntile_bucket's windows are
    per-group; a customer-cardinality frame has no such key).
    Boundaries and monetary are rounded before comparison on both
    engines (the anomaly_iqr fence discipline)."""
    return stats.rfm_scores(
        t(spark, sf_dir, "orders"), "o_custkey", "o_orderdate", "o_totalprice"
    )


_SKEW_TOP_K = 10


@query(
    "q_skew_profile",
    oracle=f"""
    WITH c AS (
      SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
    ),
    tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total,
                   quantile_cont(cnt, 0.5) AS med FROM c)
    SELECT CAST(rnk AS INTEGER) AS rnk, user_id, CAST(cnt AS BIGINT) AS cnt,
           ROUND(cnt / total, 6) AS share,
           ROUND(cnt / med, 6) AS x_median
    FROM (
      SELECT c.user_id, c.cnt, t.total, t.med,
             row_number() OVER (ORDER BY c.cnt DESC, c.user_id ASC) AS rnk
      FROM c, tot t
    )
    WHERE rnk <= {_SKEW_TOP_K}
    """,
)
def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key diagnostic for a join/aggregation key: the top-10 heaviest
    user_ids with their share of all rows and their multiple of the
    median key size — the measurement that decides whether the salted
    join/agg path (operators/skew.py) is worth its extra shuffle. One
    key-cardinality count aggregate; the ranking window runs over the
    COUNT table, not the rows, and top-k of a key-cardinality frame is
    WindowGroupLimit-pruned (the global window is over key counts —
    metadata relative to the fact table — with the limit pushed into
    each partition before the single-partition rank)."""
    return stats.skew_profile(
        t(spark, sf_dir, "events"), "user_id", top_k=_SKEW_TOP_K
    )


_AB_SALT = "exp1"


@query(
    "q_ab_lift",
    oracle=f"""
    WITH armed AS (
      SELECT CAST(CAST(concat('0x', substr(md5(concat('{_AB_SALT}:',
                                                      CAST(user_id AS VARCHAR))),
                                            1, 8)) AS UBIGINT) % 2 AS INTEGER)
               AS arm,
             value AS v
      FROM events
    ),
    m AS (
      SELECT CAST(count(CASE WHEN arm = 0 THEN v END) AS BIGINT) AS n_a,
             CAST(count(CASE WHEN arm = 1 THEN v END) AS BIGINT) AS n_b,
             ROUND(avg(CASE WHEN arm = 0 THEN v END), 6) AS mean_a,
             ROUND(avg(CASE WHEN arm = 1 THEN v END), 6) AS mean_b,
             ROUND(stddev_samp(CASE WHEN arm = 0 THEN v END), 6) AS sd_a,
             ROUND(stddev_samp(CASE WHEN arm = 1 THEN v END), 6) AS sd_b
      FROM armed
    )
    SELECT n_a, n_b, mean_a, mean_b, sd_a, sd_b,
           ROUND((mean_b - mean_a)
                 / NULLIF(SQRT(sd_a * sd_a / n_a + sd_b * sd_b / n_b), 0),
                 6) + 0.0 AS z,
           ROUND((mean_b - mean_a) / NULLIF(mean_a, 0), 6) + 0.0 AS rel_lift
    FROM m
    """,
)
def q_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A/B experiment readout
    (operators/stats.py::ab_test_welch): users hash-split 50/50 on a
    salted md5 (replayable, engine-portable — a unit keeps its arm
    across reruns and engines, the mixture-sampling discipline), then
    Welch's unequal-variance z and relative lift between the arms. ONE
    conditional aggregate produces both arms' moments (map-side
    combined, 1-row output); the z derives from the ROUNDED means/sds
    so it is hash-stable."""
    return stats.ab_test_welch(
        t(spark, sf_dir, "events"), "user_id", "value", salt=_AB_SALT
    )


_CONV_TARGET = "purchase"


@query(
    "q_first_touch",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP), event_id)
               AS rn
      FROM events
    ),
    per_unit AS (
      SELECT user_id,
             max(CASE WHEN rn = 1 THEN event_type END) AS first_touch,
             max(CASE WHEN event_type = '{_CONV_TARGET}' THEN 1 ELSE 0 END)
               AS converted
      FROM seq GROUP BY user_id
    )
    SELECT first_touch, CAST(count(*) AS BIGINT) AS n_units,
           CAST(sum(converted) AS BIGINT) AS n_converted,
           ROUND(sum(converted) / CAST(count(*) AS DOUBLE), 6) + 0.0
             AS conversion_rate
    FROM per_unit GROUP BY first_touch
    """,
)
def q_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution
    (operators/stats.py::first_touch_conversion): each user's FIRST
    event type (acquisition channel) against whether they ever reached
    'purchase' — conversion counts and rate per channel, the question
    every funnel report starts with. One user-keyed window picks the
    first touch, one user-keyed aggregate flags conversion, then a
    channel-cardinality rollup — nothing joins at event scale."""
    return stats.first_touch_conversion(
        t(spark, sf_dir, "events"),
        "user_id",
        "event_type",
        ("ts", "event_id"),
        target=_CONV_TARGET,
    )


@query(
    "q_preagg_reuse",
    oracle="""
    SELECT CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week,
           event_type,
           CAST(COUNT(value) AS BIGINT) AS n_values,
           ROUND(SUM(value), 6) AS sum_value,
           ROUND(SUM(value) / NULLIF(COUNT(value), 0), 6) AS mean_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_preagg_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Algebraic pre-aggregate reuse — the rollup-maintenance pattern: a
    DAILY partial-aggregate table (count, sum per (day, type)) answers the
    WEEKLY question by re-aggregating 365 rows/year instead of rescanning
    the event log, and the mean derives from merged sums (never an
    average of averages — the classic non-algebraic bug this query's
    oracle would catch, since it aggregates the raw events directly).
    At 100 TB this is the difference between a dashboard query touching
    kilobytes of rollup vs terabytes of log."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(
        F.count(F.col("value")).alias("n"),
        F.sum("value").alias("s"),
    )
    return (
        daily.groupBy(
            F.date_trunc("week", F.col("day")).cast("date").alias("week"),
            "event_type",
        )
        .agg(
            F.sum("n").cast("long").alias("n_values"),
            F.round(F.sum("s"), 6).alias("sum_value"),
            F.round(
                F.sum("s") / F.nullif(F.sum("n").cast("double"), F.lit(0.0)), 6
            ).alias("mean_value"),
        )
    )


@query(
    "q_mode_by_group",
    oracle="""
    SELECT event_type, hour, n FROM (
      SELECT event_type,
             CAST(date_part('hour', CAST(ts AS TIMESTAMP)) AS INTEGER) AS hour,
             CAST(COUNT(*) AS BIGINT) AS n,
             row_number() OVER (
               PARTITION BY event_type ORDER BY COUNT(*) DESC,
               CAST(date_part('hour', CAST(ts AS TIMESTAMP)) AS INTEGER)
             ) AS rk
      FROM events GROUP BY 1, 2
    ) WHERE rk = 1
    """,
)
def q_mode_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode (most frequent hour-of-day per event type, ties to
    the lowest hour — the deterministic rule): count-then-argmax via a
    group-keyed WindowGroupLimit top-1 over the 24-row-per-group
    aggregate — never a value-keyed shuffle of raw events beyond the
    count itself. The everyday 'what's the typical X per group' query."""
    from weather_api_automate_etl_spark.functions.core import pg_hour

    counted = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", pg_hour("ts").alias("hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("n"), F.asc("hour"))
    return (
        counted.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("event_type", "hour", "n")
    )


@query(
    "q_chi_square",
    oracle="""
    WITH obs AS (
      SELECT event_type AS a,
             CAST(date_part('hour', CAST(ts AS TIMESTAMP)) AS INTEGER) AS b
      FROM events
      WHERE event_type IS NOT NULL AND ts IS NOT NULL
    ),
    counts AS (SELECT a, b, COUNT(*) AS o FROM obs GROUP BY a, b),
    ra AS (SELECT a, SUM(o) AS ra FROM counts GROUP BY a),
    cb AS (SELECT b, SUM(o) AS cb FROM counts GROUP BY b),
    nn AS (SELECT CAST(SUM(o) AS DOUBLE) AS n FROM counts),
    grid AS (
      SELECT ra.a, cb.b,
             CAST(COALESCE(c.o, 0) AS DOUBLE) AS o,
             ra.ra * cb.cb / (SELECT n FROM nn) AS e
      FROM ra CROSS JOIN cb LEFT JOIN counts c ON c.a = ra.a AND c.b = cb.b
    )
    SELECT ROUND(SUM((o - e) * (o - e) / e), 6) AS chi2,
           CAST((COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1) AS BIGINT)
             AS dof,
           CAST((SELECT n FROM nn) AS BIGINT) AS n_obs
    FROM grid
    """,
)
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test between event type and
    hour-of-day (operators/stats.py::chi_square_independence) — the
    canonical categorical-dependence readout. The full r×c grid including
    zero cells is crossed from the two category sets (metadata-scale,
    broadcast) because the statistic requires expected counts for
    UNOBSERVED cells too — the bug a naive groupBy-only version hides."""
    from weather_api_automate_etl_spark.functions.core import pg_hour

    ev = t(spark, sf_dir, "events").select(
        "event_type", pg_hour("ts").alias("hour")
    )
    return stats.chi_square_independence(ev, "event_type", "hour")


_PSI_EDGES = (50_000.0, 100_000.0, 150_000.0, 200_000.0, 300_000.0)


@query(
    "q_psi_drift",
    oracle=f"""
    WITH old_side AS (
      SELECT o_totalprice AS v FROM orders WHERE o_orderkey % 2 = 0
    ),
    new_side AS (
      SELECT o_totalprice * 1.25 AS v FROM orders WHERE o_orderkey % 2 = 1
    ),
    edges(e) AS (VALUES {", ".join(f"({e!r})" for e in _PSI_EDGES)}),
    ob AS (
      SELECT (SELECT COUNT(*) FROM edges WHERE v >= e) AS bin_id,
             COUNT(*) AS n_old
      FROM old_side WHERE v IS NOT NULL GROUP BY 1
    ),
    nb AS (
      SELECT (SELECT COUNT(*) FROM edges WHERE v >= e) AS bin_id,
             COUNT(*) AS n_new
      FROM new_side WHERE v IS NOT NULL GROUP BY 1
    ),
    grid AS (SELECT unnest(range({len(_PSI_EDGES) + 1})) AS bin_id),
    j AS (
      SELECT CAST(g.bin_id AS INTEGER) AS bin_id,
             CAST(COALESCE(ob.n_old, 0) AS BIGINT) AS n_old,
             CAST(COALESCE(nb.n_new, 0) AS BIGINT) AS n_new
      FROM grid g LEFT JOIN ob ON ob.bin_id = g.bin_id
                  LEFT JOIN nb ON nb.bin_id = g.bin_id
    ),
    tot AS (SELECT SUM(n_old) AS t_o, SUM(n_new) AS t_n FROM j)
    SELECT bin_id, n_old, n_new,
           ROUND(GREATEST(n_old / t_o, 1e-6), 6) AS p_old,
           ROUND(GREATEST(n_new / t_n, 1e-6), 6) AS p_new,
           ROUND((GREATEST(n_new / t_n, 1e-6) - GREATEST(n_old / t_o, 1e-6))
                 * ln(GREATEST(n_new / t_n, 1e-6) / GREATEST(n_old / t_o, 1e-6)),
                 6) AS psi_term
    FROM j CROSS JOIN tot
    """,
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift gate (operators/stats.py::
    psi_drift): the distribution of order totals in a simulated
    repriced-by-25% snapshot against the baseline split, over FIXED bin
    edges (never data-derived quantiles — fixed edges are what makes PSI
    reproducible across engines, runs, and time). Emits the full per-bin
    decomposition (counts, eps-floored proportions, psi terms); the
    headline Σpsi_term is what a feature-drift monitor thresholds at
    0.1/0.25. Deliberate drift: a uniform +25% reprice shifts mass up a
    bin wherever a bin edge falls inside the scaled range, so several
    terms are decisively non-zero."""

    orders = t(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_totalprice")
    )
    new = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        (F.col("o_totalprice") * F.lit(1.25)).alias("o_totalprice")
    )
    return stats.psi_drift(old, new, "o_totalprice", list(_PSI_EDGES))


@query(
    "q_ks_drift",
    oracle="""
    WITH a AS (
      SELECT o_totalprice AS v FROM orders
      WHERE o_orderkey % 2 = 0 AND o_totalprice IS NOT NULL
    ),
    b AS (
      SELECT o_totalprice * 1.25 AS v FROM orders
      WHERE o_orderkey % 2 = 1 AND o_totalprice IS NOT NULL
    ),
    p AS (
      SELECT v, 1 AS ca, 0 AS cb FROM a
      UNION ALL SELECT v, 0, 1 FROM b
    ),
    g AS (SELECT v, SUM(ca) AS na, SUM(cb) AS nb FROM p GROUP BY v),
    c AS (
      SELECT SUM(na) OVER (ORDER BY v) AS cum_a,
             SUM(nb) OVER (ORDER BY v) AS cum_b
      FROM g
    ),
    t AS (
      SELECT CAST(SUM(na) AS DOUBLE) AS n_a,
             CAST(SUM(nb) AS DOUBLE) AS n_b
      FROM g
    )
    SELECT CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           ROUND(MAX(ABS(cum_a / n_a - cum_b / n_b)), 6) AS d_stat
    FROM c CROSS JOIN t
    GROUP BY n_a, n_b
    """,
)
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic (operators/stats.py::
    ks_two_sample) on the same constructed shift as q_psi_drift (baseline
    split vs +25% reprice): D = sup|F_a − F_b| over the pooled observed
    values — PSI's nonparametric sibling, exact with no binning choice.
    The cumulative window runs over distinct VALUES (value-cardinality,
    not rows); totals ride a 1-row broadcast. Integer-count ratios make
    the ECDFs bit-identical across engines, so the single-row readout
    hash-matches with only the final round."""

    orders = t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_totalprice")
    )
    b = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        (F.col("o_totalprice") * F.lit(1.25)).alias("o_totalprice")
    )
    return stats.ks_two_sample(a, b, "o_totalprice")


_JS_EDGES = (50_000.0, 100_000.0, 150_000.0, 200_000.0, 300_000.0)


@query(
    "q_js_drift",
    oracle=f"""
    WITH old_side AS (
      SELECT o_totalprice AS v FROM orders WHERE o_orderkey % 2 = 0
    ),
    new_side AS (
      SELECT o_totalprice * 1.25 AS v FROM orders WHERE o_orderkey % 2 = 1
    ),
    edges(e) AS (VALUES {", ".join(f"({e!r})" for e in _JS_EDGES)}),
    ob AS (
      SELECT (SELECT COUNT(*) FROM edges WHERE v >= e) AS bin_id,
             COUNT(*) AS n_old
      FROM old_side WHERE v IS NOT NULL GROUP BY 1
    ),
    nb AS (
      SELECT (SELECT COUNT(*) FROM edges WHERE v >= e) AS bin_id,
             COUNT(*) AS n_new
      FROM new_side WHERE v IS NOT NULL GROUP BY 1
    ),
    grid AS (SELECT unnest(range({len(_JS_EDGES) + 1})) AS bin_id),
    j AS (
      SELECT CAST(g.bin_id AS INTEGER) AS bin_id,
             CAST(COALESCE(ob.n_old, 0) AS BIGINT) AS n_old,
             CAST(COALESCE(nb.n_new, 0) AS BIGINT) AS n_new
      FROM grid g LEFT JOIN ob ON ob.bin_id = g.bin_id
                  LEFT JOIN nb ON nb.bin_id = g.bin_id
    ),
    tot AS (SELECT SUM(n_old) AS t_o, SUM(n_new) AS t_n FROM j),
    pq AS (
      SELECT bin_id, n_old, n_new,
             GREATEST(n_old / t_o, 1e-6) AS p,
             GREATEST(n_new / t_n, 1e-6) AS q
      FROM j CROSS JOIN tot
    )
    SELECT bin_id, n_old, n_new,
           ROUND(p, 6) AS p_old,
           ROUND(q, 6) AS p_new,
           ROUND(0.5 * p * ln(p / ((p + q) / 2))
                 + 0.5 * q * ln(q / ((p + q) / 2)), 6) AS js_term
    FROM pq
    """,
)
def q_js_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon drift gate (operators/stats.py::js_divergence) —
    the bounded, symmetric sibling of q_psi_drift over the same fixed
    bins and the same deliberate +25% reprice drift: JSD lives in
    [0, ln 2], never blows up on one-sided empty bins (the mixture M is
    never empty), and is what corpus-mix monitors threshold when
    tracking source proportions between crawls. Emits the full per-bin
    decomposition; Σjs_term is the headline divergence. Same
    scan-rate shape as PSI: two count aggregates + a bins-sized grid."""

    orders = t(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_totalprice")
    )
    new = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        (F.col("o_totalprice") * F.lit(1.25)).alias("o_totalprice")
    )
    return stats.js_divergence(old, new, "o_totalprice", list(_JS_EDGES))


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
    "q_attribution_linear", oracle=_ATTR_ORACLE
)
def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution over the events stream
    (operators/stats.py::linear_attribution): purchases split credit
    equally across the same user's click/view touches in the prior
    7 days (strictly earlier). The join is USER-keyed with a bounded
    time-range predicate — per-key fan-out is events-per-user-per-week,
    never a cross-user interval join — and the '(direct)' row keeps
    Σcredit = Σconversions auditable."""

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


_LTV_ORACLE = """
    WITH base AS (
      SELECT o_custkey AS c, date_trunc('month', o_orderdate) AS m,
             o_totalprice AS r
      FROM orders
    ),
    fst AS (SELECT c, MIN(m) AS cohort FROM base GROUP BY c),
    sizes AS (
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_customers
      FROM fst GROUP BY cohort
    ),
    cells AS (
      SELECT cohort,
             CAST(datediff('month', cohort, m) AS INTEGER) AS age_months,
             SUM(r) AS rev
      FROM base JOIN fst USING (c) GROUP BY 1, 2
    ),
    cum AS (
      SELECT cohort, age_months, rev,
             SUM(rev) OVER (PARTITION BY cohort ORDER BY age_months
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumr
      FROM cells
    )
    SELECT CAST(cohort AS DATE) AS cohort_month, age_months, n_customers,
           ROUND(rev, 6) AS revenue,
           ROUND(cumr, 6) AS cum_revenue,
           ROUND(cumr / CAST(n_customers AS DOUBLE), 6) AS ltv_per_customer
    FROM cum JOIN sizes USING (cohort)
"""


@query("q_cohort_ltv", oracle=_LTV_ORACLE)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly-cohort LTV curve (operators/marts.py::cohort_ltv): one
    per-customer min aggregate joined back on the customer key, one
    months-sized (cohort, age) rollup, a cumulative window over that
    tiny table — nothing row-scale past the first two shuffles."""
    from weather_api_automate_etl_spark.operators import marts

    return marts.cohort_ltv(
        t(spark, sf_dir, "orders"), "o_custkey", "o_orderdate",
        "o_totalprice",
    )
