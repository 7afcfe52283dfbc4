"""Join queries beyond the equi-join: as-of, range and interval joins,
salted skew joins, Bloom-filter pruning, bucketed joins, geo joins and
dynamic partition pruning.

Registry and oracle conventions: queries.py.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.operators import joins, skew, windows
from weather_api_automate_etl_spark.queries import query, scratch, t


@query(
    "q_asof_join",
    oracle="""
    SELECT c.event_id, CAST(c.ts AS TIMESTAMP) AS ts, c.user_id,
           p.purchase_ts, p.purchase_value
    FROM (SELECT event_id, ts, user_id FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS purchase_ts,
             MAX(value) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ) p ON c.user_id = p.user_id AND CAST(c.ts AS TIMESTAMP) >= p.purchase_ts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attach each click to the user's latest prior-or-simultaneous purchase.

    Spark has no ASOF JOIN; operators/joins.py::asof_join implements the
    union-merge strategy (one shuffle on user_id, no range cartesian). The
    DuckDB oracle uses its native ASOF LEFT JOIN — an independent engine's
    implementation of the same semantics."""
    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").alias("purchase_ts"))
        .agg(F.max("value").alias("purchase_value"))
    )
    return joins.asof_join(
        clicks,
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="purchase_ts",
        payload_cols=["purchase_ts", "purchase_value"],
    )


_TIERS = [
    ("micro", 0.0, 25_000.0),
    ("small", 25_000.0, 100_000.0),
    ("medium", 100_000.0, 200_000.0),
    ("large", 200_000.0, 350_000.0),
    ("jumbo", 350_000.0, 1_000_000.0),
]


@query(
    "q_range_join",
    oracle="""
    SELECT tier, COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS tier_revenue
    FROM orders
    JOIN (
      VALUES ('micro',  0.0e0,      25000.0e0),
             ('small',  25000.0e0,  100000.0e0),
             ('medium', 100000.0e0, 200000.0e0),
             ('large',  200000.0e0, 350000.0e0),
             ('jumbo',  350000.0e0, 1000000.0e0)
    ) tiers(tier, lo, hi)
      ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY tier
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi interval join: price tiers via a broadcast range table.

    The 5-row tier dim is broadcast (BroadcastNestedLoopJoin) so the orders
    side never shuffles for the join; only the tiny post-join agg does."""
    orders = t(spark, sf_dir, "orders")
    ranges = spark.createDataFrame(_TIERS, "tier string, lo double, hi double")
    return (
        joins.range_join_small(orders, ranges, "o_totalprice")
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("tier_revenue"),
        )
    )


@query(
    "q_interval_join",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, ts,
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
    ),
    sess AS (
      SELECT user_id, session_seq,
             MIN(CAST(ts AS TIMESTAMP)) AS session_start,
             MAX(CAST(ts AS TIMESTAMP)) AS session_end
      FROM s GROUP BY 1, 2
    )
    SELECT e.event_id, e.user_id, sess.session_seq
    FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = 'error') e
    JOIN sess ON e.user_id = sess.user_id
             AND e.ts BETWEEN sess.session_start AND sess.session_end
    """,
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every error event to its containing user session — a big-big
    point-in-interval join.

    Both sides scale with the data, so broadcasting is off the table; the
    operator bucketizes to hourly bins and equi-joins on (user_id, bin) +
    residual BETWEEN (operators/joins.py::interval_join_binned). The DuckDB
    oracle runs the naive inequality join — same rows, different strategy."""
    ev = t(spark, sf_dir, "events")
    sessions = windows.sessionize(ev, gap_minutes=30).select(
        "user_id", "session_seq", "session_start", "session_end"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    return joins.interval_join_binned(
        errors,
        sessions,
        key="user_id",
        ts_col="ts",
        lo_col="session_start",
        hi_col="session_end",
    ).select("event_id", "user_id", "session_seq")


@query(
    "q_salted_join",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, o.o_orderpriority,
           ROUND(l.l_extendedprice, 2) AS price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe shuffled join, result-identical to the plain equi-join the
    oracle runs: the big (lineitem) side is salted 8 ways, the orders side
    replicated across salts, joined on (key, salt) — hot orderkeys spread
    over 8 reducers instead of one. The contract pins that salting is
    semantics-preserving; operators/skew.py guards the join types where
    that holds."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    return skew.salted_join(
        li,
        orders.withColumnRenamed("o_orderkey", "l_orderkey"),
        on="l_orderkey",
        salt_from="l_linenumber",
        n_salts=8,
    ).select(
        "l_orderkey",
        "l_linenumber",
        "o_orderpriority",
        F.round("l_extendedprice", 2).alias("price"),
    )


@query(
    "q_bloom_prune",
    oracle="""
    SELECT l_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    WHERE l_suppkey IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal >= 5000.0
    )
    GROUP BY l_suppkey
    """,
)
def q_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned semi join (operators/joins.py::bloom_prune_join): the
    fact scan is pre-filtered by a literal 8 KiB bitmap of the (runtime-
    filtered) supplier key set — all probe bits tested inside whole-stage
    codegen, no shuffle, no Python — then the exact left-semi join runs on
    the survivors only. Bit-identical to the plain semi join (false
    positives removed by phase 2, false negatives impossible), which is
    exactly what the oracle checks; what changes at 100 TB is the shuffle
    volume, which drops from |facts| to the survivor count. This is the
    user-level form of Spark's runtime row-level Bloom pruning, available
    where the optimizer can't inject it (pre-filtered build sides,
    cross-job filter reuse, sink-side manifests)."""

    line = t(spark, sf_dir, "lineitem")
    keys = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") >= 5000.0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return joins.bloom_prune_join(line, keys, "l_suppkey").groupBy(
        "l_suppkey"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@query(
    "q_bucketed_join",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table sort-merge join: both sides are persisted
    hash-bucketed AND per-bucket sorted on the join key
    (operators/joins.py::write_bucketed — the shuffle is paid once, at
    write time), then joined via bucketed_equi_join, whose physical plan
    has NO Exchange under the SortMergeJoin (pinned by
    tests/test_wave16.py::test_bucketed_join_plan_has_no_exchange). The
    oracle is the plain join — co-location must be invisible in the
    answer. This is THE layout decision that turns a daily 100 TB
    fact-to-fact join from a full two-sided shuffle into a local merge."""

    u = uuid.uuid4().hex[:10]
    ln, rn = f"q_smb_l_{u}", f"q_smb_r_{u}"
    with scratch("q_bucketed_join") as base:
        try:
            joins.write_bucketed(
                t(spark, sf_dir, "lineitem").select(
                    "l_orderkey", "l_extendedprice", "l_discount"
                ),
                "l_orderkey", 8, ln, f"{base}/l",
            )
            joins.write_bucketed(
                t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
                "o_orderkey", 8, rn, f"{base}/r",
            )
            j = joins.bucketed_equi_join(spark, ln, rn, "l_orderkey", "o_orderkey")
            result = (
                j.groupBy("o_orderpriority")
                .agg(
                    F.count(F.lit(1)).alias("n_items"),
                    F.round(
                        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                        2,
                    ).alias("revenue"),
                )
                .localCheckpoint(eager=True)
            )
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {ln}")
            spark.sql(f"DROP TABLE IF EXISTS {rn}")
    return result


_GEO_ORACLE = """
    WITH c AS (
      SELECT c_custkey,
             (c_custkey * 37 % 9000) / 100.0 - 45.0 AS clat,
             (c_custkey * 73 % 34000) / 100.0 - 170.0 AS clon
      FROM customer
    ),
    s AS (
      SELECT s_suppkey,
             (s_suppkey * 53 % 9000) / 100.0 - 45.0 AS slat,
             (s_suppkey * 97 % 34000) / 100.0 - 170.0 AS slon
      FROM supplier
    ),
    cl AS (
      SELECT c.*,
             CAST(floor(clat / 1.5) + t1.dy AS BIGINT) AS cy,
             CAST(floor(clon / 1.5) + t2.dx AS BIGINT) AS cx
      FROM c, range(-1, 2) t1(dy), range(-1, 2) t2(dx)
    ),
    sl AS (
      SELECT s.*, CAST(floor(slat / 1.5) AS BIGINT) AS cy,
             CAST(floor(slon / 1.5) AS BIGINT) AS cx
      FROM s
    ),
    cand AS (
      SELECT c_custkey, s_suppkey, clat, clon, slat, slon,
             2.0 * 6371.0 * asin(sqrt(
               sin(radians(slat - clat) / 2.0) * sin(radians(slat - clat) / 2.0)
               + cos(radians(clat)) * cos(radians(slat))
                 * sin(radians(slon - clon) / 2.0)
                 * sin(radians(slon - clon) / 2.0)
             )) AS dist_km
      FROM cl JOIN sl USING (cy, cx)
    )
    SELECT c_custkey, s_suppkey, ROUND(dist_km, 4) AS dist_km
    FROM cand WHERE dist_km < 100.0
"""


@query("q_geo_join", oracle=_GEO_ORACLE)
def q_geo_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join (operators/joins.py::geo_radius_join):
    customers to suppliers within 100 km, coordinates synthesized
    deterministically from the keys on a 0.01-degree grid clamped to
    latitude ±45 (so one 1.5-degree cell covers the radius on both
    axes). Grid-cell blocking + 3x3 neighborhood replication makes the
    candidate set a shuffle-keyed equi-join — the oracle blocks the
    same way, because the naive cross join is exactly what this
    operator exists to avoid. Distances round to 4 (0.1 m — far above
    trig ulp divergence)."""

    cust = t(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 37 % 9000) / 100.0 - 45.0).alias("clat"),
        ((F.col("c_custkey") * 73 % 34000) / 100.0 - 170.0).alias("clon"),
    )
    supp = t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 53 % 9000) / 100.0 - 45.0).alias("slat"),
        ((F.col("s_suppkey") * 97 % 34000) / 100.0 - 170.0).alias("slon"),
    )
    pairs = joins.geo_radius_join(
        cust, supp, radius_km=100.0, cell_deg=1.5,
        lat_l="clat", lon_l="clon", lat_r="slat", lon_r="slon",
    )
    return pairs.select(
        "c_custkey", "s_suppkey", F.round("dist_km", 4).alias("dist_km")
    )


@query(
    "q_dynamic_partition_pruning",
    oracle="""
    WITH dim AS (
      SELECT 1995 + r_regionkey AS o_year, r_name FROM region
      WHERE r_name IN ('ASIA', 'EUROPE')
    )
    SELECT d.o_year, d.r_name,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders o
    JOIN dim d ON year(o.o_orderdate) = d.o_year
    GROUP BY d.o_year, d.r_name
    """,
)
def q_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning end-to-end: orders land as a
    year-partitioned parquet fact, the region table plays an INDEPENDENT
    year dimension (o_year = 1995 + regionkey — its name filter cannot
    be folded into a static partition predicate), and the star join
    prunes the fact scan at runtime through Catalyst's broadcast-
    subquery DPP filter. tests/test_wave22.py pins the mechanism —
    ``dynamicpruningexpression`` inside the scan's PartitionFilters,
    fed by a ``SubqueryBroadcast`` of the dim — plus answer-equality
    with the unpartitioned join; the oracle pins the answer. At 100 TB
    this is the difference between scanning two partitions and scanning
    seven years of fact data."""
    with scratch("q_dpp") as base:
        t(spark, sf_dir, "orders").withColumn(
            "o_year", F.year("o_orderdate")
        ).write.partitionBy("o_year").mode("overwrite").parquet(base)
        fact = spark.read.parquet(base)
        dim = (
            t(spark, sf_dir, "region")
            .select(
                (F.lit(1995) + F.col("r_regionkey")).alias("o_year"),
                "r_name",
            )
            .filter(F.col("r_name").isin("ASIA", "EUROPE"))
        )
        result = (
            fact.join(dim, "o_year")
            .groupBy("o_year", "r_name")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            )
            .localCheckpoint(eager=True)
        )
    return result
