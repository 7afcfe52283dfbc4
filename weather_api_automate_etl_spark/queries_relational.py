"""Relational-algebra and scalar queries: date arithmetic, scalar
subqueries, grouping sets and rollup, union by name, pivot and unpivot,
set operations, semi/anti joins, percentiles and moments, and the SQL
interface and macros.

Registry and oracle conventions: queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.queries import query, t


@query(
    "q_date_arithmetic",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(o_orderdate AS DATE) + 30 AS due_date,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month_start,
           CAST(date_diff('day', DATE '1997-01-01', CAST(o_orderdate AS DATE)) AS INTEGER)
             AS days_since_epoch_97,
           CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
           CAST(weekofyear(o_orderdate) AS INTEGER) AS iso_week
    FROM orders
    """,
)
def q_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar arithmetic surface: offsets, month boundaries, day diffs,
    quarter and ISO week — all JVM-side expressions in one projection."""
    d = F.to_date("o_orderdate")
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        d.alias("order_date"),
        F.date_add(d, 30).alias("due_date"),
        F.last_day(d).alias("month_end"),
        F.trunc(d, "month").alias("month_start"),
        F.datediff(d, F.lit("1997-01-01").cast("date")).alias("days_since_epoch_97"),
        F.quarter(d).alias("qtr"),
        F.weekofyear(d).alias("iso_week"),
    )


@query(
    "q_scalar_subquery",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_above,
           ROUND(MIN(o_totalprice), 2) AS min_above
    FROM orders
    WHERE o_totalprice > (SELECT ROUND(AVG(o_totalprice), 2) FROM orders)
    GROUP BY 1
    """,
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders priced above the global average — a scalar subquery expressed
    DataFrame-side as a 1-row aggregate broadcast into the filter (Spark
    plans the cross join as BroadcastNestedLoopJoin over a single row). The
    threshold is rounded to cents on both engines so the comparison edge is
    engine-independent."""
    orders = t(spark, sf_dir, "orders")
    avg_price = orders.agg(
        F.round(F.avg("o_totalprice"), 2).alias("avg_price")
    )
    return (
        orders.join(F.broadcast(avg_price))
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_above"),
            F.round(F.min("o_totalprice"), 2).alias("min_above"),
        )
    )


@query(
    "q_grouping_sets",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
           CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderpriority), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Irregular subtotal lattice via GROUPING SETS — the general form of
    rollup/cube (q_rollup/q_cube cover the regular cases). One aggregate
    pass; Spark expands the sets map-side exactly like ROLLUP. grouping()
    flags disambiguate real NULL keys from subtotal rows."""
    return (
        t(spark, sf_dir, "orders")
        .groupingSets(
            [["o_orderpriority", "o_orderstatus"], ["o_orderpriority"], []],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "q_union_by_name",
    oracle="""
    SELECT o_orderkey, o_totalprice, 'archive' AS src
    FROM orders WHERE o_orderstatus = 'F'
    UNION ALL BY NAME
    SELECT 'live' AS src, o_orderkey
    FROM orders WHERE o_orderstatus <> 'F'
    """,
)
def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: two generations of the same feed with
    different column order and a column added later, merged by NAME with
    nulls for the missing column (unionByName allowMissingColumns — the
    batch form of a reader-schema merge). Zero shuffle: union is a plan
    concatenation."""
    orders = t(spark, sf_dir, "orders")
    archive = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_totalprice", F.lit("archive").alias("src")
    )
    live = orders.filter(F.col("o_orderstatus") != "F").select(
        F.lit("live").alias("src"), "o_orderkey"
    )
    return archive.unionByName(live, allowMissingColumns=True)


@query(
    "q_unpivot",
    oracle="""
    SELECT event_type, metric, ROUND(val, 4) AS val
    FROM (
      SELECT event_type,
             ROUND(AVG(value), 4) AS avg_value,
             ROUND(MIN(value), 4) AS min_value,
             ROUND(MAX(value), 4) AS max_value
      FROM events GROUP BY 1
    ) UNPIVOT (val FOR metric IN (avg_value, min_value, max_value))
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long unpivot (melt): per-type summary stats rotated into
    (metric, value) rows — the inverse of q_pivot. Spark's native unpivot
    is an Expand node: map-side row generation, zero extra shuffle beyond
    the feeding aggregate."""
    wide = (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.round(F.min("value"), 4).alias("min_value"),
            F.round(F.max("value"), 4).alias("max_value"),
        )
    )
    return wide.unpivot(
        ids=["event_type"],
        values=["avg_value", "min_value", "max_value"],
        variableColumnName="metric",
        valueColumnName="val",
    ).withColumn("val", F.round("val", 4))


_NATION_RANK_SQL = """
    WITH r AS (
      SELECT n.n_name, SUM(o.o_totalprice) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
    )
    SELECT n_name, ROUND(rev, 2) AS revenue,
           CAST(rank() OVER (ORDER BY rev DESC, n_name) AS INTEGER) AS rk
    FROM r
"""


@query("q_sql_interface", oracle=_NATION_RANK_SQL)
def q_sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw-SQL migration path: the reference's users write dbt SQL, so
    the engine must take ANSI SQL strings directly. register_testdata
    exposes every table as a view and the SAME text runs on spark.sql and
    on the DuckDB oracle — dialect-free by construction. Catalyst still
    plans it (broadcast dims, partial aggs); SQL-vs-DataFrame is purely a
    frontend choice."""
    from weather_api_automate_etl_spark.sources.tables import register_testdata

    register_testdata(spark, sf_dir)
    return spark.sql(_NATION_RANK_SQL)


@query(
    "q_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           ROUND(SUM(l_extendedprice), 2) AS total_price
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP (grouping-sets family): per
    (flag, status), per flag, and grand total in ONE aggregate pass —
    Spark expands the grouping sets map-side, no extra scans."""
    return (
        t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
    )


@query(
    "q_set_ops",
    oracle="""
    SELECT n_nationkey AS nationkey FROM nation
    WHERE n_nationkey IN (SELECT c_nationkey FROM customer)
    INTERSECT
    SELECT n_nationkey FROM nation
    WHERE n_nationkey IN (SELECT s_nationkey FROM supplier)
    EXCEPT
    SELECT n_nationkey FROM nation WHERE n_name = 'NATION_0'
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (INTERSECT / EXCEPT): nations having both customers
    and suppliers, minus an excluded nation. Spark plans these as
    left-semi/anti joins under the hood."""
    nation = t(spark, sf_dir, "nation")
    cust_nations = (
        nation.join(
            t(spark, sf_dir, "customer"),
            nation.n_nationkey == F.col("c_nationkey"),
            "left_semi",
        ).select(F.col("n_nationkey").alias("nationkey"))
    )
    supp_nations = (
        nation.join(
            t(spark, sf_dir, "supplier"),
            nation.n_nationkey == F.col("s_nationkey"),
            "left_semi",
        ).select(F.col("n_nationkey").alias("nationkey"))
    )
    excluded = nation.filter(F.col("n_name") == "NATION_0").select(
        F.col("n_nationkey").alias("nationkey")
    )
    return cust_nations.intersect(supp_nations).exceptAll(excluded).distinct()


@query(
    "q_semi_anti_join",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
    )
    """,
)
def q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers with no orders before 1996 (NOT EXISTS). The
    probe side streams; the filtered orders build side broadcasts — no
    fact-side shuffle."""
    cust = t(spark, sf_dir, "customer")
    early = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        .select("o_custkey")
    )
    return cust.join(
        F.broadcast(early), cust.c_custkey == early.o_custkey, "left_anti"
    ).select("c_custkey", "c_mktsegment")


@query(
    "q_percentiles",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.25), 4) AS p25,
           ROUND(quantile_cont(value, 0.50), 4) AS p50,
           ROUND(quantile_cont(value, 0.95), 4) AS p95
    FROM events GROUP BY event_type
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (the non-sketch counterpart
    of q_approx_stats — a sort-based aggregate, for when exactness beats
    sub-linear state)."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("value", F.lit(0.50)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95"),
    )


@query(
    "q_stats_moments",
    oracle="""
    SELECT l_returnflag,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           ROUND(stddev_samp(l_extendedprice), 4) AS sd_price,
           ROUND(var_samp(l_extendedprice), 2) AS var_price,
           ROUND(corr(l_extendedprice, l_quantity), 6) AS corr_price_qty,
           ROUND(covar_samp(l_extendedprice, l_quantity), 4) AS cov_price_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical moment aggregates (stddev/variance/correlation/covariance)
    — single-pass streaming computation, map-side combined."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_samp("l_extendedprice"), 2).alias("var_price"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_price_qty"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 4).alias("cov_price_qty"),
    )


@query(
    "q_pivot",
    oracle="""
    SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
           CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
           CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error
    FROM events GROUP BY 1
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): daily event counts by type. The value set is
    declared explicitly, so the pivot is one aggregate pass — no extra
    distinct-values job, which is the scale-safe way to pivot."""
    ev = t(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        ev.groupBy(F.to_date("ts").alias("day"))
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
    )


@query(
    "q_sql_macros",
    oracle="""
    SELECT event_id,
           CAST(date_part('dow', CAST(ts AS TIMESTAMP)) AS INTEGER) AS dow,
           CAST(date_part('hour', CAST(ts AS TIMESTAMP)) AS INTEGER) AS hr,
           md5(concat_ws('-',
               coalesce(event_type, '_dbt_utils_surrogate_key_null_'),
               coalesce(CAST(user_id AS VARCHAR),
                        '_dbt_utils_surrogate_key_null_'))) AS sk,
           CASE WHEN value < 0 THEN 'Freezing'
                WHEN value BETWEEN 0  AND 10 THEN 'Cold'
                WHEN value BETWEEN 11 AND 20 THEN 'Mild'
                WHEN value BETWEEN 21 AND 30 THEN 'Warm'
                ELSE 'Hot' END AS bucket
    FROM events
    """,
)
def q_sql_macros(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dbt-macro migration path completed for raw-SQL users: the
    reference's macros (Postgres dow/hour, dbt_utils surrogate key,
    range bucketing) are installed as Spark SQL UDFs
    (sources/catalog.py::register_sql_macros — CREATE FUNCTION … RETURN
    expr, which INLINES into the plan: no Python boundary, pinned in
    test_catalog) and this query calls them from plain SQL over the
    registered views. The oracle runs the HAND-EXPANDED expressions —
    macro call ≡ expansion is exactly the dbt contract."""
    from weather_api_automate_etl_spark.sources.catalog import (
        register_sql_macros,
    )
    from weather_api_automate_etl_spark.sources.tables import register_testdata

    register_testdata(spark, sf_dir)
    register_sql_macros(spark)
    return spark.sql(
        """
        SELECT event_id,
               pg_dow(ts) AS dow,
               pg_hour(ts) AS hr,
               surrogate_key2(event_type, CAST(user_id AS STRING)) AS sk,
               quantity_bucket(value) AS bucket
        FROM events
        """
    )
