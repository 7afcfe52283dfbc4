"""Gold layer — the reference's two marts plus the implied star join.

- ``dim_locations`` — /root/reference/dbt/models/marts/dim_locations.sql:6-15
  (surrogate key, SELECT DISTINCT atop GROUP BY, min/max/count aggregate).
- ``fct_weather_observations`` — fct_weather_observations.sql:6-28
  (surrogate key, Postgres hour/dow parts).
- ``join_observations`` — the star-schema join declared by the models' docs
  (schema.yml:32-33 "Clé substitut pour jointure avec dim_locations") and
  the dashboard exposure (schema.yml:62-72). The dim side is tiny relative
  to the fact, so we broadcast it — at 100 TB the fact never shuffles.

Materialization parity: in the reference, marts are full-refresh CTAS tables
(dbt_project.yml:29-32). ``write_mart`` reproduces that with dynamic
partition overwrite on ``extraction_date`` — at scale a daily run rewrites
only the partitions it touched, not the world.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from weather_api_automate_etl_spark.functions.core import pg_dow, pg_hour, surrogate_key


def dim_locations(stg: DataFrame) -> DataFrame:
    """dim_locations.sql:6-15 — one row per (city_clean, country_clean).

    Output names match the reference exactly: city/country (renamed from
    the _clean staging names, dim_locations.sql:8-9) and
    first/last_observation_date (:10-11)."""
    return (
        stg.groupBy("city_clean", "country_clean")
        .agg(
            F.min("extracted_at").alias("first_observation_date"),
            F.max("extracted_at").alias("last_observation_date"),
            F.count(F.lit(1)).alias("total_observations"),
        )
        .select(
            surrogate_key("city_clean", "country_clean").alias("location_key"),
            F.col("city_clean").alias("city"),
            F.col("country_clean").alias("country"),
            "first_observation_date",
            "last_observation_date",
            "total_observations",
        )
        # SELECT DISTINCT atop GROUP BY (dim_locations.sql:6) — a no-op the
        # optimizer eliminates; kept for declared-semantics fidelity.
        .distinct()
    )


def fct_weather_observations(stg: DataFrame) -> DataFrame:
    """fct_weather_observations.sql:6-28 — observation grain + date parts."""
    return stg.select(
        F.col("id").alias("observation_id"),
        surrogate_key("city_clean", "country_clean").alias("location_key"),
        F.col("temperature"),
        F.col("temperature_category"),
        F.col("weather_category"),
        F.col("humidity"),
        F.col("wind_speed"),
        F.col("pressure"),
        F.col("extraction_date"),
        pg_hour("extracted_at").alias("extraction_hour"),
        pg_dow("extracted_at").alias("day_of_week"),
        F.col("extracted_at"),
        F.col("data_interval_start"),
    )


def join_observations(fct: DataFrame, dim: DataFrame) -> DataFrame:
    """The declared star join (schema.yml:32-33, 62-72), dim broadcast."""
    return fct.join(F.broadcast(dim), "location_key", "inner")


def write_mart(df: DataFrame, path: str, partition_by: str | None = "extraction_date") -> None:
    """Full-refresh mart materialization (dbt_project.yml:29-32) at scale:
    parquet, partitioned, dynamic overwrite so reruns replace only touched
    partitions."""
    writer = df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)


def cohort_ltv(
    df: DataFrame,
    customer_col: str,
    ts_col: str,
    revenue_col: str,
) -> DataFrame:
    """Cohort lifetime-value curve (the revenue twin of the retention
    triangle): customers are cohorted by their FIRST purchase month;
    for each (cohort, months-since-first) cell the curve reports the
    cell revenue, the running cumulative revenue, and cumulative LTV
    per cohort customer — the number a growth team compares against
    acquisition cost.

    Shape: one per-customer min aggregate, joined back on the customer
    key the orders are then grouped by (co-partitioned), one
    (cohort, age) rollup — months-sized — and a cumulative window over
    that tiny table. Month arithmetic is exact integers
    (months_between on truncated months); revenue sums round to 6.
    Returns ``(cohort_month, age_months, n_customers, revenue,
    cum_revenue, ltv_per_customer)``.
    """
    c = F.col(customer_col)
    month = F.date_trunc("month", F.col(ts_col).cast("timestamp"))
    base = df.select(
        c.alias("__c"), month.alias("__m"), F.col(revenue_col).alias("__r")
    )
    first = base.groupBy("__c").agg(F.min("__m").alias("__cohort"))
    sizes = first.groupBy("__cohort").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )
    cells = (
        base.join(first, "__c")
        .select(
            "__cohort",
            F.months_between(F.col("__m"), F.col("__cohort"))
            .cast("int")
            .alias("age_months"),
            "__r",
        )
        .groupBy("__cohort", "age_months")
        .agg(F.sum("__r").alias("__rev"))
    )
    w = Window.partitionBy("__cohort").orderBy("age_months").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        cells.withColumn("__cum", F.sum("__rev").over(w))
        .join(sizes, "__cohort")
        .select(
            F.col("__cohort").cast("date").alias("cohort_month"),
            "age_months",
            "n_customers",
            F.round(F.col("__rev"), 6).alias("revenue"),
            F.round(F.col("__cum"), 6).alias("cum_revenue"),
            F.round(
                F.col("__cum") / F.col("n_customers").cast("double"), 6
            ).alias("ltv_per_customer"),
        )
    )
