"""Round-8 thirty-eighth-wave queries: the dbt-style
test-suite report and robust trimmed means.

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.queries import query, t

_SUITE_ORACLE = """
    SELECT 'unique' AS rule, 'lineitem.l_orderkey' AS target,
           CAST((SELECT COUNT(*) FROM (
             SELECT 1 FROM lineitem
             WHERE l_orderkey IS NOT NULL
             GROUP BY l_orderkey HAVING COUNT(*) > 1)) AS BIGINT)
             AS violations
    UNION ALL
    SELECT 'unique', 'customer.c_custkey',
           CAST((SELECT COUNT(*) FROM (
             SELECT 1 FROM customer
             WHERE c_custkey IS NOT NULL
             GROUP BY c_custkey HAVING COUNT(*) > 1)) AS BIGINT)
    UNION ALL
    SELECT 'not_null', 'events.event_type',
           (SELECT COUNT(*) FROM events WHERE event_type IS NULL)
    UNION ALL
    SELECT 'not_null', 'events.value',
           (SELECT COUNT(*) FROM events WHERE value IS NULL)
    UNION ALL
    SELECT 'accepted_values', 'orders.o_orderstatus',
           (SELECT COUNT(*) FROM orders
            WHERE o_orderstatus IS NOT NULL
              AND o_orderstatus NOT IN ('O', 'F', 'P'))
    UNION ALL
    SELECT 'relationships', 'orders.o_custkey->customer.c_custkey',
           (SELECT COUNT(*) FROM orders
            WHERE o_custkey IS NOT NULL
              AND o_custkey NOT IN (SELECT c_custkey FROM customer))
"""


@query(
    "q_quality_suite",
    oracle="SELECT rule, target, violations, violations = 0 AS passed "
    "FROM (" + _SUITE_ORACLE + ")",
    tags=("quality",),
)
def q_quality_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's schema.yml test bundle as one report
    (operators/quality.py::test_suite; dbt test-run parity —
    /root/reference/dbt/models/marts/schema.yml:9-42): unique on a
    key with REAL duplicates (lineitem.l_orderkey — multi-line orders)
    beside a passing unique, two not_nulls, an accepted_values and a
    relationships rule. Each rule keeps its scan-rate plan; the suite
    unions six 1-row aggregates."""
    from weather_api_automate_etl_spark.operators import quality

    li = t(spark, sf_dir, "lineitem")
    cust = t(spark, sf_dir, "customer")
    ev = t(spark, sf_dir, "events")
    od = t(spark, sf_dir, "orders")
    out = quality.test_suite(
        [
            (
                "unique",
                "lineitem.l_orderkey",
                quality.unique_violations(li, "l_orderkey"),
            ),
            (
                "unique",
                "customer.c_custkey",
                quality.unique_violations(cust, "c_custkey"),
            ),
            (
                "not_null",
                "events.event_type",
                quality.not_null_violations(ev, "event_type"),
            ),
            (
                "not_null",
                "events.value",
                quality.not_null_violations(ev, "value"),
            ),
            (
                "accepted_values",
                "orders.o_orderstatus",
                quality.accepted_values_violations(
                    od, "o_orderstatus", ["O", "F", "P"]
                ),
            ),
            (
                "relationships",
                "orders.o_custkey->customer.c_custkey",
                quality.relationships_violations(
                    od, "o_custkey", cust, "c_custkey"
                ),
            ),
        ]
    )
    return out


_TRIM_ORACLE = """
    WITH base AS (
      SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS y
      FROM lineitem
    ),
    ranked AS (
      SELECT g, y, row_number() OVER (PARTITION BY g ORDER BY y) AS rn,
             COUNT(*) OVER (PARTITION BY g) AS n
      FROM base
    ),
    kd AS (SELECT *, CAST(floor(n * 0.1) AS BIGINT) AS k FROM ranked),
    agg AS (
      SELECT g, MAX(n) AS n, MAX(k) AS k, SUM(y) AS s_all,
             SUM(CASE WHEN rn > k AND rn <= n - k THEN y END) AS s_kept,
             COUNT(CASE WHEN rn > k AND rn <= n - k THEN y END) AS n_kept
      FROM kd GROUP BY g
    )
    SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
           CAST(k AS BIGINT) AS n_trimmed_each_side,
           ROUND(CAST(s_all AS DOUBLE) / n, 6) AS mean_raw,
           ROUND(CAST(s_kept AS DOUBLE) / n_kept, 6) AS mean_trimmed
    FROM agg
"""


@query("q_trimmed_mean", oracle=_TRIM_ORACLE, tags=("stats",))
def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% symmetric trimmed mean of quantity per return flag
    (operators/stats.py::trimmed_mean): drop the ⌊n/10⌋ smallest and
    largest, average the kept mass — exact integer sums make boundary
    ties harmless (any choice of tied boundary rows keeps the same
    multiset). One rank window + one aggregate per group."""
    from weather_api_automate_etl_spark.operators import stats

    return stats.trimmed_mean(
        t(spark, sf_dir, "lineitem"), "l_returnflag", "l_quantity",
        trim_frac=0.1,
    )
