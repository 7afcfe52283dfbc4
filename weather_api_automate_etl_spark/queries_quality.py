"""Data-quality, privacy and layout queries: referential-integrity and
freshness tests, table profiles (exact and approximate), rule suites,
functional-dependency and monotonicity tests, median imputation,
k-anonymity, l-diversity, t-closeness, differentially private counts,
and z-order layout.

Registry and oracle conventions: queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.operators import quality
from weather_api_automate_etl_spark.queries import query, t


@query(
    "q_test_relationships",
    oracle="""
    SELECT 'orders.o_custkey -> customer.c_custkey' AS relationship,
           CAST(COUNT(*) AS BIGINT) AS violations
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey IS NULL AND o.o_custkey IS NOT NULL
    UNION ALL
    SELECT 'lineitem.l_orderkey -> orders.o_orderkey',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IS NULL AND l.l_orderkey IS NOT NULL
    UNION ALL
    SELECT 'lineitem.l_partkey -> part.p_partkey',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_partkey IS NULL AND l.l_partkey IS NOT NULL
    """,
)
def q_test_relationships(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt `relationships` (FK integrity) audit — the fourth member of the
    schema-test family (unique/not_null/accepted_values are ops 23-25; the
    reference never declares relationships, a gap this engine fills). LEFT
    ANTI against each parent, counts rolled into one frame; parent dims
    broadcast."""
    return quality.relationship_violation_counts(
        [
            (
                "orders.o_custkey -> customer.c_custkey",
                t(spark, sf_dir, "orders"),
                "o_custkey",
                t(spark, sf_dir, "customer"),
                "c_custkey",
            ),
            (
                "lineitem.l_orderkey -> orders.o_orderkey",
                t(spark, sf_dir, "lineitem"),
                "l_orderkey",
                t(spark, sf_dir, "orders"),
                "o_orderkey",
            ),
            (
                "lineitem.l_partkey -> part.p_partkey",
                t(spark, sf_dir, "lineitem"),
                "l_partkey",
                t(spark, sf_dir, "part"),
                "p_partkey",
            ),
        ]
    )


_STALE_AFTER_S = 3600


@query(
    "q_freshness",
    oracle=f"""
    WITH g AS (SELECT max(CAST(ts AS TIMESTAMP)) AS gmax FROM events),
    last AS (
      SELECT event_type, max(CAST(ts AS TIMESTAMP)) AS last_ts,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY event_type
    )
    SELECT l.event_type, l.last_ts, l.n_events,
           CAST(date_diff('second', l.last_ts, g.gmax) AS BIGINT)
             AS lag_seconds,
           date_diff('second', l.last_ts, g.gmax) > {_STALE_AFTER_S}
             AS is_stale
    FROM last l, g
    """,
)
def q_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream freshness: each event_type's last event time, its lag
    behind the corpus watermark (the global max — wall clock would make
    the check non-reproducible), and a staleness flag at 1 h — the
    data-quality monitor that catches a silently dead upstream before a
    day of marts build on stale partitions. Two map-side-combined
    aggregates and a 1-row broadcast; second-granularity lag floors
    identically on both engines."""
    return quality.freshness(
        t(spark, sf_dir, "events"), "event_type", "ts",
        stale_after_s=_STALE_AFTER_S,
    )


_PROFILE_COLS = (
    ("o_orderkey", False),
    ("o_custkey", False),
    ("o_totalprice", True),
    ("o_orderdate", False),
    ("o_orderstatus", False),
)


def _profile_oracle() -> str:
    parts = []
    for c, is_double in _PROFILE_COLS:
        mn = f"ROUND(MIN({c}), 6)" if is_double else f"MIN({c})"
        mx = f"ROUND(MAX({c}), 6)" if is_double else f"MAX({c})"
        parts.append(f"""
      SELECT '{c}' AS column_name,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(CASE WHEN {c} IS NULL THEN 1 END) AS BIGINT) AS n_nulls,
             CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
             CAST({mn} AS VARCHAR) AS min_value,
             CAST({mx} AS VARCHAR) AS max_value
      FROM orders""")
    return " UNION ALL ".join(parts)


@query("q_profile_table", oracle=_profile_oracle())
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profile (operators/quality.py::profile_table): per
    column — rows, nulls, exact distincts, native-typed min/max
    (stringified after aggregation, doubles rounded to 6) — the first
    query anyone runs against an unfamiliar table, and the machine-readable
    input to schema drift detection. ONE aggregate for all columns (N
    columns never means N scans); the oracle recomputes each column's
    stats independently."""

    return quality.profile_table(
        t(spark, sf_dir, "orders"), [c for c, _ in _PROFILE_COLS]
    )


def _zkey_sql(x: str, y: str, bits: int = 8) -> str:
    terms = [
        f"((({x} >> {i}) & 1) << {2 * i}) + ((({y} >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@query(
    "q_zorder_layout",
    oracle=f"""
    WITH q AS (
      SELECT CAST(floor((value + 50) * 255.0 / 110.0) AS BIGINT) AS x,
             CAST(user_id % 256 AS BIGINT) AS y
      FROM events
      WHERE value IS NOT NULL AND value BETWEEN -50 AND 60
    ),
    keyed AS (SELECT {_zkey_sql("x", "y")} AS zkey, x, y FROM q)
    SELECT CAST(zkey >> 10 AS BIGINT) AS z_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(x) AS min_x, MAX(x) AS max_x,
           MIN(y) AS min_y, MAX(y) AS max_y
    FROM keyed GROUP BY 1
    """,
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order/Morton clustering key (functions/core.py::zorder_key — the
    layout primitive behind Delta/Iceberg OPTIMIZE ZORDER): events
    quantized to an 8-bit (value, user) grid, bits interleaved into a
    64-level bucket key, then per-bucket min/max of BOTH dimensions. Files
    written in z_bucket ranges carry tight min/max statistics on x AND y
    simultaneously — the two-dimensional pruning a single-column sort
    cannot give — and the per-bucket ranges this query emits are exactly
    those file statistics. Pure shift/mask arithmetic, identical in any
    engine; tests/test_wave9.py pins the locality guarantee: 1024
    consecutive z-keys form an aligned 32×32 tile, so every bucket spans
    ≤ 32 of each dimension's 256-level range."""
    from weather_api_automate_etl_spark.functions.core import zorder_key

    v = F.col("value")
    q = (
        t(spark, sf_dir, "events")
        .filter(v.isNotNull() & v.between(-50, 60))
        .select(
            F.floor((v + 50) * 255.0 / 110.0).cast("long").alias("x"),
            (F.col("user_id") % 256).cast("long").alias("y"),
        )
    )
    return (
        q.select(zorder_key("x", "y", bits=8).alias("zkey"), "x", "y")
        .groupBy(F.shiftright(F.col("zkey"), 10).cast("long").alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
    )


def _portable_hll_profile_oracle() -> str:
    """DuckDB twin of profile_table(distinct_mode='portable'): the SAME
    md5-HLL (32-bit hash word, m=64, α₆₄=0.709, linear counting under
    2.5·m) the Spark expressions compute, so the estimate — not just a
    bound — hash-matches. Canonical hash strings per type mirror
    quality.py::_canon (doubles in 1e-6 units)."""
    parts = []
    for c, is_double in _PROFILE_COLS:
        canon = (
            f"CAST(CAST(round({c} * 1000000, 0) AS BIGINT) AS VARCHAR)"
            if is_double
            else f"CAST({c} AS VARCHAR)"
        )
        mn = f"ROUND(MIN({c}), 6)" if is_double else f"MIN({c})"
        mx = f"ROUND(MAX({c}), 6)" if is_double else f"MAX({c})"
        parts.append(f"""
      SELECT '{c}' AS column_name,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(CASE WHEN {c} IS NULL THEN 1 END) AS BIGINT)
               AS n_nulls,
             (WITH r AS (
                SELECT CAST(h % 64 AS INTEGER) AS b,
                       CAST(h // 64 AS BIGINT) AS w
                FROM (SELECT CAST(concat('0x', substr(md5({canon}), 1, 8))
                             AS UBIGINT) AS h
                      FROM orders WHERE {c} IS NOT NULL)
              ),
              regs AS (
                SELECT b, MAX(CASE WHEN w = 0 THEN 27
                                   ELSE 26 - CAST(floor(log2(w)) AS INTEGER)
                              END) AS mj
                FROM r GROUP BY b
              ),
              s AS (
                SELECT COALESCE(SUM(power(2.0, -mj)), 0.0)
                         + (64 - COUNT(*)) AS denom,
                       64 - COUNT(*) AS v
                FROM regs
              )
              SELECT CAST(ROUND(CASE WHEN 0.709 * 4096 / denom <= 160.0
                                          AND v > 0
                                     THEN 64.0 * ln(64.0 / v)
                                     ELSE 0.709 * 4096 / denom END,
                                0) AS BIGINT)
              FROM s) AS n_distinct,
             CAST({mn} AS VARCHAR) AS min_value,
             CAST({mx} AS VARCHAR) AS max_value
      FROM orders""")
    return " UNION ALL ".join(parts)


@query(
    "q_profile_table_approx",
    oracle=_portable_hll_profile_oracle(),
)
def q_profile_table_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB profile path (operators/quality.py::profile_table,
    ``distinct_mode='portable'``): identical one-aggregate unpivot shape
    as q_profile_table, but per-column cardinality comes from an EXPLICIT
    md5-keyed HyperLogLog (Flajolet et al. 2007; m=64 registers held as
    64 max-aggregates) — fixed-size, mergeable, pure map-side combine,
    NO per-column Expand of the input into the shuffle. Unlike the
    engine-native HLL++ mode (``'approx'``, still available and pinned
    in tests/test_wave12.py), the portable sketch is a deterministic
    function of md5, so the DuckDB oracle reproduces the ESTIMATE
    bit-for-bit — this retired the registry's last rows-only fallback
    (round-8 verdict item 3). Error is the textbook 1.04/√m ≈ 13 % rsd,
    bounded against the exact profile in tests/test_wave12.py."""

    return quality.profile_table(
        t(spark, sf_dir, "orders"),
        [c for c, _ in _PROFILE_COLS],
        distinct_mode="portable",
    )


@query(
    "q_k_anonymity",
    oracle="""
    SELECT c_mktsegment, c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS class_size
    FROM customer
    GROUP BY c_mktsegment, c_nationkey
    HAVING COUNT(*) < 10
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (operators/privacy.py::k_anonymity_violations —
    Sweeney 2002): customers quasi-identified by (market segment,
    nation); every equivalence class smaller than k=10 is a
    re-identification risk the release must suppress or generalize.
    Complements the regex-level PII redaction (q_pii_redact): redaction
    removes direct identifiers, k-anonymity catches the JOIN attack on
    what remains — both gates a training-data release pipeline runs.
    One hash aggregate on the quasi columns; empty result = certified
    at level k."""
    from weather_api_automate_etl_spark.operators import privacy

    return privacy.k_anonymity_violations(
        t(spark, sf_dir, "customer"), ["c_mktsegment", "c_nationkey"], 10
    ).select("c_mktsegment", "c_nationkey", F.col("class_size").cast("long").alias("class_size"))


@query(
    "q_l_diversity",
    oracle="""
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS class_size,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_sensitive
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(DISTINCT o_orderpriority) < 5
    """,
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (operators/privacy.py::l_diversity_violations,
    l=5): equivalence classes (here: a customer's orders) whose sensitive
    attribute (order priority) takes fewer than l distinct values — the
    classes a k-anonymous release still leaks through the homogeneity
    attack. Output = the violating classes with size and diversity."""
    from weather_api_automate_etl_spark.operators import privacy

    return privacy.l_diversity_violations(
        t(spark, sf_dir, "orders"), ["o_custkey"], "o_orderpriority", l=5
    )


@query(
    "q_dp_counts",
    oracle="""
    WITH g AS (
      SELECT lang, source, CAST(COUNT(*) AS DOUBLE) AS n
      FROM documents GROUP BY lang, source
    ),
    u AS (
      SELECT lang, source, n,
             CAST(CAST(concat('0x', substr(md5(concat(lang, source, 'dp')),
                                           1, 13)) AS UBIGINT) AS DOUBLE)
               / 4503599627370496.0 - 0.5 AS c
      FROM g
    )
    SELECT lang, source,
           ROUND(n + (-(1.0 / 1.0)
                      * (CASE WHEN c > 0 THEN 1.0
                              WHEN c < 0 THEN -1.0 ELSE 0.0 END)
                      * ln(1.0 - 2.0 * abs(c))), 6) AS noisy_count
    FROM u
    """,
)
def q_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """epsilon-differentially-private corpus composition release
    (operators/privacy.py::dp_noisy_counts, ε=1): per-(lang, source)
    counts + Laplace(1/ε) noise drawn by inverse-CDF from a DETERMINISTIC
    md5-keyed uniform — same release on every rerun (no fresh ε-budget),
    same number on every engine, which is exactly what lets the oracle
    pin a randomized mechanism."""
    from weather_api_automate_etl_spark.operators import privacy

    return privacy.dp_noisy_counts(
        t(spark, sf_dir, "documents"), ["lang", "source"], epsilon=1.0,
        seed="dp",
    )


_TCLOSE_ORACLE = """
    WITH base AS (
      SELECT c_mktsegment, c_nationkey,
             CASE WHEN c_acctbal < 0 THEN 'debt'
                  WHEN c_acctbal < 5000 THEN 'mid'
                  ELSE 'high' END AS s
      FROM customer
    ),
    cells AS (
      SELECT c_mktsegment, c_nationkey, s, COUNT(*) AS n
      FROM base GROUP BY 1, 2, 3
    ),
    klass AS (
      SELECT c_mktsegment, c_nationkey, SUM(n) AS cn
      FROM cells GROUP BY 1, 2
    ),
    gdist AS (SELECT s, SUM(n) AS sn FROM cells GROUP BY s),
    tot AS (SELECT SUM(sn) AS tn FROM gdist),
    tvd AS (
      SELECT c.c_mktsegment, c.c_nationkey, k.cn,
             ROUND(SUM(GREATEST(
               c.n / CAST(k.cn AS DOUBLE) - g.sn / CAST(t.tn AS DOUBLE),
               0.0)), 6) AS tvd
      FROM cells c
      JOIN klass k USING (c_mktsegment, c_nationkey)
      JOIN gdist g USING (s), tot t
      GROUP BY 1, 2, 3
    )
    SELECT c_mktsegment, c_nationkey, CAST(cn AS BIGINT) AS class_size, tvd
    FROM tvd WHERE tvd > 0.1
"""


@query("q_t_closeness", oracle=_TCLOSE_ORACLE)
def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit over the k-anonymity quasi-identifier classes
    (mktsegment × nation; operators/privacy.py::t_closeness_violations,
    t=0.1): classes whose account-balance-bucket distribution sits more
    than 0.1 total-variation away from the global one — the classes an
    l-diverse release still leaks through the skewness attack. Class
    probabilities are integer-count ratios rounded once, so the audit
    hashes identically across engines."""
    from weather_api_automate_etl_spark.operators import privacy

    cust = t(spark, sf_dir, "customer").withColumn(
        "bal_bucket",
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high"),
    )
    return privacy.t_closeness_violations(
        cust, ["c_mktsegment", "c_nationkey"], "bal_bucket", t=0.1
    )


_IMPUTE_ORACLE = """
    WITH masked AS (
      SELECT event_type AS g,
             CASE WHEN event_id % 9 = 0 THEN NULL ELSE value END AS v
      FROM events
    ),
    obs AS (SELECT g, v FROM masked WHERE v IS NOT NULL),
    ranked AS (
      SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
             COUNT(*) OVER (PARTITION BY g) AS n
      FROM obs
    ),
    med AS (
      SELECT g, AVG(v) AS med FROM ranked
      WHERE rn = floor((n + 1) / 2) OR rn = floor(n / 2) + 1
      GROUP BY g
    ),
    filled AS (
      SELECT m.g, COALESCE(m.v, med.med) AS f, m.v IS NULL AS imp
      FROM masked m LEFT JOIN med ON m.g = med.g
    )
    SELECT g AS event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN imp THEN 1 ELSE 0 END) AS BIGINT)
             AS n_imputed,
           ROUND(MIN(CASE WHEN imp THEN f END), 6) AS fill_value,
           ROUND(AVG(f), 6) AS avg_filled
    FROM filled GROUP BY g
"""


@query("q_impute_median", oracle=_IMPUTE_ORACLE)
def q_impute_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median imputation per event type (operators/stats.py::
    median_impute): every ninth event's value is masked NULL
    (deterministic event_id % 9 pattern), then filled with the group's
    EXACT observed median — the sort-window selection, not
    approx_percentile. The report pins the fill value and the post-fill
    mean per group; a drifting median implementation moves both."""
    from weather_api_automate_etl_spark.operators import stats

    masked = t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.when(F.col("event_id") % 9 == 0, None)
        .otherwise(F.col("value"))
        .alias("v"),
    )
    filled = stats.median_impute(masked, "event_type", "v", out_col="f")
    return filled.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("v_imputed"), 1).otherwise(0))
        .cast("long")
        .alias("n_imputed"),
        F.round(F.min(F.when(F.col("v_imputed"), F.col("f"))), 6).alias(
            "fill_value"
        ),
        F.round(F.avg("f"), 6).alias("avg_filled"),
    )


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
)
def q_quality_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's schema.yml test bundle as one report
    (operators/quality.py::test_suite; dbt test-run parity —
    /root/reference/dbt/models/marts/schema.yml:9-42): unique on a
    key with REAL duplicates (lineitem.l_orderkey — multi-line orders)
    beside a passing unique, two not_nulls, an accepted_values and a
    relationships rule. Each rule keeps its scan-rate plan; the suite
    unions six 1-row aggregates."""

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


_FD_ORACLE = """
    SELECT l_partkey AS determinant,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT l_suppkey)
                + MAX(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_distinct_dependents,
           MIN(l_suppkey) AS dependent_min,
           MAX(l_suppkey) AS dependent_max
    FROM lineitem
    WHERE l_partkey IS NOT NULL
    GROUP BY l_partkey
    HAVING COUNT(DISTINCT l_suppkey)
           + MAX(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) > 1
"""


@query("q_test_functional_dep", oracle=_FD_ORACLE)
def q_test_functional_dep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency contract test (operators/quality.py::
    functional_dependency_violations): l_partkey → l_suppkey, reported
    per violating determinant with multiplicity and a deterministic
    min/max dependent sample. One determinant-keyed aggregate with
    map-side combine — the same shape as dbt's compiled unique test,
    one column wider."""

    return quality.functional_dependency_violations(
        t(spark, sf_dir, "lineitem"), "l_partkey", "l_suppkey"
    )


_MONO_ORACLE = """
    WITH r AS (
      SELECT o_custkey AS key, o_orderdate AS "order",
             o_totalprice AS value,
             lag(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_totalprice) AS prev_value
      FROM orders
    )
    SELECT key, "order", value, prev_value
    FROM r
    WHERE prev_value IS NOT NULL AND value < prev_value
"""


@query("q_test_monotonic", oracle=_MONO_ORACLE)
def q_test_monotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monotonicity contract test (operators/quality.py::
    monotonic_violations): o_totalprice non-decreasing per customer in
    o_orderdate order — each violating row carries its predecessor
    value so the break is self-explanatory. One window shuffle on the
    key; ties on the ordering are value-ordered so same-date rows
    cannot false-positive."""

    return quality.monotonic_violations(
        t(spark, sf_dir, "orders"),
        "o_custkey",
        "o_orderdate",
        "o_totalprice",
    )
