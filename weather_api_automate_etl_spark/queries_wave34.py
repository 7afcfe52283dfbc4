"""Round-8 thirty-fourth-wave queries: robust null
imputation and multiple-testing control.

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.queries import query, t

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


@query("q_impute_median", oracle=_IMPUTE_ORACLE, tags=("quality", "mlprep"))
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


_ERF_P_SQL = """
    2.0 * (1.0 - (0.5 * (1.0 + (1.0 - (1.0 / (1.0 + 0.3275911 * (abs(z) / 1.4142135623730951)))
      * (0.254829592
         + (1.0 / (1.0 + 0.3275911 * (abs(z) / 1.4142135623730951)))
           * (-0.284496736
              + (1.0 / (1.0 + 0.3275911 * (abs(z) / 1.4142135623730951)))
                * (1.421413741
                   + (1.0 / (1.0 + 0.3275911 * (abs(z) / 1.4142135623730951)))
                     * (-1.453152027
                        + (1.0 / (1.0 + 0.3275911 * (abs(z) / 1.4142135623730951)))
                          * 1.061405429))))
      * exp(-(abs(z) / 1.4142135623730951) * (abs(z) / 1.4142135623730951))))))
"""

_BH_ORACLE = f"""
    WITH cust AS (
      SELECT c_nationkey AS k, CAST(c_acctbal AS DECIMAL(19,6)) AS b
      FROM customer
    ),
    per AS (
      SELECT k, COUNT(*) AS n, CAST(SUM(b) AS DOUBLE) AS s
      FROM cust GROUP BY k
    ),
    gl AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n, CAST(SUM(b) AS DOUBLE) AS s,
             CAST(SUM(b * b) AS DOUBLE) AS ss
      FROM cust
    ),
    zt AS (
      SELECT per.k,
             (per.s / per.n - gl.s / gl.n)
             / (sqrt((gl.ss - gl.s * gl.s / gl.n) / (gl.n - 1))
                / sqrt(CAST(per.n AS DOUBLE))) AS z
      FROM per, gl
    ),
    pt AS (SELECT k, {_ERF_P_SQL} AS p FROM zt),
    ranked AS (
      SELECT k, p, row_number() OVER (ORDER BY p, k) AS r,
             COUNT(*) OVER () AS m
      FROM pt
    ),
    cut AS (
      SELECT *, MAX(CASE WHEN p <= CAST(r AS DOUBLE) / m * 0.1
                         THEN r ELSE 0 END) OVER () AS kstar
      FROM ranked
    )
    SELECT k AS c_nationkey, ROUND(p, 6) AS p, CAST(r AS INTEGER) AS rank,
           ROUND(CAST(r AS DOUBLE) / m * 0.1, 6) AS threshold,
           r <= kstar AS significant
    FROM cut
"""


@query("q_bh_fdr", oracle=_BH_ORACLE, tags=("stats", "quality"))
def q_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg at q=0.1 over 25 per-nation "is this nation's
    mean account balance off the global mean?" z-tests (operators/
    stats.py::bh_fdr): the per-group screening fleet with its
    false-discovery rate actually controlled. z's assemble from exact
    decimal sums; p-values use the A&S erf polynomial written token-
    for-token identically in both engines (normal_two_sided_p), so the
    step-up cut lands on the same rank everywhere."""
    from weather_api_automate_etl_spark.operators import stats

    cust = t(spark, sf_dir, "customer").select(
        F.col("c_nationkey"),
        F.col("c_acctbal").cast("decimal(19,6)").alias("b"),
    )
    per = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("b").cast("double").alias("s"),
    )
    gl = cust.agg(
        F.count(F.lit(1)).cast("double").alias("gn"),
        F.sum("b").cast("double").alias("gs"),
        F.sum(F.col("b") * F.col("b")).cast("double").alias("gss"),
    )
    z = (
        per.crossJoin(F.broadcast(gl))
        .select(
            "c_nationkey",
            (
                (F.col("s") / F.col("n") - F.col("gs") / F.col("gn"))
                / (
                    F.sqrt(
                        (F.col("gss") - F.col("gs") * F.col("gs") / F.col("gn"))
                        / (F.col("gn") - 1)
                    )
                    / F.sqrt(F.col("n").cast("double"))
                )
            ).alias("z"),
        )
        .select(
            "c_nationkey", stats.normal_two_sided_p(F.col("z")).alias("p")
        )
    )
    return stats.bh_fdr(z, "c_nationkey", "p", q=0.1)
