"""Round-8 twenty-sixth-wave queries: survival-curve
comparison and distribution-level privacy release gates.

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.queries import query, t

_LOGRANK_ORACLE = """
    WITH two AS (
      SELECT event_type AS g, CAST(floor(value) AS BIGINT) AS t,
             CASE WHEN event_id % 4 != 0 THEN 1 ELSE 0 END AS obs
      FROM events WHERE event_type IN ('click', 'error')
    ),
    grain AS (
      SELECT g, t, SUM(obs) AS d, COUNT(*) AS lv FROM two GROUP BY g, t
    ),
    pooled AS (SELECT t FROM grain GROUP BY t HAVING SUM(d) > 0),
    merged AS (
      SELECT g, t, SUM(d) AS d, SUM(lv) AS lv, MAX(mark) AS mark
      FROM (
        SELECT g, t, d, lv, 0 AS mark FROM grain
        UNION ALL
        SELECT gl.g, p.t, 0, 0, 1
        FROM pooled p
        CROSS JOIN (SELECT unnest(['click', 'error']) AS g) gl
      ) GROUP BY g, t
    ),
    risked AS (
      SELECT *, SUM(lv) OVER (PARTITION BY g ORDER BY t DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n
      FROM merged
    ),
    wide AS (
      SELECT t,
             SUM(CASE WHEN g = 'click' THEN d ELSE 0 END) AS da,
             SUM(CASE WHEN g = 'error' THEN d ELSE 0 END) AS db,
             SUM(CASE WHEN g = 'click' THEN n ELSE 0 END) AS na,
             SUM(CASE WHEN g = 'error' THEN n ELSE 0 END) AS nb
      FROM risked WHERE mark = 1 GROUP BY t
    ),
    terms AS (
      SELECT da, db,
             (da + db) * na / CAST(na + nb AS DOUBLE) AS ea,
             CASE WHEN na + nb > 1
                  THEN (da + db) * (na / CAST(na + nb AS DOUBLE))
                       * (1 - na / CAST(na + nb AS DOUBLE))
                       * ((na + nb) - (da + db))
                       / (na + nb - 1)
                  ELSE 0.0 END AS v
      FROM wide
    ),
    tot AS (
      SELECT SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS n_a,
             SUM(CASE WHEN g = 'error' THEN 1 ELSE 0 END) AS n_b
      FROM two
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(SUM(da) AS BIGINT) AS o_a, CAST(SUM(db) AS BIGINT) AS o_b,
           ROUND(SUM(ea), 6) AS e_a,
           ROUND((SUM(da) - SUM(ea)) * (SUM(da) - SUM(ea)) / SUM(v), 6)
             AS chi2,
           ROUND((SUM(da) - SUM(ea)) / sqrt(SUM(v)), 6) AS z
    FROM terms, tot GROUP BY n_a, n_b
"""


@query("q_logrank", oracle=_LOGRANK_ORACLE, tags=("stats", "timeseries"))
def q_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test: do 'click' and 'error' events share a
    time-to-completion distribution under q_kaplan_meier's censoring
    model (duration = floor(value), event_id % 4 = censored)?
    operators/stats.py::logrank_test — pooled event times re-enter each
    group's timeline as zero-mass markers so ONE reverse-cumulative
    window per group yields every risk-set size; integer d/n counts
    make the 1-df chi-square engine-exact after rounding."""
    from weather_api_automate_etl_spark.operators import stats

    ev = t(spark, sf_dir, "events")
    return stats.logrank_test(
        ev,
        "event_type",
        F.floor("value").cast("long"),
        F.col("event_id") % 4 != 0,
        group_a="click",
        group_b="error",
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


@query("q_t_closeness", oracle=_TCLOSE_ORACLE, tags=("privacy", "quality"))
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
