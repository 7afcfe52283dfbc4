"""Round-8 thirty-sixth-wave queries: categorical
cardinality hygiene and a fleet drift screen with FDR control.

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.functions.core import pg_dow, pg_hour
from weather_api_automate_etl_spark.queries import query, t
from weather_api_automate_etl_spark.queries_wave34 import _ERF_P_SQL

_RARE_ORACLE = """
    WITH base AS (
      SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                    1, 2) AS c
      FROM orders
    ),
    counts AS (SELECT c, COUNT(*) AS n FROM base GROUP BY c),
    tot AS (SELECT SUM(n) AS tot FROM counts),
    v AS (
      SELECT c, CAST(n AS DOUBLE) < 0.01 * CAST(tot AS DOUBLE) AS rare
      FROM counts, tot
    )
    SELECT CASE WHEN rare THEN '__other__' ELSE c END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT c) AS BIGINT) AS n_source_categories
    FROM base JOIN v USING (c)
    GROUP BY 1
"""


@query("q_rare_collapse", oracle=_RARE_ORACLE, tags=("mlprep", "quality"))
def q_rare_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse sub-1% categories of the leading-two-digit order price
    bucket (operators/stats.py::rare_category_collapse) — the
    price-magnitude distribution is log-skewed, so ~half the 90
    buckets fall under the threshold at every SF and '__other__'
    absorbs a real long tail. The report pins both the post-collapse
    distribution and how many source categories each output level
    absorbed."""
    from weather_api_automate_etl_spark.operators import stats

    base = t(spark, sf_dir, "orders").select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 2
        ).alias("c")
    )
    out = stats.rare_category_collapse(
        base, "c", min_frac=0.01, out_col="bucket"
    )
    return out.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.count_distinct("c").cast("long").alias("n_source_categories"),
    )


_DRIFT_LONG_SQL = """
      SELECT 'dow' AS f,
             CAST(CAST(date_part('dow', CAST(ts AS TIMESTAMP)) AS BIGINT)
                  AS VARCHAR) AS c,
             CAST(event_id % 2 AS INTEGER) AS s
      FROM events
      UNION ALL
      SELECT 'event_type', event_type, CAST(event_id % 2 AS INTEGER)
      FROM events
      UNION ALL
      SELECT 'hour',
             CAST(CAST(date_part('hour', CAST(ts AS TIMESTAMP)) AS BIGINT)
                  AS VARCHAR),
             CAST(event_id % 2 AS INTEGER)
      FROM events
      UNION ALL
      SELECT 'id_mod6_lt3', CAST(event_id % 6 < 3 AS VARCHAR),
             CAST(event_id % 2 AS INTEGER)
      FROM events
      UNION ALL
      SELECT 'user_mod10', CAST(user_id % 10 AS VARCHAR),
             CAST(event_id % 2 AS INTEGER)
      FROM events
      UNION ALL
      SELECT 'value_bucket',
             CAST(CAST(floor(COALESCE(value, 999.0) / 10.0) AS BIGINT)
                  AS VARCHAR),
             CAST(event_id % 2 AS INTEGER)
      FROM events
"""

_DRIFT_ORACLE = f"""
    WITH longf AS (
{_DRIFT_LONG_SQL}
    ),
    counts AS (
      SELECT f, COALESCE(c, '__null__') AS c, s, COUNT(*) AS o
      FROM longf WHERE s IS NOT NULL GROUP BY 1, 2, 3
    ),
    rt AS (SELECT f, c, SUM(o) AS rt FROM counts GROUP BY f, c),
    ct AS (SELECT f, s, SUM(o) AS ct FROM counts GROUP BY f, s),
    nt AS (SELECT f, SUM(o) AS nt FROM counts GROUP BY f),
    cells AS (
      SELECT rt.f, rt.c, ct.s, COALESCE(counts.o, 0) AS o,
             CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)
               / CAST(nt.nt AS DOUBLE) AS e
      FROM rt JOIN ct ON rt.f = ct.f JOIN nt ON nt.f = rt.f
      LEFT JOIN counts
        ON counts.f = rt.f AND counts.c = rt.c AND counts.s = ct.s
    ),
    folded AS (
      SELECT f,
             list_reduce(
               list((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e
                    ORDER BY c, s),
               (a, b) -> a + b) AS chi2,
             (COUNT(DISTINCT c) - 1) * (COUNT(DISTINCT s) - 1) AS dof
      FROM cells GROUP BY f
    ),
    zt AS (
      SELECT f, chi2, dof,
             (pow(chi2 / CAST(dof AS DOUBLE), 0.3333333333333333)
              - (1.0 - 2.0 / (9.0 * CAST(dof AS DOUBLE))))
             / sqrt(2.0 / (9.0 * CAST(dof AS DOUBLE))) AS z
      FROM folded
    ),
    pt AS (
      SELECT f, chi2, dof, z,
             CASE WHEN z >= 0 THEN ({_ERF_P_SQL}) / 2.0
                  ELSE 1.0 - ({_ERF_P_SQL}) / 2.0 END AS p
      FROM zt
    ),
    ranked AS (
      SELECT f, chi2, dof, z, p,
             row_number() OVER (ORDER BY p, f) AS r,
             COUNT(*) OVER () AS m
      FROM pt
    ),
    cut AS (
      SELECT *, MAX(CASE WHEN p <= CAST(r AS DOUBLE) / m * 0.1
                         THEN r ELSE 0 END) OVER () AS kstar
      FROM ranked
    )
    SELECT f AS feature, ROUND(p, 6) AS p, CAST(r AS INTEGER) AS rank,
           ROUND(CAST(r AS DOUBLE) / m * 0.1, 6) AS threshold,
           r <= kstar AS significant,
           ROUND(chi2, 6) AS chi2, CAST(dof AS INTEGER) AS dof,
           ROUND(z, 6) AS z
    FROM cut
"""


@query("q_drift_sweep_fdr", oracle=_DRIFT_ORACLE, tags=("stats", "quality"))
def q_drift_sweep_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-feature drift screen across the event_id-parity split
    (operators/stats.py::chi2_drift_fdr, q=0.1): dow/hour/type/
    user-mod/value-bucket are split-independent by construction (null
    features), while id_mod6_lt3 is arithmetically entangled with the
    parity split (2:1 vs 1:2 odds) — the screen must flag exactly it.
    χ² folds run in (category, split) order on both engines; p-values
    come from Wilson-Hilferty + the shared erf polynomial; BH keeps
    the other five quiet."""
    from weather_api_automate_etl_spark.operators import stats

    ev = t(spark, sf_dir, "events")
    feats = {
        "dow": pg_dow("ts").cast("long"),
        "hour": pg_hour("ts").cast("long"),
        "event_type": F.col("event_type"),
        "user_mod10": F.col("user_id") % 10,
        "value_bucket": F.floor(
            F.coalesce(F.col("value"), F.lit(999.0)) / 10.0
        ).cast("long"),
        "id_mod6_lt3": (F.col("event_id") % 6 < 3),
    }
    return stats.chi2_drift_fdr(ev, feats, F.col("event_id") % 2, q=0.1)
