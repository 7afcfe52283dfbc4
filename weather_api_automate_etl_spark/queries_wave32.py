"""Round-8 thirty-second-wave queries: graph-based
keyword extraction and the paired parametric test.

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.queries import query, t

_TOKENS_SQL = "regexp_split_to_array(lower(trim(text)), '\\s+')"

_TEXTRANK_ORACLE = f"""
    WITH filt AS (
      SELECT list_filter({_TOKENS_SQL},
                         w -> len(w) >= 4 AND regexp_matches(w, '^[a-z]+$'))
               AS f
      FROM documents
    ),
    rawpairs AS (
      SELECT least(f[CAST(i AS INTEGER)], f[CAST(i AS INTEGER) + 1]) AS w1,
             greatest(f[CAST(i AS INTEGER)], f[CAST(i AS INTEGER) + 1]) AS w2
      FROM filt, UNNEST(range(1, len(f))) AS u(i)
      WHERE len(f) >= 2
    ),
    pairs AS (
      SELECT DISTINCT w1, w2 FROM rawpairs WHERE w1 != w2
    ),
    words AS (SELECT DISTINCT unnest(f) AS word FROM filt),
    edges AS (
      SELECT w1 AS src, w2 AS dst FROM pairs
      UNION ALL SELECT w2, w1 FROM pairs
    ),
    deg AS (SELECT src, COUNT(*) AS degree FROM edges GROUP BY src),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM words),
    r0 AS (SELECT word AS src, 1.0e0 / (SELECT n FROM nn) AS rank FROM words),
    d1 AS (
      SELECT COALESCE(SUM(rank), 0.0e0) AS dm FROM r0
      WHERE src NOT IN (SELECT src FROM deg)
    ),
    c1 AS (
      SELECT e.dst, SUM(r.rank / d.degree) AS mass
      FROM edges e JOIN deg d USING (src) JOIN r0 r ON r.src = e.src
      GROUP BY e.dst
    ),
    r1 AS (
      SELECT word AS src,
             (1.0e0 - 0.85e0) / (SELECT n FROM nn)
               + 0.85e0 * (COALESCE(c1.mass, 0.0e0)
                           + (SELECT dm FROM d1) / (SELECT n FROM nn)) AS rank
      FROM words LEFT JOIN c1 ON c1.dst = words.word
    ),
    d2 AS (
      SELECT COALESCE(SUM(rank), 0.0e0) AS dm FROM r1
      WHERE src NOT IN (SELECT src FROM deg)
    ),
    c2 AS (
      SELECT e.dst, SUM(r.rank / d.degree) AS mass
      FROM edges e JOIN deg d USING (src) JOIN r1 r ON r.src = e.src
      GROUP BY e.dst
    ),
    r2 AS (
      SELECT word AS src,
             (1.0e0 - 0.85e0) / (SELECT n FROM nn)
               + 0.85e0 * (COALESCE(c2.mass, 0.0e0)
                           + (SELECT dm FROM d2) / (SELECT n FROM nn)) AS rank
      FROM words LEFT JOIN c2 ON c2.dst = words.word
    )
    SELECT src AS word, ROUND(rank * (SELECT n FROM nn), 6) AS rank_n
    FROM r2 ORDER BY rank_n DESC, word LIMIT 20
"""


@query("q_textrank", oracle=_TEXTRANK_ORACLE, tags=("text", "graph"))
def q_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank top-20 keywords (operators/textops.py::
    textrank_keywords, 2 rounds, d=0.85, min_len=4): the word
    co-occurrence graph is VOCABULARY-sized — the corpus is touched by
    exactly one tokenizing scan, and every power-iteration round runs
    on |V|+|E| rows. Composes the proven zip_with pair extraction with
    the q_pagerank kernel (loop-invariant edges checkpointed once,
    dangling mass redistributed). Cut keys are rounded rank + word."""
    from weather_api_automate_etl_spark.operators import textops

    return textops.textrank_keywords(
        t(spark, sf_dir, "documents"), "text",
        min_len=4, iterations=2, damping=0.85, top=20,
    )


_PAIRED_T_ORACLE = """
    WITH pairs AS (
      SELECT c.c_mktsegment AS seg,
             SUM(CASE WHEN year(o_orderdate) % 2 = 0 THEN 1 ELSE 0 END)
               AS x,
             SUM(CASE WHEN year(o_orderdate) % 2 = 1 THEN 1 ELSE 0 END)
               AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment, o.o_custkey
    ),
    agg AS (
      SELECT seg, COUNT(*) AS n,
             SUM(x - y) AS sd1,
             SUM((x - y) * (x - y)) AS sd2
      FROM pairs GROUP BY seg
    ),
    assembled AS (
      SELECT seg, n,
             CAST(sd1 AS DOUBLE) / n AS mean_d,
             (CAST(sd2 AS DOUBLE)
              - CAST(sd1 AS DOUBLE) * CAST(sd1 AS DOUBLE) / n)
             / (n - 1) AS var_d
      FROM agg
    )
    SELECT seg AS c_mktsegment, CAST(n AS BIGINT) AS n,
           ROUND(mean_d, 6) AS mean_d,
           ROUND(CASE WHEN n > 1 AND var_d > 0 THEN sqrt(var_d) END, 6)
             AS sd_d,
           ROUND(CASE WHEN n > 1 AND var_d > 0
                      THEN mean_d / (sqrt(var_d) / sqrt(CAST(n AS DOUBLE)))
                 END, 6) AS t
    FROM assembled
"""


@query("q_paired_t", oracle=_PAIRED_T_ORACLE, tags=("stats",))
def q_paired_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired t-test per market segment on the exact matched pairs
    q_wilcoxon ranks (even- vs odd-year order counts per customer) —
    operators/stats.py::paired_t_test. Running both tests on one
    dataset is the textbook robustness check: agreement certifies the
    shift, divergence flags non-normal differences. Integer counts ⇒
    exact Σd/Σd² ⇒ engine-identical t."""
    from weather_api_automate_etl_spark.operators import stats

    od = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    pairs = (
        od.join(cust, od["o_custkey"] == cust["c_custkey"])
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            F.sum(
                F.when(F.year("o_orderdate") % 2 == 0, 1).otherwise(0)
            ).alias("x"),
            F.sum(
                F.when(F.year("o_orderdate") % 2 == 1, 1).otherwise(0)
            ).alias("y"),
        )
    )
    return stats.paired_t_test(pairs, "c_mktsegment", "x", "y")
