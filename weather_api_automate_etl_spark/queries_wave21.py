"""Round-8 twenty-first-wave queries: logarithmic
hierarchy flattening and Pareto-frontier selection.

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.queries import query, t


@query(
    "q_org_hierarchy",
    oracle="""
    WITH RECURSIVE h AS (
      SELECT c_custkey AS node,
             CASE WHEN c_custkey < 7 THEN c_custkey
                  ELSE c_custkey // 7 END AS parent
      FROM customer
    ),
    walk AS (
      SELECT node, parent AS cur,
             CASE WHEN parent = node THEN 0 ELSE 1 END AS depth
      FROM h
      UNION ALL
      SELECT w.node, h2.parent, w.depth + 1
      FROM walk w JOIN h h2 ON h2.node = w.cur
      WHERE h2.parent != w.cur
    ),
    final AS (
      SELECT node, cur AS root, depth,
             row_number() OVER (PARTITION BY node ORDER BY depth DESC) AS rn
      FROM walk
    )
    SELECT node AS c_custkey, root, CAST(depth AS BIGINT) AS depth
    FROM final WHERE rn = 1
    """,
    tags=("graph",),
)
def q_org_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy flattening by pointer doubling (operators/graph.py::
    pointer_doubling_roots) over a synthesized customer reporting tree
    (parent = custkey div 7; custkey < 7 are roots, so the forest has
    several multi-level trees): every node's root and exact depth in
    O(log depth) self-join rounds — the org-chart / BOM / category-tree
    rollup at scale. The oracle walks each chain one level per
    recursive-CTE step; the operator must land on identical
    (root, depth) in logarithmically fewer rounds."""
    from weather_api_automate_etl_spark.operators import graph

    parents = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("node"),
        F.when(F.col("c_custkey") < 7, F.col("c_custkey"))
        .otherwise(F.expr("c_custkey DIV 7"))
        .alias("parent"),
    )
    out = graph.pointer_doubling_roots(parents)
    return out.select(
        F.col("node").alias("c_custkey"), "root", F.col("depth")
    )


@query(
    "q_skyline_2d",
    oracle="""
    WITH pts AS (
      SELECT DISTINCT o_orderpriority, o_orderdate, o_totalprice
      FROM orders
    ),
    w AS (
      SELECT *,
             MIN(o_totalprice) OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_orderdate DESC, o_totalprice ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS bp
      FROM pts
    )
    SELECT o_orderpriority, o_orderdate, o_totalprice
    FROM w WHERE bp IS NULL OR o_totalprice < bp
    """,
    tags=("stats", "windows"),
)
def q_skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier per priority: the orders no other order beats on
    BOTH recency and price (operators/stats.py::skyline_2d — maximize
    o_orderdate, minimize o_totalprice). The 2-D skyline needs no
    dominance self-join: one running-min window over the sorted
    distinct pairs, O(n log n), which is why it's a window idiom here
    and a blocked join only at d > 2."""
    from weather_api_automate_etl_spark.operators import stats

    return stats.skyline_2d(
        t(spark, sf_dir, "orders"),
        "o_orderpriority", "o_orderdate", "o_totalprice",
    )
