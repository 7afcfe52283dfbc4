"""Round-8 twenty-third-wave queries: link prediction
and asymmetric link analysis.

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.queries import query, t

_LP_ORACLE = """
    WITH e AS (
      SELECT DISTINCT 2 * l_orderkey AS s, 2 * l_partkey + 1 AS d
      FROM lineitem WHERE l_quantity >= 35
    ),
    sym AS (SELECT s AS u, d AS v FROM e UNION SELECT d, s FROM e),
    deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
    a AS (SELECT v AS w, u AS id_a FROM sym),
    b AS (SELECT v AS w, u AS id_b FROM sym),
    pairs AS (
      SELECT id_a, id_b, COUNT(*) AS common,
             SUM(1.0 / ln(dw.d)) AS aa
      FROM a JOIN b USING (w)
      JOIN deg dw ON dw.u = a.w
      WHERE id_a < id_b
      GROUP BY id_a, id_b HAVING COUNT(*) >= 2
    ),
    existing AS (
      SELECT least(u, v) AS id_a, greatest(u, v) AS id_b FROM sym
    ),
    cand AS (
      SELECT p.* FROM pairs p
      WHERE NOT EXISTS (
        SELECT 1 FROM existing x
        WHERE x.id_a = p.id_a AND x.id_b = p.id_b
      )
    )
    SELECT c.id_a, c.id_b, CAST(common AS BIGINT) AS common,
           ROUND(common / CAST(da.d + db.d - common AS DOUBLE), 6)
             AS jaccard,
           ROUND(aa, 6) AS adamic_adar
    FROM cand c
    JOIN deg da ON da.u = c.id_a
    JOIN deg db ON db.u = c.id_b
"""


@query("q_link_prediction", oracle=_LP_ORACLE, tags=("graph", "similarity"))
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the high-quantity order-part graph
    (operators/graph.py::common_neighbor_scores, min_common=2): for
    node pairs with NO direct edge, the common-neighbor count, Jaccard
    overlap, and Adamic-Adar score (hub-damped shared neighbors) — the
    classic absent-edge ranking. Bipartite node ids (2·order /
    2·part+1) keep the two sides disjoint; pairs form on the shared
    neighbor (inverted index), existing edges leave by anti-join."""
    from weather_api_automate_etl_spark.operators import graph

    e = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 35)
        .select(
            (2 * F.col("l_orderkey")).alias("src"),
            (2 * F.col("l_partkey") + 1).alias("dst"),
        )
    )
    return graph.common_neighbor_scores(e, min_common=2)


_HITS_ORACLE = """
    WITH e AS (
      SELECT DISTINCT l_orderkey AS u, l_partkey AS v FROM lineitem
    ),
    a1r AS (SELECT v, CAST(COUNT(*) AS DOUBLE) AS a FROM e GROUP BY v),
    a1n AS (SELECT sqrt(SUM(a * a)) AS n FROM a1r),
    a1 AS (SELECT v, a / (SELECT n FROM a1n) AS a FROM a1r),
    h1r AS (
      SELECT u, SUM(a1.a) AS h FROM e JOIN a1 USING (v) GROUP BY u
    ),
    h1n AS (SELECT sqrt(SUM(h * h)) AS n FROM h1r),
    h1 AS (SELECT u, h / (SELECT n FROM h1n) AS h FROM h1r),
    a2r AS (
      SELECT v, SUM(h1.h) AS a FROM e JOIN h1 USING (u) GROUP BY v
    ),
    a2n AS (SELECT sqrt(SUM(a * a)) AS n FROM a2r),
    a2 AS (SELECT v, a / (SELECT n FROM a2n) AS a FROM a2r)
    SELECT v AS l_partkey, ROUND(a, 6) AS authority,
           CAST(row_number() OVER (ORDER BY ROUND(a, 6) DESC, v ASC)
                AS INTEGER) AS rank
    FROM a2
    QUALIFY row_number() OVER (ORDER BY ROUND(a, 6) DESC, v ASC) <= 20
"""


@query("q_hits", oracle=_HITS_ORACLE, tags=("graph",))
def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS authorities over the order→part graph (operators/graph.py::
    hits_bipartite, 2 iterations, per-round L2 normalization): the
    top-20 authority parts — parts bought by the broadest (hub-like)
    orders, the asymmetric score PageRank's symmetric formulation
    collapses. The oracle unrolls auth→hub→auth with the same
    normalizations; ranking breaks ties on the part key."""
    from weather_api_automate_etl_spark.operators import graph

    edges = (
        t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("src"),
            F.col("l_partkey").alias("dst"),
        )
        .distinct()
    )
    _hubs, auths = graph.hits_bipartite(edges, iterations=2)
    from pyspark.sql import Window

    # TakeOrdered head FIRST (per-partition top-20 + 20-row merge), THEN
    # the rank window over the 20-row head — the round-10 window audit
    # caught the old shape (row_number over ALL node-cardinality rows
    # through one partition, a genuine 100 TB global sort)
    w = Window.orderBy(F.desc("authority"), F.asc("node"))
    return (
        auths.orderBy(F.desc("authority"), F.asc("node"))
        .limit(20)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .select(
            F.col("node").alias("l_partkey"), "authority", "rank"
        )
    )
