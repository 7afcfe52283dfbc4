"""Graph queries over edge lists: label propagation, BFS distances,
single-source shortest paths, org-hierarchy pointer doubling, link
prediction and HITS hubs/authorities.

Registry and oracle conventions: queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.operators import dedup, graph
from weather_api_automate_etl_spark.queries import _MINHASH_SIG_SQL, query, t


_LPA_ROUNDS = 2


def _lpa_round_sql(prev: str, this: str) -> str:
    """One synchronous LPA round as SQL CTEs (neighbour-label count +
    per-node argmax with the (cnt desc, label asc) tie rule)."""
    return f"""
    n_{this} AS (
      SELECT s.u, l.label, count(*) AS cnt
      FROM sym s JOIN {prev} l ON l.u = s.v
      GROUP BY s.u, l.label
    ),
    {this} AS (
      SELECT u, label FROM (
        SELECT u, label,
               row_number() OVER (PARTITION BY u
                                  ORDER BY cnt DESC, label ASC) AS rn
        FROM n_{this}
      ) WHERE rn = 1
    )"""


@query(
    "q_label_propagation",
    oracle=_MINHASH_SIG_SQL
    + """
    , pairs AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM sig a JOIN sig b
        ON a.band_id = b.band_id AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id
    ),
    sym AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
    l0 AS (SELECT DISTINCT u, u AS label FROM sym),
    """
    + _lpa_round_sql("l0", "l1")
    + ","
    + _lpa_round_sql("l1", "l2")
    + """
    SELECT u AS doc_id, label FROM l2
    """,
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community labels on the MinHash+LSH near-dup pair graph via two
    synchronous label-propagation rounds
    (operators/graph.py::label_propagation) — the community-detection
    sibling of q_dedup_clusters: connected components only answers
    reachability, LPA separates densely-knit template families that
    share a bridge edge. Fixed rounds + the (count desc, label asc) tie
    rule make it engine-portable (the kmeans_fixed discipline); per
    round it's one node-keyed label join, one (node, label) count, one
    argmax window — the checkpointed-loop shape, no all-pairs."""
    docs = t(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(
        docs, "doc_id", "text", num_hashes=8, band_size=2
    )
    pairs = dedup.minhash_candidate_pairs(sig, "doc_id")
    return graph.label_propagation(pairs, rounds=_LPA_ROUNDS, node_id="doc_id")


_BFS_ORACLE = """
    WITH e AS (
      SELECT 2 * l_orderkey AS src, 2 * l_partkey + 1 AS dst FROM lineitem
      UNION ALL
      SELECT 2 * l_partkey + 1, 2 * l_orderkey FROM lineitem
    ),
    h0 AS (SELECT DISTINCT 2 * o_orderkey AS node FROM orders
           WHERE o_orderkey % 32 = 0),
    v0 AS (SELECT node, 0 AS hops FROM h0),
    h1 AS (SELECT DISTINCT e.dst AS node FROM e JOIN h0 ON e.src = h0.node
           WHERE e.dst NOT IN (SELECT node FROM v0)),
    v1 AS (SELECT * FROM v0 UNION ALL SELECT node, 1 FROM h1),
    h2 AS (SELECT DISTINCT e.dst AS node FROM e JOIN h1 ON e.src = h1.node
           WHERE e.dst NOT IN (SELECT node FROM v1)),
    v2 AS (SELECT * FROM v1 UNION ALL SELECT node, 2 FROM h2),
    h3 AS (SELECT DISTINCT e.dst AS node FROM e JOIN h2 ON e.src = h2.node
           WHERE e.dst NOT IN (SELECT node FROM v2)),
    v3 AS (SELECT * FROM v2 UNION ALL SELECT node, 3 FROM h3)
    SELECT CAST(hops AS INTEGER) AS hops,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(node) AS BIGINT) AS sum_nodes
    FROM v3 GROUP BY hops
"""


@query("q_bfs_distance", oracle=_BFS_ORACLE)
def q_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS (operators/graph.py::bfs_distances) over the
    order–part bipartite graph (nodes 2·orderkey / 2·partkey+1, edges
    from lineitem): minimum hops from the seed orders (orderkey % 32 = 0)
    out to 3 hops, reduced to per-level (count, id-sum) — value-sensitive
    against both over- and under-expansion. Frontier-joins only — the
    per-round cost is the frontier's edge neighborhood, never the
    transitive closure, which is what makes k-hop search tractable on a
    100 TB edge table. The oracle unrolls the same three rounds."""

    li = t(spark, sf_dir, "lineitem")
    edges = li.select(
        (2 * F.col("l_orderkey")).alias("src"),
        (2 * F.col("l_partkey") + 1).alias("dst"),
    )
    sources = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 32 == 0)
        .select((2 * F.col("o_orderkey")).alias("node"))
    )
    dist = graph.bfs_distances(edges, sources, max_hops=3, directed=False)
    return dist.groupBy(F.col("hops").cast("int").alias("hops")).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("node").alias("sum_nodes"),
    )


_SSSP_ORACLE = """
    WITH e AS (
      SELECT 2 * l_orderkey AS src, 2 * l_partkey + 1 AS dst,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem
      UNION ALL
      SELECT 2 * l_partkey + 1, 2 * l_orderkey, CAST(l_quantity AS BIGINT)
      FROM lineitem
    ),
    d0 AS (SELECT DISTINCT 2 * o_orderkey AS node, CAST(0 AS BIGINT) AS dist
           FROM orders WHERE o_orderkey % 64 = 0),
    d1 AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT * FROM d0
        UNION ALL
        SELECT e.dst, d0.dist + e.w FROM d0 JOIN e ON e.src = d0.node
      ) GROUP BY node
    ),
    d2 AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT * FROM d1
        UNION ALL
        SELECT e.dst, d1.dist + e.w FROM d1 JOIN e ON e.src = d1.node
      ) GROUP BY node
    ),
    d3 AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT * FROM d2
        UNION ALL
        SELECT e.dst, d2.dist + e.w FROM d2 JOIN e ON e.src = d2.node
      ) GROUP BY node
    )
    SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(node) AS BIGINT) AS sum_nodes
    FROM d3 GROUP BY dist
"""


@query("q_sssp", oracle=_SSSP_ORACLE)
def q_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded Bellman-Ford (operators/graph.py::sssp_bounded, 3 rounds)
    over the order-part graph weighted by line quantity: weighted
    shortest distances from the seed orders (orderkey % 64 = 0), reduced
    to the per-distance (count, id-sum) profile. Integer weights keep
    every distance exact; the oracle unrolls the same three relaxation
    rounds."""

    li = t(spark, sf_dir, "lineitem")
    edges = li.select(
        (2 * F.col("l_orderkey")).alias("src"),
        (2 * F.col("l_partkey") + 1).alias("dst"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    sources = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 64 == 0)
        .select((2 * F.col("o_orderkey")).alias("node"))
    )
    dist = graph.sssp_bounded(edges, sources, rounds=3, directed=False)
    return dist.groupBy("dist").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("node").alias("sum_nodes"),
    )


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


@query("q_link_prediction", oracle=_LP_ORACLE)
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the high-quantity order-part graph
    (operators/graph.py::common_neighbor_scores, min_common=2): for
    node pairs with NO direct edge, the common-neighbor count, Jaccard
    overlap, and Adamic-Adar score (hub-damped shared neighbors) — the
    classic absent-edge ranking. Bipartite node ids (2·order /
    2·part+1) keep the two sides disjoint; pairs form on the shared
    neighbor (inverted index), existing edges leave by anti-join."""

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


@query("q_hits", oracle=_HITS_ORACLE)
def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS authorities over the order→part graph (operators/graph.py::
    hits_bipartite, 2 iterations, per-round L2 normalization): the
    top-20 authority parts — parts bought by the broadest (hub-like)
    orders, the asymmetric score PageRank's symmetric formulation
    collapses. The oracle unrolls auth→hub→auth with the same
    normalizations; ranking breaks ties on the part key."""

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
    # the rank window over the 20-row head — not row_number over ALL
    # node-cardinality rows through one partition, a genuine 100 TB
    # global sort
    w = Window.orderBy(F.desc("authority"), F.asc("node"))
    return (
        auths.orderBy(F.desc("authority"), F.asc("node"))
        .limit(20)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .select(
            F.col("node").alias("l_partkey"), "authority", "rank"
        )
    )
