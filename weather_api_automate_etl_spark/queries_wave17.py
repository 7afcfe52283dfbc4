"""Round-8 seventeenth-wave queries: distributed
uncertainty, information-theoretic dependence, weighted graph search,
spatial joins, and asymmetric dedup.

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.queries import query, t


# ---------------------------------------------------------------------------
# Poisson bootstrap CI
# ---------------------------------------------------------------------------

_POISSON_W_SQL = """
    CASE WHEN u < 0.36787944117144233 THEN 0.0
         WHEN u < 0.7357588823428847 THEN 1.0
         WHEN u < 0.9196986029286058 THEN 2.0
         WHEN u < 0.9810118431238462 THEN 3.0
         WHEN u < 0.9963401531726563 THEN 4.0
         WHEN u < 0.9994058151824183 THEN 5.0
         ELSE 6.0 END
"""

_BOOTSTRAP_ORACLE = f"""
    WITH z AS (
      SELECT event_type, value, t.b,
             CAST(CAST(concat('0x',
                    substr(md5(concat(event_id, '|', t.b, '|', 'boot')),
                           1, 13)) AS UBIGINT) AS DOUBLE)
               / 4503599627370496.0 AS u
      FROM events, range(32) t(b)
    ),
    rep AS (
      SELECT event_type, b,
             SUM(({_POISSON_W_SQL}) * value)
               / NULLIF(SUM({_POISSON_W_SQL}), 0.0) AS m
      FROM z GROUP BY event_type, b
    ),
    ranked AS (
      SELECT event_type, m,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY m ASC, b ASC) AS r
      FROM rep
    ),
    bounds AS (
      SELECT event_type,
             MAX(CASE WHEN r = 2 THEN m END) AS lo,
             MAX(CASE WHEN r = 31 THEN m END) AS hi
      FROM ranked GROUP BY event_type
    ),
    base AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, AVG(value) AS mn
      FROM events GROUP BY event_type
    )
    SELECT base.event_type, n, ROUND(mn, 6) AS mean,
           ROUND(lo, 6) AS ci_lo, ROUND(hi, 6) AS ci_hi
    FROM base JOIN bounds ON base.event_type = bounds.event_type
"""


@query("q_bootstrap_ci", oracle=_BOOTSTRAP_ORACLE, tags=("stats",))
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap CI for each event type's mean value
    (operators/stats.py::poisson_bootstrap_ci, B=32): row -> 32
    (replicate, Poisson(1) weight) pairs on ONE scan, replicate means as
    weighted aggregates, interval = (2nd-smallest, 2nd-largest) order
    statistics — exact rank arithmetic, no percentile interpolation.
    The weights come from the deterministic md5 uniform of
    (event_id, replicate, seed), so the oracle replays every draw."""
    from weather_api_automate_etl_spark.operators import stats

    ev = t(spark, sf_dir, "events")
    return stats.poisson_bootstrap_ci(
        ev, "event_type", "value", "event_id", n_boot=32, seed="boot"
    )


# ---------------------------------------------------------------------------
# mutual information between categoricals
# ---------------------------------------------------------------------------


@query(
    "q_mutual_info",
    oracle="""
    WITH joint AS (
      SELECT lang AS x, source AS y, CAST(COUNT(*) AS DOUBLE) AS nxy
      FROM documents GROUP BY lang, source
    ),
    mx AS (SELECT x, SUM(nxy) AS nx FROM joint GROUP BY x),
    my AS (SELECT y, SUM(nxy) AS ny FROM joint GROUP BY y),
    tot AS (SELECT SUM(nxy) AS n FROM joint),
    mi AS (
      SELECT SUM((nxy / n) * ln((nxy * n) / (nx * ny))) AS mi,
             MAX(n) AS n
      FROM joint JOIN mx USING (x) JOIN my USING (y), tot
    ),
    hx AS (SELECT -SUM((nx / n) * ln(nx / n)) AS h_x FROM mx, tot),
    hy AS (SELECT -SUM((ny / n) * ln(ny / n)) AS h_y FROM my, tot)
    SELECT CAST(mi.n AS BIGINT) AS n,
           ROUND(h_x, 6) AS h_x, ROUND(h_y, 6) AS h_y,
           ROUND(mi.mi, 6) AS mi,
           ROUND(CASE WHEN h_x > 0 AND h_y > 0
                      THEN mi.mi / least(h_x, h_y) END, 6) AS nmi
    FROM mi, hx, hy
    """,
    tags=("stats", "text"),
)
def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between a document's language and its source
    (operators/stats.py::mutual_information) — the dependence/leakage
    screen. One aggregate to the contingency table; marginals and
    entropies re-derived from it; everything past the first shuffle is
    category-cardinality-small."""
    from weather_api_automate_etl_spark.operators import stats

    return stats.mutual_information(
        t(spark, sf_dir, "documents"), "lang", "source"
    )


# ---------------------------------------------------------------------------
# bounded Bellman-Ford shortest paths
# ---------------------------------------------------------------------------

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


@query("q_sssp", oracle=_SSSP_ORACLE, tags=("graph",))
def q_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded Bellman-Ford (operators/graph.py::sssp_bounded, 3 rounds)
    over the order-part graph weighted by line quantity: weighted
    shortest distances from the seed orders (orderkey % 64 = 0), reduced
    to the per-distance (count, id-sum) profile. Integer weights keep
    every distance exact; the oracle unrolls the same three relaxation
    rounds."""
    from weather_api_automate_etl_spark.operators import graph

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


# ---------------------------------------------------------------------------
# grid-blocked spatial radius join
# ---------------------------------------------------------------------------

_GEO_ORACLE = """
    WITH c AS (
      SELECT c_custkey,
             (c_custkey * 37 % 9000) / 100.0 - 45.0 AS clat,
             (c_custkey * 73 % 34000) / 100.0 - 170.0 AS clon
      FROM customer
    ),
    s AS (
      SELECT s_suppkey,
             (s_suppkey * 53 % 9000) / 100.0 - 45.0 AS slat,
             (s_suppkey * 97 % 34000) / 100.0 - 170.0 AS slon
      FROM supplier
    ),
    cl AS (
      SELECT c.*,
             CAST(floor(clat / 1.5) + t1.dy AS BIGINT) AS cy,
             CAST(floor(clon / 1.5) + t2.dx AS BIGINT) AS cx
      FROM c, range(-1, 2) t1(dy), range(-1, 2) t2(dx)
    ),
    sl AS (
      SELECT s.*, CAST(floor(slat / 1.5) AS BIGINT) AS cy,
             CAST(floor(slon / 1.5) AS BIGINT) AS cx
      FROM s
    ),
    cand AS (
      SELECT c_custkey, s_suppkey, clat, clon, slat, slon,
             2.0 * 6371.0 * asin(sqrt(
               sin(radians(slat - clat) / 2.0) * sin(radians(slat - clat) / 2.0)
               + cos(radians(clat)) * cos(radians(slat))
                 * sin(radians(slon - clon) / 2.0)
                 * sin(radians(slon - clon) / 2.0)
             )) AS dist_km
      FROM cl JOIN sl USING (cy, cx)
    )
    SELECT c_custkey, s_suppkey, ROUND(dist_km, 4) AS dist_km
    FROM cand WHERE dist_km < 100.0
"""


@query("q_geo_join", oracle=_GEO_ORACLE, tags=("joins", "geo"))
def q_geo_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join (operators/joins.py::geo_radius_join):
    customers to suppliers within 100 km, coordinates synthesized
    deterministically from the keys on a 0.01-degree grid clamped to
    latitude ±45 (so one 1.5-degree cell covers the radius on both
    axes). Grid-cell blocking + 3x3 neighborhood replication makes the
    candidate set a shuffle-keyed equi-join — the oracle blocks the
    same way, because the naive cross join is exactly what this
    operator exists to avoid. Distances round to 4 (0.1 m — far above
    trig ulp divergence)."""
    from weather_api_automate_etl_spark.operators import joins

    cust = t(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 37 % 9000) / 100.0 - 45.0).alias("clat"),
        ((F.col("c_custkey") * 73 % 34000) / 100.0 - 170.0).alias("clon"),
    )
    supp = t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 53 % 9000) / 100.0 - 45.0).alias("slat"),
        ((F.col("s_suppkey") * 97 % 34000) / 100.0 - 170.0).alias("slon"),
    )
    pairs = joins.geo_radius_join(
        cust, supp, radius_km=100.0, cell_deg=1.5,
        lat_l="clat", lon_l="clon", lat_r="slat", lon_r="slon",
    )
    return pairs.select(
        "c_custkey", "s_suppkey", F.round("dist_km", 4).alias("dist_km")
    )


# ---------------------------------------------------------------------------
# shingle-set containment (asymmetric dedup)
# ---------------------------------------------------------------------------

_TOKENS_SQL = "regexp_split_to_array(lower(trim(text)), '\\s+')"

_CONTAINMENT_ORACLE = f"""
    WITH dt AS (
      SELECT doc_id, lang, unnest(list_distinct({_TOKENS_SQL})) AS tok
      FROM documents
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM dt GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM dt a JOIN dt b
        ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(i / na.n, 6) AS c_ab,
           ROUND(i / nb.n, 6) AS c_ba,
           greatest(ROUND(i / na.n, 6), ROUND(i / nb.n, 6)) AS containment
    FROM inter
    JOIN sizes na ON na.doc_id = id_a
    JOIN sizes nb ON nb.doc_id = id_b
    WHERE greatest(ROUND(i / na.n, 6), ROUND(i / nb.n, 6)) >= 0.9
"""


@query("q_containment", oracle=_CONTAINMENT_ORACLE, tags=("dedup", "text"))
def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set containment pairs blocked by lang
    (operators/dedup.py::containment_pairs, threshold 0.9 on the max
    direction): Broder's asymmetric doc-inside-doc measure — a short
    document fully quoted inside a long one scores 1.0 here while its
    Jaccard (q_ngram_jaccard) is near zero. Same inverted-index join
    shape, same blocking discipline."""
    from weather_api_automate_etl_spark.operators import dedup

    return dedup.containment_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text",
        block_col="lang", threshold=0.9, shingle_k=1,
    )
