"""Round-8 sixteenth-wave queries: co-located storage
joins, k-hop graph search, rank statistics, forecasting, governance
releases, data selection, and perceptual image dedup.

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.queries import query, scratch, t


# ---------------------------------------------------------------------------
# co-located storage: bucketed tables -> exchange-free sort-merge join
# ---------------------------------------------------------------------------


@query(
    "q_bucketed_join",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    tags=("joins", "storage"),
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table sort-merge join: both sides are persisted
    hash-bucketed AND per-bucket sorted on the join key
    (operators/joins.py::write_bucketed — the shuffle is paid once, at
    write time), then joined via bucketed_equi_join, whose physical plan
    has NO Exchange under the SortMergeJoin (pinned by
    tests/test_wave16.py::test_bucketed_join_plan_has_no_exchange). The
    oracle is the plain join — co-location must be invisible in the
    answer. This is THE layout decision that turns a daily 100 TB
    fact-to-fact join from a full two-sided shuffle into a local merge."""
    from weather_api_automate_etl_spark.operators import joins

    u = uuid.uuid4().hex[:10]
    ln, rn = f"q_smb_l_{u}", f"q_smb_r_{u}"
    with scratch("q_bucketed_join") as base:
        try:
            joins.write_bucketed(
                t(spark, sf_dir, "lineitem").select(
                    "l_orderkey", "l_extendedprice", "l_discount"
                ),
                "l_orderkey", 8, ln, f"{base}/l",
            )
            joins.write_bucketed(
                t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
                "o_orderkey", 8, rn, f"{base}/r",
            )
            j = joins.bucketed_equi_join(spark, ln, rn, "l_orderkey", "o_orderkey")
            result = (
                j.groupBy("o_orderpriority")
                .agg(
                    F.count(F.lit(1)).alias("n_items"),
                    F.round(
                        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                        2,
                    ).alias("revenue"),
                )
                .localCheckpoint(eager=True)
            )
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {ln}")
            spark.sql(f"DROP TABLE IF EXISTS {rn}")
    return result


# ---------------------------------------------------------------------------
# multi-source BFS over the order-part bipartite graph
# ---------------------------------------------------------------------------

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


@query("q_bfs_distance", oracle=_BFS_ORACLE, tags=("graph",))
def q_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS (operators/graph.py::bfs_distances) over the
    order–part bipartite graph (nodes 2·orderkey / 2·partkey+1, edges
    from lineitem): minimum hops from the seed orders (orderkey % 32 = 0)
    out to 3 hops, reduced to per-level (count, id-sum) — value-sensitive
    against both over- and under-expansion. Frontier-joins only — the
    per-round cost is the frontier's edge neighborhood, never the
    transitive closure, which is what makes k-hop search tractable on a
    100 TB edge table. The oracle unrolls the same three rounds."""
    from weather_api_automate_etl_spark.operators import graph

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


# ---------------------------------------------------------------------------
# Spearman rank correlation per group
# ---------------------------------------------------------------------------


@query(
    "q_spearman_corr",
    oracle="""
    WITH r AS (
      SELECT l_returnflag AS grp,
             (rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
              + (COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1) / 2.0
              - (COUNT(*) OVER (PARTITION BY l_returnflag) + 1) / 2.0) AS rx,
             (rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
              + (COUNT(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1) / 2.0
              - (COUNT(*) OVER (PARTITION BY l_returnflag) + 1) / 2.0) AS ry
      FROM lineitem
    ),
    m AS (
      SELECT grp, COUNT(*) AS n, SUM(rx * ry) AS sxy,
             SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy
      FROM r GROUP BY grp
    )
    SELECT grp, CAST(n AS BIGINT) AS n,
           ROUND(sxy / (CASE WHEN sxx > 0 AND syy > 0
                             THEN sqrt(sxx * syy) END), 6) AS spearman_rho
    FROM m
    """,
    tags=("stats",),
)
def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Spearman rank correlation (operators/stats.py::
    spearman_by_group): average-rank ties, closed-form centering (average
    ranks always sum to n(n+1)/2, so no measured mean and no
    n·Σxy − Σx·Σy cancellation) — every sum is quarter-granular and
    exact in doubles, so Spark and DuckDB agree bit-for-bit before the
    final round. Monotone-association screen between quantity and price
    inside each return-flag segment."""
    from weather_api_automate_etl_spark.operators import stats

    return stats.spearman_by_group(
        t(spark, sf_dir, "lineitem").withColumnRenamed("l_returnflag", "grp"),
        "grp", "l_quantity", "l_extendedprice",
    )


# ---------------------------------------------------------------------------
# Holt double exponential smoothing per series
# ---------------------------------------------------------------------------


@query(
    "q_holt_linear",
    oracle="""
    WITH RECURSIVE s AS (
      SELECT o_orderpriority AS grp,
             year(o_orderdate) * 100 + month(o_orderdate) AS ym,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM orders GROUP BY 1, 2
    ),
    idx AS (
      SELECT grp, y,
             row_number() OVER (PARTITION BY grp ORDER BY ym) AS i,
             COUNT(*) OVER (PARTITION BY grp) AS n
      FROM s
    ),
    rec AS (
      SELECT a.grp, 1 AS i, a.y AS lvl, b.y - a.y AS trd
      FROM idx a JOIN idx b ON a.grp = b.grp AND a.i = 1 AND b.i = 2
      UNION ALL
      SELECT r.grp, r.i + 1,
             0.5 * x.y + 0.5 * (r.lvl + r.trd),
             0.25 * ((0.5 * x.y + 0.5 * (r.lvl + r.trd)) - r.lvl)
               + 0.75 * r.trd
      FROM rec r JOIN idx x ON x.grp = r.grp AND x.i = r.i + 1
    ),
    last AS (
      SELECT grp, MAX(i) AS n FROM rec GROUP BY grp
    )
    SELECT r.grp, CAST(l.n AS BIGINT) AS n_points,
           ROUND(r.lvl, 6) AS level, ROUND(r.trd, 6) AS trend,
           ROUND(r.lvl + r.trd, 6) AS forecast_1
    FROM rec r JOIN last l ON r.grp = l.grp AND r.i = l.n
    """,
    tags=("timeseries",),
)
def q_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear (double exponential) smoothing of the monthly order
    volume per priority (operators/timeseries.py::holt_linear, α=0.5,
    β=0.25 — dyadic, so every step is exact IEEE arithmetic and the
    recursive-CTE oracle replays it bit-for-bit): textbook init
    l₁=y₁, b₁=y₂−y₁, recursion from t=2. One aggregate to the monthly
    grain, one fold per series — sequential in t, parallel across
    series."""
    from weather_api_automate_etl_spark.operators import timeseries

    monthly = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("grp"),
            (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("ym"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
    )
    # WITH RECURSIVE's UNION ALL requires n_points as MAX(i) from the
    # replay itself; Spark's n_points is the series length — same number
    return timeseries.holt_linear(monthly, "grp", "ym", "y")


# ---------------------------------------------------------------------------
# l-diversity audit (privacy governance, beside q_k_anonymity)
# ---------------------------------------------------------------------------


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
    tags=("privacy", "quality"),
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


# ---------------------------------------------------------------------------
# epsilon-DP noisy counts with deterministic keyed-hash Laplace noise
# ---------------------------------------------------------------------------


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
    tags=("privacy", "stats"),
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


# ---------------------------------------------------------------------------
# DSIR hashed-n-gram importance weights (data selection)
# ---------------------------------------------------------------------------

_TOKENS_SQL = "regexp_split_to_array(lower(trim(text)), '\\s+')"

_DSIR_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, lang = 'en' AS is_t, unnest({_TOKENS_SQL}) AS term
      FROM documents
    ),
    t2 AS (
      SELECT doc_id, is_t,
             CAST(CAST(concat('0x', substr(md5(term), 1, 8)) AS UBIGINT) % 64
                  AS BIGINT) AS f
      FROM tok WHERE term != ''
    ),
    fc AS (
      SELECT f, SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS tc,
             COUNT(*) AS rc
      FROM t2 GROUP BY f
    ),
    tot AS (SELECT SUM(tc) AS tt, SUM(rc) AS rt FROM fc),
    w AS (
      SELECT f, ln((tc + 1.0) / (tt + 64.0)) - ln((rc + 1.0) / (rt + 64.0))
               AS lw
      FROM fc, tot
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(SUM(lw), 6) AS dsir_weight
    FROM t2 JOIN w USING (f)
    GROUP BY doc_id
"""


@query("q_dsir_weights", oracle=_DSIR_ORACLE, tags=("text", "corpus"))
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators/corpus.py::dsir_importance,
    Xie et al. 2023): per-document log-likelihood ratio of a hashed-
    unigram model of the TARGET slice (lang='en') against the raw
    corpus, dim=64 — the cheap model-free data-selection score. The
    feature table is O(dim), the join back is a broadcast; nothing
    grows with the corpus but the scans."""
    from weather_api_automate_etl_spark.operators import corpus

    return corpus.dsir_importance(
        t(spark, sf_dir, "documents"), F.col("lang") == "en", dim=64
    )


# ---------------------------------------------------------------------------
# perceptual image dedup: difference hash over real decoded pixels
# ---------------------------------------------------------------------------

_DHASH_ORACLE = """
    WITH g AS (
      SELECT doc_id, (doc_id % 5) * 48 + 16 AS a,
             (doc_id % 3) * 37 + 11 AS b, (doc_id % 16) * 16 AS s
      FROM documents
    ),
    bits AS (
      SELECT doc_id, t1.y, t2.x,
             CASE WHEN (a * (t2.x + 1) + b * t1.y + s) % 256
                       > (a * t2.x + b * t1.y + s) % 256
                  THEN 1 ELSE 0 END AS bit
      FROM g, range(8) t1(y), range(8) t2(x)
    ),
    rws AS (
      SELECT doc_id, y,
             SUM(bit * CAST(power(2, 7 - x) AS BIGINT)) AS rb
      FROM bits GROUP BY doc_id, y
    ),
    h AS (
      SELECT doc_id,
             string_agg(printf('%02x', CAST(rb AS INTEGER)), ''
                        ORDER BY y) AS dhash
      FROM rws GROUP BY doc_id
    )
    SELECT doc_id AS asset_id, dhash,
           CAST(COUNT(*) OVER (PARTITION BY dhash) AS BIGINT)
             AS dup_group_size
    FROM h
"""


@query("q_image_dhash", oracle=_DHASH_ORACLE, tags=("multimodal", "dedup"))
def q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup end-to-end: REAL binary-PPM gradient
    payloads (sources/multimodal.py::documents_as_gradient_assets) are
    decoded by the pure-NumPy codec, reduced to the 64-bit difference
    hash (image_dhash — bit(x,y) = px(x+1,y) > px(x,y), row-major,
    MSB-first), and grouped into exact perceptual-duplicate classes.
    Every hash bit is closed-form in the generation parameters, so the
    oracle predicts the full 16-hex fingerprint AND the group sizes —
    any decode, packing, or endianness defect breaks the match. The
    image-side analogue of exact text dedup; Hamming-banding the same
    hash (q_simhash_pairs' pigeonhole) is the near-dup extension."""
    from weather_api_automate_etl_spark.sources import multimodal

    assets = multimodal.documents_as_gradient_assets(
        t(spark, sf_dir, "documents")
    )
    h = multimodal.image_dhash(assets)
    from pyspark.sql import Window

    return h.select(
        "asset_id",
        "dhash",
        F.count(F.lit(1))
        .over(Window.partitionBy("dhash"))
        .cast("long")
        .alias("dup_group_size"),
    )
