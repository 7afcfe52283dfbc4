"""Feature-preparation queries for model training: quantile
normalization, target encoding, ALS factors, rare-category collapse,
min-max scaling and ordinal encoding.

Registry and oracle conventions: queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.operators import stats
from weather_api_automate_etl_spark.queries import query, t


_QN_PCTS = ", ".join(f"{i / 100.0!r}" for i in range(101))


@query(
    "q_quantile_normalize",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             percent_rank() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS pr
      FROM documents
    ),
    binned AS (
      SELECT doc_id, source, n_chars,
             CAST(floor(pr * 100 + 0.5) AS INTEGER) AS bin
      FROM ranked
    ),
    q AS (SELECT quantile_cont(n_chars, [{_QN_PCTS}]) AS qs FROM documents),
    qt AS (
      SELECT CAST(i AS INTEGER) AS bin, qs[CAST(i AS INTEGER) + 1] AS qv
      FROM q, UNNEST(range(0, 101)) AS u(i)
    )
    SELECT b.doc_id, b.source, b.n_chars, b.bin,
           ROUND(qt.qv, 6) AS normalized
    FROM binned b JOIN qt USING (bin)
    """,
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned quantile normalization of document length across sources:
    each doc's within-source percent_rank (deterministic (n_chars,
    doc_id) tie-break) maps through the GLOBAL length distribution's
    percentile table — the cross-source alignment step that makes
    length-based curriculum/filter thresholds mean the same thing for
    every source. Per-source windows stay partitioned (never a global
    sort); the global percentile table is ONE aggregate broadcast back
    as 101 rows (swap percentile→percentile_approx past executor-sort
    scale — the q_winsorize note). Half-up bin rounding is spelled
    floor(x + 0.5) on both engines."""
    return stats.quantile_normalize_binned(
        t(spark, sf_dir, "documents"), "doc_id", "source", "n_chars"
    )


@query(
    "q_target_encode",
    oracle="""
    WITH folded AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(o_totalprice AS DOUBLE) AS y,
             CAST(CAST(concat('0x',
                    substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                  AS UBIGINT) % 5 AS INTEGER) AS fold
      FROM orders
    ),
    grid AS (
      SELECT o_orderpriority, fold, SUM(y) AS s, COUNT(*) AS n
      FROM folded GROUP BY o_orderpriority, fold
    ),
    tot AS (
      SELECT o_orderpriority, SUM(s) AS st, SUM(n) AS nt
      FROM grid GROUP BY o_orderpriority
    ),
    oof AS (
      SELECT o_orderpriority, fold,
             (st - s) / NULLIF(nt - n, 0) AS te
      FROM grid JOIN tot USING (o_orderpriority)
    )
    SELECT o_orderkey, o_orderpriority, fold, ROUND(te, 4) AS te
    FROM folded JOIN oof USING (o_orderpriority, fold)
    """,
)
def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe target encoding of order priority by order value
    (operators/sampling.py::target_encode_oof, k=5): each row's encoded
    value is the mean price over the OTHER folds' rows of its category —
    te = (S_cat − S_cat,fold)/(n_cat − n_cat,fold) — so a row's own
    label never reaches its feature. Folds are content-hash, the same
    md5 arithmetic the oracle replays. te rounds to 4: the category
    sums are ~1e9-magnitude doubles whose engine summation orders
    differ in the last ulps, and 1e-4 on a ~1.5e5 mean sits safely
    above that noise."""
    from weather_api_automate_etl_spark.operators import sampling

    te = sampling.target_encode_oof(
        t(spark, sf_dir, "orders"),
        "o_orderkey", "o_orderpriority", "o_totalprice", k=5,
    )
    return te.select(
        "o_orderkey", "o_orderpriority", "fold",
        F.round("te", 4).alias("te"),
    )


def _als_oracle() -> str:
    half = """
    {out} AS (
      SELECT {side} AS k,
             ((c * d1 - b * d2) / (a * c - b * b)) AS f1,
             ((a * d2 - b * d1) / (a * c - b * b)) AS f2
      FROM (
        SELECT r.{side},
               SUM(o.f1 * o.f1) + 0.1 * COUNT(*) AS a,
               SUM(o.f1 * o.f2) AS b,
               SUM(o.f2 * o.f2) + 0.1 * COUNT(*) AS c,
               SUM(o.f1 * r.r) AS d1,
               SUM(o.f2 * r.r) AS d2
        FROM r JOIN {other} o ON r.{okey} = o.k
        GROUP BY r.{side}
      )
    )"""
    steps = []
    prev = "i0"
    for rnd in (1, 2):
        steps.append(
            half.format(out=f"u{rnd}", side="u", other=prev, okey="i")
        )
        steps.append(
            half.format(out=f"i{rnd}", side="i", other=f"u{rnd}", okey="u")
        )
        prev = f"i{rnd}"
    return (
        """
    WITH r AS (
      SELECT o_custkey AS u, l_partkey AS i,
             CAST(l_quantity AS DOUBLE) AS r
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    i0 AS (
      SELECT i AS k,
             1.0 + (i % 7) / 7.0 AS f1,
             1.0 - (i % 5) / 10.0 AS f2
      FROM (SELECT DISTINCT i FROM r)
    ),"""
        + ",".join(steps)
        + """
    SELECT k AS o_custkey, ROUND(f1, 4) AS f1, ROUND(f2, 4) AS f2
    FROM u2
    """
    )


@query("q_als_factors", oracle=_als_oracle())
def q_als_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-2 ALS over the customer-part rating matrix (rating = line
    quantity), 2 rounds, λ=0.1 ridge (operators/embeddings.py::
    als_factorize_k2): each half-round is one rating-keyed join + one
    five-sum aggregate + closed-form 2x2 algebra — MLlib's topology,
    zero Python. Deterministic item-id init makes the fit a pure
    function of the ratings; the oracle replays all four half-rounds.
    Factors round to 4 (two rounds of sum-order ulps amplified through
    determinant division sit below 1e-4 but can graze 1e-6)."""
    from weather_api_automate_etl_spark.operators import embeddings

    li = t(spark, sf_dir, "lineitem")
    od = t(spark, sf_dir, "orders")
    ratings = li.join(
        od, li["l_orderkey"] == od["o_orderkey"]
    ).select("o_custkey", "l_partkey", "l_quantity")
    users, _items = embeddings.als_factorize_k2(
        ratings, "o_custkey", "l_partkey", "l_quantity", rounds=2, reg=0.1
    )
    return users.select(
        "o_custkey",
        F.round("f1", 4).alias("f1"),
        F.round("f2", 4).alias("f2"),
    )


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


@query("q_rare_collapse", oracle=_RARE_ORACLE)
def q_rare_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse sub-1% categories of the leading-two-digit order price
    bucket (operators/stats.py::rare_category_collapse) — the
    price-magnitude distribution is log-skewed, so ~half the 90
    buckets fall under the threshold at every SF and '__other__'
    absorbs a real long tail. The report pins both the post-collapse
    distribution and how many source categories each output level
    absorbed."""

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


_MINMAX_ORACLE = """
    WITH rng AS (
      SELECT l_returnflag AS g, MIN(l_extendedprice) AS lo,
             MAX(l_extendedprice) AS hi
      FROM lineitem GROUP BY 1
    ),
    scaled AS (
      SELECT l.l_returnflag AS g,
             CASE WHEN rng.hi > rng.lo
                  THEN ROUND((l.l_extendedprice - rng.lo)
                             / (rng.hi - rng.lo), 6) END AS x
      FROM lineitem l LEFT JOIN rng
        ON l.l_returnflag IS NOT DISTINCT FROM rng.g
    )
    SELECT g AS l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(x), 6) AS min_scaled, ROUND(MAX(x), 6) AS max_scaled,
           ROUND(CAST(SUM(CAST(ROUND(x * 1000000, 0) AS BIGINT)) AS DOUBLE)
                 / 1000000.0 / COUNT(x), 6) AS mean_scaled
    FROM scaled GROUP BY g
"""


@query("q_minmax_scale", oracle=_MINMAX_ORACLE)
def q_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max scale extended price within each return flag
    (operators/sampling.py::minmax_scale), then pin the scaled
    distribution per group: min 0, max 1, and the mean — which moves
    if the range join or the rounding drifts. The mean is an EXACT
    integer micro-unit sum (round(x,6)·1e6 as BIGINT) divided once at
    the end — summation order cannot flip a decimal on any engine or
    scale, the anova_oneway discipline. Two group-keyed shuffles,
    O(groups) range table."""
    from weather_api_automate_etl_spark.operators import sampling

    scaled = sampling.minmax_scale(
        t(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice",
        out_col="x",
    )
    micro = F.round(F.col("x") * 1_000_000, 0).cast("long")
    return scaled.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.min("x"), 6).alias("min_scaled"),
        F.round(F.max("x"), 6).alias("max_scaled"),
        F.round(
            F.sum(micro).cast("double") / 1_000_000.0 / F.count("x"), 6
        ).alias("mean_scaled"),
    )


_ORD_ORACLE = """
    WITH counts AS (
      SELECT o_orderpriority AS c, COUNT(*) AS n
      FROM orders WHERE o_orderpriority IS NOT NULL GROUP BY 1
    ),
    codes AS (
      SELECT c, CAST(dense_rank() OVER (ORDER BY n DESC, c) AS INTEGER)
               AS code
      FROM counts
    )
    SELECT codes.c AS o_orderpriority, codes.code,
           CAST(counts.n AS BIGINT) AS n_orders
    FROM codes JOIN counts USING (c)
"""


@query("q_ordinal_encode", oracle=_ORD_ORACLE)
def q_ordinal_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ordinal encoding of order priority
    (operators/sampling.py::ordinal_encode): the code table itself is
    the contract — dense ranks by descending count with lexicographic
    tie-breaks, so code 1 is the modal priority on every engine and
    every run. The window runs over the O(|vocab|) count table, not
    the data."""
    from weather_api_automate_etl_spark.operators import sampling

    od = t(spark, sf_dir, "orders")
    encoded = sampling.ordinal_encode(
        od, "o_orderpriority", out_col="code"
    )
    return encoded.groupBy("o_orderpriority", "code").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
