"""Statistical / segmentation operators: robust outlier flags, series
autocorrelation, RFM scoring, binned quantile normalization, join-key
skew profiling, and market-basket association pairs.

Every function is DataFrame-in → DataFrame-out so the contract queries,
the pytest differential tests, and the 20× stress harness all exercise
the SAME expression tree (the duplication the round-5 review flagged).

Engine-parity disciplines shared with the query oracles: quantile stats
round to 6 before any comparison or division; subtractive-cancellation
moment terms pass the RELATIVE variance floor (``VAR_REL_EPS``) before
sqrt/divide — a constant series must yield NULL on every engine, not a
NaN, a sqrt-of-negative hard error, or a garbage ±1 from tiny-positive
noise; NULLIF-style guards on every remaining division.
"""

from __future__ import annotations

import math

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from weather_api_automate_etl_spark.functions.layout import spread_if_narrow


def mad_robust_z(
    df: DataFrame,
    group_col: str,
    value_col: str,
    keep_cols: tuple[str, ...] = (),
    k: float = 0.6745,
    fence: float = 3.5,
) -> DataFrame:
    """Median-absolute-deviation robust z-scores per group
    (k·(x − med)/MAD, flag |z| > fence) — the outlier gate that survives
    heavy-tailed distributions where mean/std z-scores and IQR fences
    drift. Two group aggregates (median, then median of absolute
    residuals — the second pass is inherent to MAD) with the
    group-cardinality stats broadcast back; the flag compares the
    ROUNDED z so it can't flip on a last-ulp quantile difference.

    Contract: a group whose MAD is 0 (more than half its values tie —
    common for counts/low-cardinality metrics) has NO defined robust z:
    every row gets NULL robust_z and NULL is_outlier, on both engines.
    Callers needing a verdict there should fall back to the IQR fence
    (q_anomaly_iqr) or mean-AD; silently flagging everything (or
    nothing) would be worse than the explicit NULL."""
    med = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("med")
    )
    mad = (
        df.join(F.broadcast(med), group_col)
        .groupBy(group_col, "med")
        .agg(F.expr(f"percentile(abs({value_col} - med), 0.5)").alias("mad"))
    )
    z = F.round(
        F.lit(k)
        * (F.col(value_col) - F.col("med"))
        / F.when(F.col("mad") != 0, F.col("mad")),
        6,
    )
    return df.join(F.broadcast(mad), group_col).select(
        *keep_cols,
        group_col,
        value_col,
        F.round("med", 6).alias("med"),
        F.round("mad", 6).alias("mad"),
        z.alias("robust_z"),
        (F.abs(z) > fence).alias("is_outlier"),
    )


#: relative variance floor: ``n·sxx − sx²`` below this fraction of its
#: ``n·sxx`` magnitude is pure sum-order cancellation noise, not signal.
#: A sign-agnostic ABSOLUTE clamp is not enough: for a constant series the
#: noise can land tiny-POSITIVE, where noise/√(noise·noise) "computes" a
#: garbage r ≈ ±1 that differs between engines. Below the relative floor
#: BOTH engines yield NULL regardless of the noise's sign or magnitude.
#: 1e-14 sits ~100× above the double noise floor (~1e-16 relative) while
#: preserving large-offset series (mean ≫ std) whose variance term still
#: carries real significant digits — a 1e-12 floor was measured to NULL
#: those (the round-5 second-review finding).
VAR_REL_EPS = 1e-14


def guarded_var(raw: Column, n: Column, sum_sq: Column) -> Column:
    """The raw variance term, or NULL when it is cancellation noise
    (``raw ≤ ε·n·Σx²`` — see ``VAR_REL_EPS``). Strictly positive when
    non-null, so downstream sqrt/divide need no further zero guards —
    NULL just propagates. Public: the OLS/Pearson family across modules
    shares this one definition."""
    return F.when(raw > F.lit(VAR_REL_EPS) * n * sum_sq, raw)


def round0(col: Column, scale: int) -> Column:
    """``round(col, scale) + 0.0`` — IEEE −0.0 + 0.0 = +0.0, so an
    AGGREGATED near-zero quantity whose cancellation noise has
    engine-dependent sign can't hash-differ as '-0.0' vs '0.0' (the
    covariance_matrix discipline). Row-local arithmetic doesn't need
    this: identical inputs give identical signs on every engine."""
    return F.round(col, scale) + F.lit(0.0)


def as_col(c) -> Column:
    """str-or-Column argument normalizer (round-9 advice: label-like
    args must accept names exactly like score_col does, not raise
    AttributeError on a string)."""
    return c if isinstance(c, Column) else F.col(c)


def score_label(df: DataFrame, score_col, label_col) -> DataFrame:
    """Normalize the classifier-evaluation argument pair (name or
    Column) and drop NULL score/label rows up front: Spark orders NULLs
    FIRST ascending, DuckDB LAST, so a NULL score group silently
    diverges engine vs oracle (round-9 advice; kruskal_wallis set the
    filter-first precedent). Returns ``(__s double, __y int)``."""
    s = as_col(score_col).cast("double")
    y = as_col(label_col).cast("int")
    return df.select(s.alias("__s"), y.alias("__y")).filter(
        F.col("__s").isNotNull() & F.col("__y").isNotNull()
    )


def ols_from_moments(
    n: Column, sx: Column, sy: Column, sxy: Column, sxx: Column, syy: Column
) -> tuple[Column, Column, Column, Column]:
    """Closed-form OLS of y on x from the five mergeable moment sums:
    ``(slope, intercept, corr_xy, r2)``, all UNROUNDED. Variance terms
    pass the relative floor (``guarded_var``) so degenerate x or y yields
    NULL everywhere, never NaN / hard sqrt errors / garbage ±1. The one
    definition behind q_linreg_by_group, zipf_fit, and the Pearson
    family."""
    cov_n = n * sxy - sx * sy
    var_x = guarded_var(n * sxx - sx * sx, n, sxx)
    var_y = guarded_var(n * syy - sy * sy, n, syy)
    slope = cov_n / var_x
    intercept = (sy - slope * sx) / n
    corr = cov_n / F.sqrt(var_x * var_y)
    r2 = F.pow(cov_n, 2) / (var_x * var_y)
    return slope, intercept, corr, r2


def _pearson_from_moments(
    n: Column, sx: Column, sy: Column, sxy: Column, sxx: Column, syy: Column
) -> Column:
    """Pearson r from the five mergeable moment sums, cancellation-safe
    via the relative variance floor (see ``VAR_REL_EPS``): constant and
    numerically-constant series yield NULL on every engine."""
    return ols_from_moments(n, sx, sy, sxy, sxx, syy)[2]


def autocorr_lag1(
    df: DataFrame,
    series_col: str,
    value_col: str,
    order_cols: tuple[str, ...],
) -> DataFrame:
    """Lag-1 autocorrelation of each series (Pearson r of (xₜ, xₜ₋₁)
    pairs) — the is-this-noise-or-trend screen before forecasting or
    anomaly baselines. One per-series window shuffle forms the lag
    pairs, then closed-form moments (five mergeable sums) — never a
    second pass or a position self-join. Constant series yield NULL."""
    w = Window.partitionBy(series_col).orderBy(*[F.col(c) for c in order_cols])
    p = (
        # double up front: an integer value column would accumulate the
        # x·x products in int64, which wraps silently for large values
        # (the cuped/control-chart overflow discipline); the Pearson
        # moments are double math regardless
        df.select(
            series_col,
            F.col(value_col).cast("double").alias("x"),
            F.lag(F.col(value_col).cast("double")).over(w).alias("xp"),
        )
        .filter(F.col("xp").isNotNull())
    )
    m = p.groupBy(series_col).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("xp").alias("sy"),
        F.sum(F.col("x") * F.col("xp")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("xp") * F.col("xp")).alias("syy"),
    )
    r = _pearson_from_moments(
        F.col("n"), F.col("sx"), F.col("sy"),
        F.col("sxy"), F.col("sxx"), F.col("syy"),
    )
    return m.select(
        series_col,
        F.col("n").cast("long").alias("n_pairs"),
        round0(r, 6).alias("autocorr_lag1"),
    )


def rfm_scores(
    df: DataFrame, key_col: str, date_col: str, amount_col: str
) -> DataFrame:
    """RFM segmentation: recency (days since last order, relative to the
    table's max date), frequency, monetary per key, each scored 1–4 by
    GLOBAL quartile boundaries (recency inverted — recent = 4). The
    boundaries come from ONE aggregate broadcast back as a single row —
    never a global ntile, whose unpartitioned window is the
    single-partition sort this repo bans on key-cardinality frames.
    Boundaries and monetary round before comparison (the anomaly_iqr
    fence discipline)."""
    cust = df.groupBy(key_col).agg(
        F.max(date_col).alias("last_order"),
        F.count(F.lit(1)).alias("freq"),
        F.round(F.sum(amount_col), 2).alias("monetary"),
    )
    # watermark from the key aggregate (exchange-reused, metadata-scale),
    # not a second full scan of the fact table (third-review finding)
    mx = cust.agg(F.max("last_order").alias("maxd"))
    base = cust.crossJoin(F.broadcast(mx)).select(
        key_col,
        F.datediff("maxd", "last_order").cast("int").alias("recency"),
        F.col("freq").cast("long").alias("freq"),
        "monetary",
    )
    q = base.agg(
        *[
            F.round(F.expr(f"percentile({col}, {p})"), 6).alias(f"{a}{i}")
            for col, a in (("recency", "r"), ("freq", "f"), ("monetary", "m"))
            for i, p in ((1, 0.25), (2, 0.50), (3, 0.75))
        ]
    )

    def score(col: str, a: str) -> Column:
        hits = sum(
            (F.col(col) > F.col(f"{a}{i}")).cast("int") for i in (1, 2, 3)
        )
        return (4 - hits) if a == "r" else (1 + hits)

    return base.crossJoin(F.broadcast(q)).select(
        key_col,
        "recency",
        "freq",
        "monetary",
        score("recency", "r").cast("int").alias("r_score"),
        score("freq", "f").cast("int").alias("f_score"),
        score("monetary", "m").cast("int").alias("m_score"),
    )


def quantile_normalize_binned(
    df: DataFrame, id_col: str, group_col: str, value_col: str
) -> DataFrame:
    """Binned quantile normalization across groups: each row's
    within-group percent_rank (deterministic (value, id) tie-break) maps
    through the GLOBAL value distribution's percentile table — the
    cross-group alignment that makes value thresholds mean the same
    thing for every group. Per-group windows stay partitioned; the
    global percentile table is ONE aggregate broadcast back as 101 rows
    (swap percentile→percentile_approx past executor-sort scale). Bin
    rounding is half-up via floor(x + 0.5) for engine parity."""
    w = Window.partitionBy(group_col).orderBy(value_col, id_col)
    binned = df.select(
        id_col,
        group_col,
        value_col,
        F.floor(F.percent_rank().over(w) * 100 + 0.5).cast("int").alias("bin"),
    )
    pcts = ", ".join(str(i / 100.0) for i in range(101))
    qt = (
        df.agg(F.expr(f"percentile({value_col}, array({pcts}))").alias("qs"))
        .select(F.posexplode("qs").alias("bin", "qv"))
        .select(F.col("bin").cast("int").alias("bin"), "qv")
    )
    return binned.join(F.broadcast(qt), "bin").select(
        id_col,
        group_col,
        value_col,
        "bin",
        F.round("qv", 6).alias("normalized"),
    )


def skew_profile(df: DataFrame, key_col: str, top_k: int = 10) -> DataFrame:
    """Hot-key diagnostic for a join/aggregation key: the top-k heaviest
    keys with their share of all rows and their multiple of the median
    key size — the measurement that decides whether the salted
    join/agg path (operators/skew.py) is worth its extra shuffle. The
    ranking window runs over the key-COUNT table (key-cardinality,
    collapsed by map-side partials), and ``row_number <= k`` becomes
    WindowGroupLimit — per-partition top-k before the single-partition
    merge."""
    c = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("cnt"))
    tot = c.agg(
        F.sum("cnt").cast("double").alias("total"),
        F.expr("percentile(cnt, 0.5)").alias("med"),
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col(key_col).asc())
    return (
        c.crossJoin(F.broadcast(tot))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
        .select(
            F.col("rnk").cast("int").alias("rnk"),
            key_col,
            F.col("cnt").cast("long").alias("cnt"),
            F.round(F.col("cnt") / F.col("total"), 6).alias("share"),
            F.round(F.col("cnt") / F.col("med"), 6).alias("x_median"),
        )
    )


def basket_pairs(
    df: DataFrame, basket_col: str, item_col: str, min_support: int = 2
) -> DataFrame:
    """Market-basket association pairs: support count, confidence
    P(p2|p1) and lift for every item pair co-occurring in at least
    ``min_support`` baskets — the co-occurrence mining shape
    (recommendations, co-purchase graphs). The self-join is keyed on the
    BASKET (fan-out quadratic only in basket size, which is bounded —
    never all-pairs across items); marginals join item-keyed
    (item-cardinality tables, deliberately NOT broadcast at catalog
    scale); the basket total is a 1-row broadcast."""
    b = df.select(basket_col, item_col).distinct()
    n = b.agg(F.countDistinct(basket_col).cast("double").alias("n_orders"))
    m = b.groupBy(item_col).agg(F.count(F.lit(1)).alias("c"))
    a2 = b.select(F.col(basket_col).alias("ok"), F.col(item_col).alias("p2"))
    p = (
        b.select(F.col(basket_col).alias("ok"), F.col(item_col).alias("p1"))
        .join(a2, "ok")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_support)
    )
    m1 = m.select(F.col(item_col).alias("p1"), F.col("c").alias("c1"))
    m2 = m.select(F.col(item_col).alias("p2"), F.col("c").alias("c2"))
    return (
        p.join(m1, "p1")
        .join(m2, "p2")
        .crossJoin(F.broadcast(n))
        .select(
            "p1",
            "p2",
            F.col("c_ab").cast("long").alias("c_ab"),
            F.round(F.col("c_ab") / F.col("c1").cast("double"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("n_orders")
                * F.col("c_ab")
                / (F.col("c1").cast("double") * F.col("c2")),
                6,
            ).alias("lift"),
        )
    )


def gini_by_group(
    df: DataFrame, group_col: str, value_col: str, id_col: str
) -> DataFrame:
    """Gini coefficient of ``value_col``'s distribution within each group
    (0 = perfectly equal, →1 = one row holds everything) — the
    inequality screen (doc-length concentration per source, revenue
    concentration per segment) that flags collapsed or boilerplate-
    dominated strata before they skew a mixture. Uses the sorted-rank
    identity G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) with a deterministic
    (value, id) tie-break; the rank window and both aggregates are keyed
    on the group — never a global sort. Zero-total groups yield NULL."""
    w = Window.partitionBy(group_col).orderBy(value_col, id_col)
    ranked = df.select(
        group_col,
        F.col(value_col).cast("double").alias("x"),
        F.row_number().over(w).cast("double").alias("i"),
    )
    agg = ranked.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i") * F.col("x")).alias("six"),
    )
    n, sx, six = F.col("n"), F.col("sx"), F.col("six")
    g = (2 * six - (n + 1) * sx) / F.when(n * sx != 0, n * sx)
    return agg.select(
        group_col,
        n.cast("long").alias("n_rows"),
        round0(g, 6).alias("gini"),
    )


def ab_test_welch(
    df: DataFrame, unit_col: str, value_col: str, salt: str = "exp1"
) -> DataFrame:
    """Deterministic A/B assignment + Welch z-test in one pass: units
    hash-split 50/50 (salted md5 — replayable, engine-portable, no RNG
    state; a unit keeps its arm across reruns and engines), then the
    two arms' means are compared with the unequal-variance z statistic
    z = (μ_B − μ_A)/√(s²_A/n_A + s²_B/n_B) and relative lift — the
    experimentation readout every product pipeline ends in. ONE
    conditional aggregate produces both arms' moments (map-side
    combined, 1-row output); means/stddevs round to 6 before the z
    arithmetic so the statistic derives from hash-stable inputs, and
    the aggregated near-zero-able z/lift normalize −0.0 (round0)."""
    from weather_api_automate_etl_spark.functions.core import salted_hash64

    arm = salted_hash64(F.col(unit_col), f"{salt}:") % 2
    v = F.col(value_col)
    m = df.select(arm.alias("arm"), v.alias("v")).agg(
        # count non-NULL values per arm (not rows): mean/stddev skip NULLs,
        # so n must too or the s²/n terms understate the variance (the
        # round-5 advice finding)
        F.count(F.when(F.col("arm") == 0, F.col("v"))).cast("long").alias("n_a"),
        F.count(F.when(F.col("arm") == 1, F.col("v"))).cast("long").alias("n_b"),
        F.round(F.avg(F.when(F.col("arm") == 0, F.col("v"))), 6).alias("mean_a"),
        F.round(F.avg(F.when(F.col("arm") == 1, F.col("v"))), 6).alias("mean_b"),
        F.round(
            F.stddev_samp(F.when(F.col("arm") == 0, F.col("v"))), 6
        ).alias("sd_a"),
        F.round(
            F.stddev_samp(F.when(F.col("arm") == 1, F.col("v"))), 6
        ).alias("sd_b"),
    )
    se = F.sqrt(
        F.col("sd_a") * F.col("sd_a") / F.col("n_a")
        + F.col("sd_b") * F.col("sd_b") / F.col("n_b")
    )
    return m.select(
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        "sd_a",
        "sd_b",
        round0(
            (F.col("mean_b") - F.col("mean_a")) / F.when(se != 0, se), 6
        ).alias("z"),
        round0(
            (F.col("mean_b") - F.col("mean_a"))
            / F.when(F.col("mean_a") != 0, F.col("mean_a")),
            6,
        ).alias("rel_lift"),
    )


def first_touch_conversion(
    df: DataFrame,
    unit_col: str,
    kind_col: str,
    order_cols: tuple[str, ...],
    target: str,
) -> DataFrame:
    """First-touch attribution: each unit's FIRST event kind (its
    acquisition channel) against whether the unit ever reached the
    ``target`` kind — conversion counts and rate per first-touch
    channel, the question every funnel report starts with. One
    unit-keyed window picks the first touch, one unit-keyed aggregate
    flags conversion, then a channel-cardinality rollup; nothing joins
    at event scale. Rate is an aggregated near-zero-able double
    (round0)."""
    w = Window.partitionBy(unit_col).orderBy(*[F.col(c) for c in order_cols])
    per_unit = (
        df.select(
            unit_col,
            F.col(kind_col).alias("kind"),
            F.row_number().over(w).alias("rn"),
        )
        .groupBy(unit_col)
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("kind"))).alias("first_touch"),
            F.max((F.col("kind") == target).cast("int")).alias("converted"),
        )
    )
    return per_unit.groupBy("first_touch").agg(
        F.count(F.lit(1)).cast("long").alias("n_units"),
        F.sum("converted").cast("long").alias("n_converted"),
        round0(
            F.sum("converted") / F.count(F.lit(1)).cast("double"), 6
        ).alias("conversion_rate"),
    )


def chi_square_independence(
    df: DataFrame, a_col: str, b_col: str
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns — the canonical 'does X depend on Y' readout (event type vs
    hour, segment vs region, experiment arm vs outcome).

    One count aggregate builds the contingency table; the FULL r×c grid
    (including zero cells, which the groupBy alone would drop but the
    statistic requires) comes from crossing the two distinct-value sets —
    both category-cardinality, broadcast, metadata-scale; margins join
    back onto the grid the same way. Returns ONE row:
    (chi2, dof, n_obs). Expected counts e = row·col/n; χ² = Σ (o−e)²/e
    over all cells, rounded to 6 (sum order is engine-dependent in the
    last ulp).

    NULL categories are excluded up front — standard contingency-table
    practice, and the only consistent choice here: a NULL category would
    enter the margins and n (groupBy keeps NULL groups) while the
    null-unsafe grid join zeroed its observed cells, inflating χ² with
    phantom (0−e)²/e terms and desynchronizing dof's count_distinct
    (which ignores NULL) from the grid (round-6 advice)."""
    obs = df.select(F.col(a_col).alias("a"), F.col(b_col).alias("b")).filter(
        F.col("a").isNotNull() & F.col("b").isNotNull()
    )
    counts = obs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("o"))
    row_tot = counts.groupBy("a").agg(F.sum("o").alias("ra"))
    col_tot = counts.groupBy("b").agg(F.sum("o").alias("cb"))
    n_row = counts.agg(F.sum("o").cast("double").alias("n"))
    grid = (
        row_tot.crossJoin(F.broadcast(col_tot))
        .join(counts, ["a", "b"], "left")
        .crossJoin(F.broadcast(n_row))
        .select(
            "a",
            "b",
            F.coalesce(F.col("o"), F.lit(0)).cast("double").alias("o"),
            (F.col("ra") * F.col("cb") / F.col("n")).alias("e"),
            "n",
        )
    )
    term = (F.col("o") - F.col("e")) ** 2 / F.col("e")
    return grid.agg(
        F.round(F.sum(term), 6).alias("chi2"),
        ((F.count_distinct("a") - 1) * (F.count_distinct("b") - 1))
        .cast("long")
        .alias("dof"),
        F.max("n").cast("long").alias("n_obs"),
    )


def psi_drift(
    old_df: DataFrame,
    new_df: DataFrame,
    col: str,
    edges: Sequence[float],
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between two snapshots of a numeric
    column — the standard drift gate between a training-time feature
    distribution and what production (or the next corpus crawl) actually
    serves; the convention is PSI < 0.1 stable, 0.1-0.25 watch, > 0.25
    shifted.

    Bins are FIXED, caller-supplied edges (never data-derived quantiles:
    fixed edges make the statistic reproducible across engines and runs,
    and comparable across time — the same reason range_bucket pins its
    thresholds). Bin i counts rows with edges[i-1] <= x < edges[i], with
    open-ended first/last bins; NULLs are excluded (no bin can own them).
    Each side's proportion is floored at ``eps`` so a bin empty on one
    side contributes a large-but-finite term instead of ±inf — the
    standard PSI smoothing. Per bin: (bin_id, n_old, n_new, p_old, p_new,
    psi_term), all proportions and terms rounded to 6; SUM(psi_term) is
    the headline number. Two count aggregates + a bins-sized grid join —
    nothing data-sized shuffles beyond the group-by."""
    if len(edges) < 1:
        raise ValueError("psi_drift needs at least one bin edge")
    if list(edges) != sorted(edges):
        raise ValueError(f"edges must be ascending, got {list(edges)}")
    n_bins = len(edges) + 1

    def side(df: DataFrame, alias: str) -> DataFrame:
        v = F.col(col)
        bin_id = sum(
            (v >= F.lit(float(e))).cast("int") for e in edges
        )
        return (
            df.filter(v.isNotNull())
            .groupBy(bin_id.alias("bin_id"))
            .agg(F.count(F.lit(1)).alias(f"n_{alias}"))
        )

    spark = old_df.sparkSession
    grid = spark.range(n_bins).select(F.col("id").cast("int").alias("bin_id"))
    o, n = side(old_df, "old"), side(new_df, "new")
    joined = (
        grid.join(o, "bin_id", "left")
        .join(n, "bin_id", "left")
        .select(
            "bin_id",
            F.coalesce(F.col("n_old"), F.lit(0)).cast("long").alias("n_old"),
            F.coalesce(F.col("n_new"), F.lit(0)).cast("long").alias("n_new"),
        )
    )
    tot = joined.agg(
        F.sum("n_old").alias("__to"), F.sum("n_new").alias("__tn")
    )
    p_old = F.greatest(F.col("n_old") / F.col("__to"), F.lit(eps))
    p_new = F.greatest(F.col("n_new") / F.col("__tn"), F.lit(eps))
    return joined.crossJoin(F.broadcast(tot)).select(
        "bin_id",
        "n_old",
        "n_new",
        F.round(p_old, 6).alias("p_old"),
        F.round(p_new, 6).alias("p_new"),
        F.round((p_new - p_old) * F.log(p_new / p_old), 6).alias("psi_term"),
    )


def js_divergence(
    old_df: DataFrame,
    new_df: DataFrame,
    col: str,
    edges: Sequence[float],
    eps: float = 1e-6,
) -> DataFrame:
    """Jensen-Shannon divergence between two snapshots of a numeric
    column over FIXED bin edges — the bounded, symmetric drift gate
    (0 ≤ JSD ≤ ln 2) that PSI's asymmetric unbounded terms are not:
    robust when a bin is empty on one side (the mixture M never is),
    which is why corpus-mix monitors prefer it for source-proportion
    tracking. Same binning/smoothing machinery as ``psi_drift`` (open-
    ended first/last bins, NULLs excluded, ``eps`` floor); per bin emits
    (bin_id, n_old, n_new, p_old, p_new, js_term) with
    js_term = ½·p·ln(p/m) + ½·q·ln(q/m), m = (p+q)/2, all rounded to 6;
    SUM(js_term) is the headline divergence. Two count aggregates + a
    bins-sized grid join — scan-rate, nothing data-sized shuffles."""
    if len(edges) < 1:
        raise ValueError("js_divergence needs at least one bin edge")
    if list(edges) != sorted(edges):
        raise ValueError(f"edges must be ascending, got {list(edges)}")
    n_bins = len(edges) + 1

    def side(df: DataFrame, alias: str) -> DataFrame:
        v = F.col(col)
        bin_id = sum(
            (v >= F.lit(float(e))).cast("int") for e in edges
        )
        return (
            df.filter(v.isNotNull())
            .groupBy(bin_id.alias("bin_id"))
            .agg(F.count(F.lit(1)).alias(f"n_{alias}"))
        )

    spark = old_df.sparkSession
    grid = spark.range(n_bins).select(F.col("id").cast("int").alias("bin_id"))
    o, n = side(old_df, "old"), side(new_df, "new")
    joined = (
        grid.join(o, "bin_id", "left")
        .join(n, "bin_id", "left")
        .select(
            "bin_id",
            F.coalesce(F.col("n_old"), F.lit(0)).cast("long").alias("n_old"),
            F.coalesce(F.col("n_new"), F.lit(0)).cast("long").alias("n_new"),
        )
    )
    tot = joined.agg(
        F.sum("n_old").alias("__to"), F.sum("n_new").alias("__tn")
    )
    p = F.greatest(F.col("n_old") / F.col("__to"), F.lit(eps))
    q = F.greatest(F.col("n_new") / F.col("__tn"), F.lit(eps))
    m = (p + q) / 2
    term = F.lit(0.5) * p * F.log(p / m) + F.lit(0.5) * q * F.log(q / m)
    return joined.crossJoin(F.broadcast(tot)).select(
        "bin_id",
        "n_old",
        "n_new",
        F.round(p, 6).alias("p_old"),
        F.round(q, 6).alias("p_new"),
        F.round(term, 6).alias("js_term"),
    )


def ks_two_sample(
    a: DataFrame, b: DataFrame, col: str
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic — PSI's nonparametric
    sibling: D = sup_x |F_a(x) − F_b(x)| over the pooled observed values,
    which is exact (no binning choice) and detects shape changes PSI's
    fixed bins can blur.

    Exactly computable distributed: pool the two samples with side tags,
    ONE count aggregate per distinct value, one cumulative window over
    the value order (distinct-value cardinality, not row cardinality),
    then a max. ECDFs are step functions evaluated at the observed
    points, ties handled by grouping before the cumsum — the textbook
    definition, identically expressible in SQL (the oracle). NULLs are
    excluded. Returns ONE row (n_a, n_b, d_stat round-6)."""
    pooled = a.select(F.col(col).alias("v"), F.lit(1).alias("ca"), F.lit(0).alias("cb")).unionAll(
        b.select(F.col(col).alias("v"), F.lit(0).alias("ca"), F.lit(1).alias("cb"))
    ).filter(F.col("v").isNotNull())
    per_v = pooled.groupBy("v").agg(
        F.sum("ca").alias("na_v"), F.sum("cb").alias("nb_v")
    )
    # the unpartitioned cumulative window runs over DISTINCT values only
    # (value-cardinality, not row-cardinality — the same bound the exact
    # percentile family accepts); totals ride a 1-row broadcast
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = per_v.select(
        F.sum("na_v").over(w).alias("cum_a"),
        F.sum("nb_v").over(w).alias("cum_b"),
    )
    tot = per_v.agg(
        F.sum("na_v").cast("double").alias("__na"),
        F.sum("nb_v").cast("double").alias("__nb"),
    )
    return cum.crossJoin(F.broadcast(tot)).agg(
        F.max("__na").cast("long").alias("n_a"),
        F.max("__nb").cast("long").alias("n_b"),
        F.round(
            F.max(F.abs(F.col("cum_a") / F.col("__na") - F.col("cum_b") / F.col("__nb"))),
            6,
        ).alias("d_stat"),
    )


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) — the nonparametric two-sample
    location test beside the parametric Welch readout (``ab_test_welch``):
    rank-based, so it compares DISTRIBUTIONS without assuming normality,
    which is what you actually want for heavy-tailed metrics (latencies,
    revenue-per-user). Ties get average ranks; the normal approximation
    carries the standard tie correction:

        U₁ = R₁ − n₁(n₁+1)/2,  μ = n₁n₂/2,
        σ² = (n₁n₂/12)·((N+1) − Σ(t³−t)/(N(N−1))),  z = (U₁ − μ)/σ.

    Shape: ranks are computed per DISTINCT VALUE, not per row — one
    value-keyed aggregate (count + per-group count), one running-sum
    window over distinct values (value-domain-sized, typically ≪ rows),
    and one scalar reduction. Average rank of value v is
    cum_before(v) + (cnt(v)+1)/2, algebraically identical to averaging
    row ranks but without ever materializing a per-row global rank —
    the same distinct-value-domain trick as ks_two_sample. All rank
    arithmetic is exact in doubles (halves of integers), so U₁ is
    hash-stable unrounded; z rounds to 6.
    """
    from pyspark.sql.window import Window

    x = df.filter(F.col(group_col).isin([group_a, group_b])).select(
        F.col(value_col).alias("v"),
        F.when(F.col(group_col) == group_a, 1).otherwise(0).alias("is_a"),
    )
    vals = x.groupBy("v").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("is_a").alias("cnt_a"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vals.select(
        "cnt",
        "cnt_a",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("cum_before"),
    )
    agg = ranked.agg(
        F.sum(
            F.col("cnt_a")
            * (F.col("cum_before") + (F.col("cnt") + F.lit(1)) / F.lit(2.0))
        ).alias("r1"),
        F.sum("cnt_a").cast("double").alias("n1"),
        F.sum("cnt").cast("double").alias("n"),
        F.sum(
            F.col("cnt").cast("double") * F.col("cnt") * F.col("cnt")
            - F.col("cnt")
        ).alias("tie_term"),
    )
    n1, n, r1 = F.col("n1"), F.col("n"), F.col("r1")
    n2 = n - n1
    u1 = r1 - n1 * (n1 + 1) / F.lit(2.0)
    mu = n1 * n2 / F.lit(2.0)
    sigma = F.sqrt(
        (n1 * n2 / F.lit(12.0))
        * ((n + 1) - F.col("tie_term") / (n * (n - F.lit(1.0))))
    )
    return agg.select(
        n1.cast("long").alias("n1"),
        n2.cast("long").alias("n2"),
        u1.alias("u1"),
        F.round((u1 - mu) / sigma, 6).alias("z_score"),
    )


def spearman_by_group(
    df: DataFrame, group_col: str, x_col: str, y_col: str
) -> DataFrame:
    """Spearman rank correlation per group — the monotone-association
    screen that survives outliers and nonlinearity (quality-score vs
    perplexity sanity checks, feature drift vs label drift). Spearman ρ
    is Pearson r over AVERAGE ranks (the standard tie treatment: tied
    values share the mean of the positions they occupy).

    Average rank without any per-row Python and without sorting twice:
    ``rank()`` gives each tie run its minimum position, ``count() over
    (group, value)`` gives the run length, and ``min_rank + (run-1)/2``
    is exactly the mean of the occupied positions. Ranks are then
    CENTERED in closed form before aggregation — average ranks always
    sum to n(n+1)/2, so the group mean is (n+1)/2 without measuring it —
    which kills the n·Σxy − Σx·Σy cancellation entirely: centered ranks
    are quarter-granular and bounded by n, so every product and sum
    stays EXACT in doubles up to n ≈ 10⁷ per group and the result is
    bit-identical on any engine and any partitioning (the uncentered
    moment form loses that above n ≈ 10⁴). Two window shuffles (one per
    variable, both partitioned by the group key), one aggregate.
    Constant (all-tied) variables yield NULL, never ±garbage. Returns
    (group, n, spearman_rho) rounded to 6."""
    wg = Window.partitionBy(group_col)

    def avg_rank(col: str):
        wr = Window.partitionBy(group_col).orderBy(F.col(col))
        wt = Window.partitionBy(group_col, col)
        return (
            F.rank().over(wr).cast("double")
            + (F.count(F.lit(1)).over(wt).cast("double") - 1.0) / 2.0
        )

    half = (F.count(F.lit(1)).over(wg).cast("double") + 1.0) / 2.0
    ranked = df.select(
        group_col,
        (avg_rank(x_col) - half).alias("rx"),
        (avg_rank(y_col) - half).alias("ry"),
    )
    m = ranked.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
    )
    denom = F.when(
        (F.col("sxx") > 0) & (F.col("syy") > 0),
        F.sqrt(F.col("sxx") * F.col("syy")),
    )
    return m.select(
        group_col,
        F.col("n").cast("long").alias("n"),
        round0(F.col("sxy") / denom, 6).alias("spearman_rho"),
    )


#: Cumulative Poisson(1) probabilities P(X <= k) for k = 0..5 — the
#: inverse-CDF table behind ``poisson_bootstrap_ci``'s deterministic
#: resampling weights (P(X > 6) ~ 1e-4 truncated onto w = 6; the bias is
#: far below the CI's own Monte-Carlo noise at any B).
_POISSON1_CDF: tuple[float, ...] = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
)


def poisson_bootstrap_ci(
    df: DataFrame,
    group_col: str,
    value_col: str,
    key_col: str,
    n_boot: int = 32,
    seed: str = "boot",
) -> DataFrame:
    """Bootstrap confidence interval for each group's mean via the
    POISSON bootstrap — the only bootstrap that distributes: classic
    resampling needs n draws WITH replacement from a group it would have
    to materialize, while Poisson(1) weights are independent per row, so
    each replicate is just a weighted aggregate and all B replicates ride
    ONE scan (row -> B (replicate, weight) pairs, weights drawn by
    inverse-CDF from the deterministic md5 uniform of (key, replicate,
    seed) — the engine-replayable PRNG the oracle framework rides on).
    E[weight] = 1 reproduces the classic bootstrap asymptotically
    (Chamandy et al. 2012, "Estimating Uncertainty for Massive Data
    Streams" — the Google Poisson-bootstrap paper; also Kleiner et al.'s
    BLB line of work).

    The interval is the (2nd-smallest, 2nd-largest) order statistics of
    the B replicate means — exact rank arithmetic, no percentile
    interpolation to diverge across engines (for B = 32 that is a
    ~93.75% central interval). Cost: one explode(B) scan, one
    (group, replicate) aggregate, one B-row-per-group window — linear,
    shuffle keyed on the group, no state anywhere.

    Returns (group, n, mean, ci_lo, ci_hi), floats rounded to 6."""
    if n_boot < 4:
        raise ValueError(f"poisson_bootstrap_ci needs n_boot >= 4, got {n_boot}")
    b = F.explode(F.sequence(F.lit(0), F.lit(n_boot - 1))).alias("_b")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col(key_col).cast("string"),
                        F.col("_b").cast("string"),
                        F.lit(seed),
                    )
                ),
                1, 13,
            ),
            16, 10,
        ).cast("double")
        / F.lit(float(1 << 52))
    )
    w = F.lit(6)
    for k in range(len(_POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(_POISSON1_CDF[k]), F.lit(k)).otherwise(w)
    # The replicate fan-out below evaluates B md5+inverse-CDF expressions
    # PER ROW before any exchange, so its cost lives in the SCAN stage. A
    # single-file (one-row-group) input executes that stage on ONE core no
    # matter the cluster (guide §2.5, unsplittable input) — redistribute by
    # the resampling key first when the scan is under-partitioned. Hash
    # partitioning on the key is deterministic under task retry (no
    # round-robin/rand hazard) and a no-op shuffle-wise at 100 TB, where
    # the scan already arrives with >= cores partitions and the guard
    # skips it. (Heuristic caveat, round-12 advice: getNumPartitions
    # compiles the physical plan, and for a shuffled upstream it reports
    # the FINAL stage, not the scan — fine here because the projected
    # src is scan-rooted in every caller, but a shuffled input could
    # misjudge and pay one extra no-op exchange, never a wrong result.)
    src = df.select(group_col, value_col, key_col)
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < par:
        src = src.repartition(par, F.col(key_col))
    rep = (
        src
        .select(group_col, value_col, key_col, b)
        .withColumn("_w", w.cast("double"))
        .groupBy(group_col, "_b")
        .agg(
            (
                F.sum(F.col("_w") * F.col(value_col))
                / F.nullif(F.sum("_w"), F.lit(0.0))
            ).alias("_m")
        )
    )
    win_lo = Window.partitionBy(group_col).orderBy(F.asc("_m"), F.asc("_b"))
    ranked = rep.withColumn("_r", F.row_number().over(win_lo))
    bounds = ranked.groupBy(group_col).agg(
        F.max(F.when(F.col("_r") == 2, F.col("_m"))).alias("_lo"),
        F.max(F.when(F.col("_r") == n_boot - 1, F.col("_m"))).alias("_hi"),
    )
    base = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.col(value_col)).alias("_mean"),
    )
    return base.join(bounds, group_col).select(
        group_col,
        "n",
        round0(F.col("_mean"), 6).alias("mean"),
        round0(F.col("_lo"), 6).alias("ci_lo"),
        round0(F.col("_hi"), 6).alias("ci_hi"),
    )


def mutual_information(
    df: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """Mutual information (and the marginal entropies) between two
    categorical columns, in nats — the dependence screen behind feature
    selection, leakage detection (does `source` give away `label`?), and
    drift triage. MI = sum_xy p(x,y) * ln(p(x,y) / (p(x)*p(y))), with
    0·ln(0) = 0 by continuity (absent cells simply don't appear in the
    joint count).

    One hash aggregate to the joint contingency table (|X|·|Y| rows —
    category-cardinality-small), marginals re-aggregated FROM the joint
    (no second scan), broadcast-joined back. NULL categories are their
    own level (dropping them would bias every marginal). Scan-rate at
    100 TB. Returns one row: (n, h_x, h_y, mi, nmi) — nmi is
    min-entropy-normalized MI in [0, 1], NULL when either entropy is 0
    (a constant column carries no information to normalize by)."""
    joint = df.groupBy(
        F.col(x_col).alias("_x"), F.col(y_col).alias("_y")
    ).agg(F.count(F.lit(1)).cast("double").alias("_nxy"))
    mx = joint.groupBy("_x").agg(F.sum("_nxy").alias("_nx"))
    my = joint.groupBy("_y").agg(F.sum("_nxy").alias("_ny"))
    tot = joint.agg(F.sum("_nxy").alias("_n"))

    def entropy(marginal: DataFrame, cnt: str, out: str) -> DataFrame:
        p = F.col(cnt) / F.col("_n")
        return marginal.crossJoin(F.broadcast(tot)).agg(
            (-F.sum(p * F.log(p))).alias(out)
        )

    mi_df = (
        joint.join(F.broadcast(mx), "_x")
        .join(F.broadcast(my), "_y")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.max("_n").cast("long").alias("n"),
            F.sum(
                (F.col("_nxy") / F.col("_n"))
                * F.log(
                    (F.col("_nxy") * F.col("_n"))
                    / (F.col("_nx") * F.col("_ny"))
                )
            ).alias("_mi"),
        )
    )
    out = (
        mi_df.crossJoin(F.broadcast(entropy(mx, "_nx", "_hx")))
        .crossJoin(F.broadcast(entropy(my, "_ny", "_hy")))
    )
    nmi = F.when(
        (F.col("_hx") > 0) & (F.col("_hy") > 0),
        F.col("_mi") / F.least(F.col("_hx"), F.col("_hy")),
    )
    return out.select(
        "n",
        round0(F.col("_hx"), 6).alias("h_x"),
        round0(F.col("_hy"), 6).alias("h_y"),
        round0(F.col("_mi"), 6).alias("mi"),
        round0(nmi, 6).alias("nmi"),
    )

def item_item_cosine(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    top_k: int = 5,
    min_support: int = 2,
) -> DataFrame:
    """Item-item collaborative-filtering similarities from co-occurrence
    — the classic neighborhood recommender (Sarwar et al., WWW 2001; the
    Amazon item-to-item paper's batch shape): over binary baskets,
    sim(i, j) = c_ij / sqrt(c_i · c_j) (cosine of the basket-incidence
    vectors, computable from counts alone — no vectors materialized),
    keeping each item's ``top_k`` neighbors.

    Same scale discipline as ``basket_pairs`` above: the self-join is
    keyed on the BASKET (quadratic only in basket size, which is
    bounded), marginals join item-keyed (item-cardinality tables, never
    broadcast at catalog scale), and the top-k executes as
    WindowGroupLimit per item — never a global sort. Pairs below
    ``min_support`` co-baskets are dropped before scoring (noise floor +
    candidate bound). Emits BOTH directions of each surviving pair so
    every item gets its neighbor list. Returns (item, neighbor, c_both,
    cosine, rank), cosine rounded to 6, ties broken by neighbor id."""
    b = df.select(basket_col, item_col).distinct()
    m = b.groupBy(item_col).agg(F.count(F.lit(1)).alias("c"))
    a2 = b.select(F.col(basket_col).alias("ok"), F.col(item_col).alias("p2"))
    pairs = (
        b.select(F.col(basket_col).alias("ok"), F.col(item_col).alias("p1"))
        .join(a2, "ok")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("c_both"))
        .filter(F.col("c_both") >= min_support)
    )
    sym = pairs.unionAll(
        pairs.select(
            F.col("p2").alias("p1"), F.col("p1").alias("p2"), "c_both"
        )
    )
    m1 = m.select(F.col(item_col).alias("p1"), F.col("c").alias("c1"))
    m2 = m.select(F.col(item_col).alias("p2"), F.col("c").alias("c2"))
    scored = (
        sym.join(m1, "p1")
        .join(m2, "p2")
        .select(
            F.col("p1").alias("item"),
            F.col("p2").alias("neighbor"),
            F.col("c_both").cast("long").alias("c_both"),
            F.round(
                F.col("c_both")
                / F.sqrt(F.col("c1").cast("double") * F.col("c2")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.desc("cosine"), F.asc("neighbor")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col,
    n_bins: int = 10,
    order_cols: Sequence[str] = (),
    boundaries: str = "exact",
) -> DataFrame:
    """Reliability diagram + expected calibration error: ntile-bin the
    score, compare each bin's mean score (confidence) against its
    observed positive rate (accuracy) — the standard screen for whether
    a model's scores mean what they say (Guo et al., ICML 2017 framing,
    equal-COUNT bins). ``label_col`` is a boolean Column or a name.

    ECE = Σ (n_b/N)·|acc_b − conf_b| rides every row as a window sum so
    the result is a single self-contained frame. Two binning modes:

    - ``boundaries="exact"`` (default, the oracle-parity twin): one
      global ntile — an UNPARTITIONED window, because an equal-count
      bin boundary is a global rank property and only a total order
      reproduces it bit-for-bit across engines. Ties broken by
      ``order_cols`` so binning is deterministic. Row-scale sort:
      test-scale / cross-engine-verification use only.
    - ``boundaries="approx"`` (the 100 TB plan): bin edges from ONE
      ``percentile_approx`` aggregate (n_bins−1 values), broadcast back
      as a 1-row relation, bucket assigned by a map-side array scan —
      no global sort anywhere, same shape as quantile_normalize_binned.
      Bins are equal-count up to sketch error and boundary ties. NB: a
      heavily-tied score distribution can yield DUPLICATE edges, leaving
      some bin numbers empty — approx mode may return FEWER than n_bins
      rows with gaps in ``bin``; don't assume a dense 1..n_bins census.

    Returns (bin, n, conf, acc, gap, ece), rounded to 6."""
    if n_bins < 2:
        raise ValueError(f"calibration_bins needs n_bins >= 2, got {n_bins}")
    if boundaries not in ("exact", "approx"):
        raise ValueError(f"boundaries must be exact|approx, got {boundaries!r}")
    # NULL scores/labels drop up front (the score_label discipline):
    # a NULL score sorts FIRST in Spark and LAST in DuckDB, so leaving
    # it in would silently shift every ntile boundary vs the oracle
    sel = df.select(
        F.col(score_col).cast("double").alias("_s"),
        as_col(label_col).cast("int").alias("_y"),
        *order_cols,
    ).filter(F.col("_s").isNotNull() & F.col("_y").isNotNull())
    if boundaries == "approx":
        edges = sel.agg(
            F.percentile_approx(
                "_s", [i / n_bins for i in range(1, n_bins)]
            ).alias("_edges")
        )
        binned = sel.crossJoin(F.broadcast(edges)).withColumn(
            "bin",
            (
                F.lit(1)
                + F.size(F.filter("_edges", lambda b: b < F.col("_s")))
            ).cast("int"),
        )
    else:
        w = Window.orderBy(F.col("_s"), *[F.col(c) for c in order_cols])
        binned = sel.withColumn("bin", F.ntile(n_bins).over(w))
    agg = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("_s").alias("_conf"),
        F.avg("_y").alias("_acc"),
    )
    tot = Window.partitionBy()
    gap = F.abs(F.col("_acc") - F.col("_conf"))
    ece = F.sum(
        gap * F.col("n") / F.sum("n").over(tot)
    ).over(tot)
    return agg.select(
        "bin",
        "n",
        round0(F.col("_conf"), 6).alias("conf"),
        round0(F.col("_acc"), 6).alias("acc"),
        round0(gap, 6).alias("gap"),
        round0(ece, 6).alias("ece"),
    )


def kaplan_meier(
    df: DataFrame,
    group_col: str,
    duration_col: str,
    observed_col,
) -> DataFrame:
    """Kaplan–Meier survival curves per group (Kaplan & Meier, JASA
    1958) — the right-censoring-aware estimator behind every retention /
    time-to-churn / time-to-failure readout (naive "fraction still alive
    at t" is biased the moment any subject is censored). At each
    distinct time t with observed events:

        S(t) = Π_{s ≤ t, d_s > 0} (1 − d_s / n_s)

    with n_s = subjects at risk (duration ≥ s) and d_s = observed
    events at s; censored subjects leave the risk set without an event.

    Distributed shape: one aggregate to the (group, time) grain
    (events + censorings per time), then n_s as a REVERSED cumulative
    sum and S(t) as exp(Σ ln(1−d/n)) — both per-group window passes, so
    the whole curve costs two key-partitioned windows regardless of
    subject count. The product is computed in log space (the only
    distributable cumulative product); a time where d_s = n_s drives
    the survival to EXACTLY 0 from then on via an explicit zero-factor
    flag rather than ln(0) (whose −inf/NULL behavior differs across
    engines). Returns (group, t, n_risk, n_events, n_censored,
    survival) for event-carrying times, survival rounded to 6."""
    base = df.select(
        F.col(group_col).alias("g"),
        F.col(duration_col).cast("long").alias("t"),
        observed_col.cast("int").alias("obs"),
    )
    grain = base.groupBy("g", "t").agg(
        F.sum("obs").alias("d"),
        F.sum(1 - F.col("obs")).alias("cen"),
    )
    w_risk = (
        Window.partitionBy("g")
        .orderBy(F.desc("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    at_risk = grain.withColumn(
        "n", F.sum(F.col("d") + F.col("cen")).over(w_risk)
    )
    factor = 1.0 - F.col("d") / F.col("n")
    w_cum = (
        Window.partitionBy("g")
        .orderBy(F.asc("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    stepped = at_risk.withColumn(
        "_lnsum",
        F.sum(
            F.when(F.col("d") > 0, F.log(F.when(factor > 0, factor)))
            .otherwise(F.lit(0.0))
        ).over(w_cum),
    ).withColumn(
        "_dead", F.max((F.col("d") == F.col("n")).cast("int")).over(w_cum)
    )
    surv = F.when(F.col("_dead") == 1, F.lit(0.0)).otherwise(
        F.exp(F.col("_lnsum"))
    )
    return (
        stepped.filter(F.col("d") > 0)
        .select(
            F.col("g").alias(group_col),
            "t",
            F.col("n").cast("long").alias("n_risk"),
            F.col("d").cast("long").alias("n_events"),
            F.col("cen").cast("long").alias("n_censored"),
            round0(surv, 6).alias("survival"),
        )
    )


def benford_deviation(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """First-significant-digit distribution vs Benford's law per group —
    the classic forged-numbers screen (Benford 1938; standard in fraud
    and data-fabrication auditing): naturally-occurring multi-scale
    positive quantities put digit d first with probability
    log10(1 + 1/d); fabricated or truncated data rarely does. Emits the
    per-digit observed share, the Benford expectation, and the group's
    chi-square statistic against it (8 dof) riding every row.

    One hash aggregate on (group, digit) — the digit is pure codegen
    arithmetic (d = floor(x / 10^floor(log10(x)))), no string casts —
    then group-keyed window sums. Non-positive values are excluded (they
    have no first significant digit; Benford only speaks to positive
    multi-scale data). Scan-rate at any size. Returns (group, digit, n,
    observed_p, benford_p, chi_square) rounded to 6."""
    x = F.col(value_col).cast("double")
    digit = F.floor(x / F.pow(F.lit(10.0), F.floor(F.log10(x)))).cast("int")
    counts = (
        df.filter(x > 0)
        .select(F.col(group_col).alias("g"), digit.alias("digit"))
        .groupBy("g", "digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wg = Window.partitionBy("g")
    tot = F.sum("n").over(wg).cast("double")
    obs = F.col("n") / tot
    ben = F.log10(1.0 + 1.0 / F.col("digit").cast("double"))
    chi = F.sum(
        F.pow(obs - ben, 2) / ben
    ).over(wg) * tot
    return counts.select(
        F.col("g").alias(group_col),
        "digit",
        F.col("n").cast("long").alias("n"),
        round0(obs, 6).alias("observed_p"),
        round0(ben, 6).alias("benford_p"),
        round0(chi, 6).alias("chi_square"),
    )

def skyline_2d(
    df: DataFrame,
    group_col: str,
    max_col: str,
    min_col: str,
) -> DataFrame:
    """Pareto frontier (skyline) per group over two criteria — maximize
    ``max_col``, minimize ``min_col`` (Börzsönyi et al., ICDE 2001: the
    SKYLINE OF operator): a point survives iff no other point is at
    least as good on both axes and strictly better on one. The
    price-vs-freshness / quality-vs-cost shortlist every "show me the
    non-dominated options" ask reduces to.

    The 2-D case needs NO dominance self-join: over DISTINCT criterion
    pairs sorted by (max_col DESC, min_col ASC), a point is dominated
    exactly when some strictly-preceding row has min_col <= its own
    (same-axis ties sort the better min first, so equal-``max`` rows
    police each other; duplicate pairs collapse first — identical
    points never dominate each other). One running-min window per
    group, O(n log n) in the sort, no quadratic anything — the reason
    2-D skylines are a window idiom while d>2 needs blocked dominance
    joins. Returns the frontier rows (group, max_col, min_col)."""
    pts = df.select(group_col, max_col, min_col).distinct()
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.desc(max_col), F.asc(min_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    best_prev = F.min(min_col).over(w)
    return (
        pts.withColumn("_bp", best_prev)
        .filter(F.col("_bp").isNull() | (F.col(min_col) < F.col("_bp")))
        .drop("_bp")
    )


def wilcoxon_signed_rank(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Wilcoxon signed-rank test per group (Wilcoxon 1945) — the PAIRED
    nonparametric test beside Mann-Whitney's independent-samples one:
    did a matched quantity shift between two conditions (same customer
    before/after, same doc pre/post cleanup), without assuming
    normality? Zero differences drop (the standard treatment), |d| gets
    average ranks, W+ = Σ ranks of positive differences, and the
    normal approximation carries the tie correction:

        z = (W+ − n(n+1)/4) / sqrt(n(n+1)(2n+1)/24 − Σ(t³−t)/48)

    Shape: one |d| rank window per group (average ties via the
    rank+run-length identity spearman_by_group uses), one tie
    aggregate, one moment aggregate — two key-partitioned shuffles.
    Exact-integer inputs make every rank engine-identical (the reason
    the contract query pairs COUNTS, not money sums). Groups with
    n = 0 (all-zero diffs) or zero variance (all |d| tied AND the
    correction exactly cancelling) yield NULL z. Returns
    (group, n, w_plus, z) with z rounded to 6."""
    d = (F.col(x_col) - F.col(y_col)).cast("double")
    base = df.select(
        F.col(group_col).alias("_g"), d.alias("_d")
    ).filter(F.col("_d") != 0)
    wr = Window.partitionBy("_g").orderBy(F.abs(F.col("_d")))
    wt = Window.partitionBy("_g", F.abs(F.col("_d")))
    ranked = base.select(
        "_g",
        "_d",
        (
            F.rank().over(wr).cast("double")
            + (F.count(F.lit(1)).over(wt).cast("double") - 1.0) / 2.0
        ).alias("_r"),
        F.count(F.lit(1)).over(wt).cast("double").alias("_t"),
    )
    agg = ranked.groupBy("_g").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.when(F.col("_d") > 0, F.col("_r")).otherwise(0.0)).alias(
            "w_plus"
        ),
        # each tie run of size t contributes (t^3 - t) ONCE: every row in
        # the run carries t, so summing (t^2 - 1) per row = (t^3 - t)/run
        F.sum(F.col("_t") * F.col("_t") - 1.0).alias("_tie"),
    )
    mean = F.col("n") * (F.col("n") + 1.0) / 4.0
    var = (
        F.col("n") * (F.col("n") + 1.0) * (2.0 * F.col("n") + 1.0) / 24.0
        - F.col("_tie") / 48.0
    )
    z = (F.col("w_plus") - mean) / F.when(var > 0, F.sqrt(var))
    return agg.select(
        F.col("_g").alias(group_col),
        F.col("n").cast("long").alias("n"),
        round0(F.col("w_plus"), 6).alias("w_plus"),
        round0(z, 6).alias("z"),
    )


def weighted_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    qs: Sequence[float] = (0.25, 0.5, 0.75, 0.9),
) -> DataFrame:
    """Weighted quantiles per group — the survey-statistics / importance-
    weighted form of percentiles (each row counts ``weight`` times):
    quantile(q) = the smallest value whose cumulative weight reaches
    q·W (the left-continuous inverse-CDF, type-1 — exact and
    engine-stable, no interpolation between engines to diverge).

    One aggregate to the (group, distinct value) grain (ties pool their
    weight — required for a well-defined CDF), one per-group cumulative
    window, then each requested q is a filter + min — the q grid rides
    a tiny explode, never a second scan. Weights must be non-negative;
    zero-total groups yield no rows. Returns (group, q, quantile)."""
    for q in qs:
        if not 0.0 < q <= 1.0:
            raise ValueError(f"quantile levels must be in (0, 1], got {q}")
    byval = (
        df.groupBy(F.col(group_col).alias("_g"), F.col(value_col).alias("_v"))
        .agg(F.sum(F.col(weight_col).cast("double")).alias("_w"))
    )
    wcum = (
        Window.partitionBy("_g")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("_g")
    cdf = byval.select(
        "_g", "_v",
        F.sum("_w").over(wcum).alias("_cw"),
        F.sum("_w").over(wtot).alias("_tw"),
    ).filter(F.col("_tw") > 0)
    grid = F.explode(
        F.array(*[F.lit(float(q)) for q in qs])
    ).alias("q")
    return (
        cdf.select("*", grid)
        .filter(F.col("_cw") >= F.col("q") * F.col("_tw"))
        .groupBy(F.col("_g").alias(group_col), "q")
        .agg(F.min("_v").alias("quantile"))
    )


def logrank_test(
    df: DataFrame,
    group_col: str,
    duration_col,
    observed_col,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Two-sample log-rank test (Mantel, 1966; Peto & Peto, JRSS 1972) —
    the hypothesis test that completes :func:`kaplan_meier`: are the two
    groups' survival curves the same, accounting for right censoring?
    At every pooled event time t (any time with ≥ 1 observed event):

        E_a(t) = d(t) · n_a(t) / n(t)
        V(t)   = d(t) · (n_a/n) · (1 − n_a/n) · (n − d) / (n − 1)

    with n_j(t) = group-j subjects at risk (duration ≥ t), d_j(t) the
    observed group-j events at t, and pooled d, n. The statistic
    χ² = (O_a − E_a)² / ΣV is 1-df chi-square under H₀; z carries the
    direction (z > 0 ⇒ group a died MORE than expected ⇒ worse
    survival).

    Scale shape: one (group, time)-keyed count aggregate; pooled event
    times re-enter each group's timeline as zero-mass marker rows (a
    union, NOT a time × group densify of the raw rows) so a single
    reverse-cumulative window per group yields every n_j(t) — the same
    risk-set trick as ``kaplan_meier``; then one conditional-agg pivot
    to wide per-time rows and a scalar final aggregate. All counts stay
    integer until the last division, so the statistic hashes identically
    across engines after rounding.

    Returns one row: ``(n_a, n_b, o_a, o_b, e_a, chi2, z)`` with the
    float columns rounded to 6 places.
    """
    two = df.filter(F.col(group_col).isin(group_a, group_b)).select(
        F.col(group_col).alias("__g"),
        as_col(duration_col).alias("__t"),
        as_col(observed_col).cast("int").alias("__obs"),
    )
    grain = two.groupBy("__g", "__t").agg(
        F.sum("__obs").alias("__d"),
        F.count(F.lit(1)).alias("__leave"),
    )
    pooled = (
        grain.groupBy("__t")
        .agg(F.sum("__d").alias("__dt"))
        .filter(F.col("__dt") > 0)
        .select("__t")
    )
    labels = grain.sparkSession.createDataFrame(
        [(group_a,), (group_b,)], "__g string"
    )
    markers = pooled.crossJoin(F.broadcast(labels)).select(
        "__g", "__t", F.lit(0).alias("__d"), F.lit(0).alias("__leave"),
        F.lit(1).alias("__mark"),
    )
    merged = (
        grain.select("__g", "__t", "__d", "__leave", F.lit(0).alias("__mark"))
        .unionAll(markers)
        .groupBy("__g", "__t")
        .agg(
            F.sum("__d").alias("__d"),
            F.sum("__leave").alias("__leave"),
            F.max("__mark").alias("__mark"),
        )
    )
    w = (
        Window.partitionBy("__g")
        .orderBy(F.col("__t").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risked = merged.withColumn("__n", F.sum("__leave").over(w)).filter(
        F.col("__mark") == 1
    )
    is_a = F.col("__g") == group_a
    wide = risked.groupBy("__t").agg(
        F.sum(F.when(is_a, F.col("__d")).otherwise(0)).alias("da"),
        F.sum(F.when(~is_a, F.col("__d")).otherwise(0)).alias("db"),
        F.sum(F.when(is_a, F.col("__n")).otherwise(0)).alias("na"),
        F.sum(F.when(~is_a, F.col("__n")).otherwise(0)).alias("nb"),
    )
    d = F.col("da") + F.col("db")
    n = (F.col("na") + F.col("nb")).cast("double")
    e_a = d * F.col("na") / n
    v = F.when(
        n > 1,
        d * (F.col("na") / n) * (1 - F.col("na") / n) * (n - d) / (n - 1),
    ).otherwise(F.lit(0.0))
    totals = two.groupBy().agg(
        F.sum(F.when(is_a, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(~is_a, 1).otherwise(0)).alias("n_b"),
    )
    scalars = wide.agg(
        F.sum("da").cast("long").alias("o_a"),
        F.sum("db").cast("long").alias("o_b"),
        F.round(F.sum(e_a), 6).alias("e_a"),
        F.sum(e_a).alias("__e_raw"),
        F.sum(v).alias("__v"),
    )
    return (
        totals.crossJoin(F.broadcast(scalars))
        .select(
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            "o_a",
            "o_b",
            "e_a",
            F.round(
                (F.col("o_a") - F.col("__e_raw"))
                * (F.col("o_a") - F.col("__e_raw"))
                / F.col("__v"),
                6,
            ).alias("chi2"),
            F.round(
                (F.col("o_a") - F.col("__e_raw")) / F.sqrt("__v"), 6
            ).alias("z"),
        )
    )


def ridge_regression_2f(
    df: DataFrame,
    group_col: str,
    y_col: str,
    x1_col: str,
    x2_col: str,
    lam: float,
) -> DataFrame:
    """Per-group ridge regression with two features and an unpenalized
    intercept, solved in closed form from the normal equations
    (Hoerl & Kennard, Technometrics 1970):

        (XᵀX + λ·diag(0, 1, 1)) β = Xᵀy,  X = [1, x₁, x₂]

    — the multi-feature step past :func:`q_linreg_by_group`'s simple
    OLS, still as ONE distributed aggregate: the 3×3 Gram matrix is
    nine sufficient statistics (n, Σx₁, Σx₂, Σx₁², Σx₁x₂, Σx₂², Σy,
    Σx₁y, Σx₂y) computed map-side-combined per group, and the solve is
    Cramer's rule on those scalars — no driver-side matrix library, no
    iteration, no second pass over the data. λ > 0 also guarantees the
    determinant is nonzero under collinear features (the case that
    breaks plain OLS).

    Engine-exactness: every sufficient statistic is accumulated in
    DECIMAL(18,6)-derived exact arithmetic (sums of decimal products
    are associative, unlike double sums), so both engines hand
    IDENTICAL inputs to the same double-precision Cramer formula —
    the determinant cancellation that makes naive double Gram sums
    diverge in the last ulp never happens.

    Returns ``(group, n_rows, b0, b1, b2)`` rounded to 6 places.
    """
    if lam < 0:
        raise ValueError(f"ridge needs lam >= 0, got {lam}")
    d = lambda c: F.col(c).cast("decimal(18,6)")  # noqa: E731
    x1, x2, y = d(x1_col), d(x2_col), d(y_col)
    # Parallelism guard: the nine DECIMAL sufficient statistics are
    # 10-50x costlier per row than a double sum, and on a single-row-group
    # scan the whole map-side combine runs in ONE task (measured at sf0.1:
    # 1.85 s serial vs 1.25 s spread). Decimal sums are associative, so the
    # redistribution is exactly result-preserving.
    src = spread_if_narrow(df.select(group_col, y_col, x1_col, x2_col))
    g = (
        src.groupBy(F.col(group_col).alias("g"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x1).alias("s1"),
            F.sum(x2).alias("s2"),
            F.sum(x1 * x1).alias("s11"),
            F.sum(x1 * x2).alias("s12"),
            F.sum(x2 * x2).alias("s22"),
            F.sum(y).alias("sy"),
            F.sum(x1 * y).alias("s1y"),
            F.sum(x2 * y).alias("s2y"),
        )
        .select(
            "g",
            F.col("n").cast("double").alias("n"),
            *[
                F.col(c).cast("double").alias(c)
                for c in ("s1", "s2", "s11", "s12", "s22", "sy", "s1y", "s2y")
            ],
        )
    )
    L = F.lit(float(lam))
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    a11, a12, a22 = F.col("s11") + L, F.col("s12"), F.col("s22") + L
    sy, s1y, s2y = F.col("sy"), F.col("s1y"), F.col("s2y")
    det = (
        n * (a11 * a22 - a12 * a12)
        - s1 * (s1 * a22 - a12 * s2)
        + s2 * (s1 * a12 - a11 * s2)
    )
    det0 = (
        sy * (a11 * a22 - a12 * a12)
        - s1 * (s1y * a22 - a12 * s2y)
        + s2 * (s1y * a12 - a11 * s2y)
    )
    det1 = (
        n * (s1y * a22 - a12 * s2y)
        - sy * (s1 * a22 - a12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    det2 = (
        n * (a11 * s2y - s1y * a12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * a12 - a11 * s2)
    )
    return g.select(
        F.col("g").alias(group_col),
        F.col("n").cast("long").alias("n_rows"),
        F.round(det0 / det, 6).alias("b0"),
        F.round(det1 / det, 6).alias("b1"),
        F.round(det2 / det, 6).alias("b2"),
    )


def mann_kendall_trend(
    df: DataFrame,
    group_col: str,
    period_col: str,
) -> DataFrame:
    """Mann-Kendall monotonic-trend test per group (Mann, Econometrica
    1945; Kendall 1975) — the nonparametric "is this series drifting?"
    gate for sensor/telemetry rollups, immune to outliers and
    distribution shape because it reads only pairwise ORDER:

        S = Σ_{i<j} sign(y_j − y_i)   (periods ordered by time)
        Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18
        z = (S − sign(S)) / √Var(S)   (continuity-corrected)

    with the tie term summed over runs of equal values. The per-period
    statistic is the ROW COUNT (volume trend): an integer, so every
    sign and tie is engine-exact — the same discipline as
    ``wilcoxon_signed_rank``. For a value trend, pre-bucket the value
    into integer grades upstream; float means would make sign() read
    last-ulp noise.

    Scale shape: the pairwise comparison self-joins the PER-PERIOD
    series within each group — quadratic only in periods-per-group,
    which is calendar-bounded (30 daily points here; even 10 years of
    hourly data is <10⁹ pairs per group), never in raw rows; the raw
    table is first collapsed by one (group, period) aggregate. Both
    joins shuffle on the group key.

    Returns ``(group, n_periods, s, var_s, z)`` with ``z`` rounded to
    6 places.
    """
    ser = df.groupBy(
        F.col(group_col).alias("g"), F.col(period_col).alias("p")
    ).agg(F.count(F.lit(1)).alias("y"))
    a = ser.select("g", F.col("p").alias("pi"), F.col("y").alias("yi"))
    b = ser.select("g", F.col("p").alias("pj"), F.col("y").alias("yj"))
    s = (
        a.join(b, "g")
        .filter(F.col("pi") < F.col("pj"))
        .groupBy("g")
        .agg(
            F.sum(F.signum(F.col("yj") - F.col("yi"))).cast("long").alias("s")
        )
    )
    n = ser.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    ties = (
        ser.groupBy("g", "y")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("g")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie")
        )
    )
    nn = F.col("n").cast("double")
    var_s = (
        nn * (nn - 1) * (2 * nn + 5) - F.coalesce(F.col("tie"), F.lit(0))
    ) / 18.0
    sgn = F.signum(F.col("s").cast("double"))
    return (
        n.join(s, "g")
        .join(ties, "g", "left")
        .select(
            F.col("g").alias(group_col),
            F.col("n").cast("long").alias("n_periods"),
            "s",
            F.round(var_s, 6).alias("var_s"),
            F.round(
                F.when(F.col("s") == 0, F.lit(0.0)).otherwise(
                    (F.col("s") - sgn) / F.sqrt(var_s)
                ),
                6,
            ).alias("z"),
        )
    )


def linear_attribution(
    df: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    id_col: str,
    conversion_type: str,
    touch_types: Sequence[str],
    window_days: int = 7,
) -> DataFrame:
    """Linear multi-touch attribution — the position-blind complement to
    ``first_touch_conversion``: every conversion splits one unit of
    credit EQUALLY across the user's qualifying touches in the
    ``window_days`` before it (strictly earlier, lookback-bounded), so
    channels that assist mid-journey finally show up in the report
    first-touch hides them from.

    Scale shape: conversions and touches are two filtered scans of the
    same events table joined on the USER key with a range predicate on
    time — a user-keyed shuffle whose per-key fan-out is bounded by
    events-per-user-per-week, never a time-only interval join across
    users. One conversion-keyed count gives each touch its 1/n share;
    one final channel rollup emits the report. Conversions with zero
    in-window touches are reported under the ``'(direct)'`` channel so
    total credit always equals total conversions (the invariant the
    test pins).

    Returns ``(channel, n_touchpoints, n_conversions, credit)`` with
    credit rounded to 6 places.
    """
    if not touch_types:
        raise ValueError("touch_types must be non-empty")
    conv = df.filter(F.col(type_col) == conversion_type).select(
        F.col(user_col).alias("__u"),
        F.col(id_col).alias("__cid"),
        F.col(ts_col).alias("__cts"),
    )
    touch = df.filter(F.col(type_col).isin(list(touch_types))).select(
        F.col(user_col).alias("__u"),
        F.col(type_col).alias("__channel"),
        F.col(ts_col).alias("__tts"),
    )
    touched = conv.join(touch, "__u").filter(
        (F.col("__tts") < F.col("__cts"))
        & (
            F.col("__tts")
            >= F.col("__cts") - F.expr(f"INTERVAL {int(window_days)} DAYS")
        )
    )
    per_conv = touched.groupBy("__cid").agg(
        F.count(F.lit(1)).alias("__n_touch")
    )
    credited = touched.join(per_conv, "__cid").groupBy(
        F.col("__channel").alias("channel")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_touchpoints"),
        F.count_distinct(F.col("__cid")).cast("long").alias("n_conversions"),
        F.round(F.sum(F.lit(1.0) / F.col("__n_touch")), 6).alias("credit"),
    )
    direct = (
        conv.join(per_conv, conv["__cid"] == per_conv["__cid"], "anti")
        .agg(F.count(F.lit(1)).alias("__n_direct"))
        .filter(F.col("__n_direct") > 0)
        .select(
            F.lit("(direct)").alias("channel"),
            F.lit(0).cast("long").alias("n_touchpoints"),
            F.col("__n_direct").cast("long").alias("n_conversions"),
            F.round(F.col("__n_direct").cast("double"), 6).alias("credit"),
        )
    )
    return credited.unionByName(direct)


def theil_sen_trend(
    df: DataFrame,
    group_col: str,
    period_col,
) -> DataFrame:
    """Theil-Sen robust trend line per group (Theil 1950; Sen, JASA
    1968) — the ESTIMATOR companion to :func:`mann_kendall_trend`'s
    test: slope = median of all pairwise slopes (y_j − y_i)/(p_j − p_i),
    intercept = median of (y_i − slope·p_i). Breakdown point ~29%: a
    spike day that would drag least-squares barely moves it — the right
    trend line for telemetry with outages and backfill artifacts.

    The per-period statistic is the row count per (group, period) and
    the period must be an INTEGER offset (days since epoch/origin), so
    every pairwise slope is a ratio of exact integers — both engines
    divide the same numerators by the same denominators and sort
    identical doubles; the even-count median averages the same two
    middles. Same calendar-bounded pairwise join shape as Mann-Kendall
    (quadratic in PERIODS per group, after one collapsing aggregate);
    the exact medians are one sort-window pass each, no collect.

    Returns ``(group, n_periods, slope, intercept)`` rounded to 6.
    """
    ser = df.groupBy(
        F.col(group_col).alias("g"),
        as_col(period_col).alias("p"),
    ).agg(F.count(F.lit(1)).alias("y"))
    a = ser.select("g", F.col("p").alias("pi"), F.col("y").alias("yi"))
    b = ser.select("g", F.col("p").alias("pj"), F.col("y").alias("yj"))
    slopes = (
        a.join(b, "g")
        .filter(F.col("pi") < F.col("pj"))
        .select(
            "g",
            (
                (F.col("yj") - F.col("yi")).cast("double")
                / (F.col("pj") - F.col("pi")).cast("double")
            ).alias("v"),
        )
    )

    def _median(vals: DataFrame, out: str) -> DataFrame:
        w = Window.partitionBy("g").orderBy("v", "g")
        n = Window.partitionBy("g")
        ranked = vals.select(
            "g",
            "v",
            F.row_number().over(w).alias("__rn"),
            F.count(F.lit(1)).over(n).alias("__n"),
        )
        mid = ranked.filter(
            (F.col("__rn") == F.floor((F.col("__n") + 1) / 2))
            | (F.col("__rn") == F.floor(F.col("__n") / 2) + 1)
        )
        return mid.groupBy("g").agg(F.avg("v").alias(out))

    slope = _median(slopes, "slope")
    resid = ser.join(slope, "g").select(
        "g",
        (
            F.col("y").cast("double") - F.col("slope") * F.col("p")
        ).alias("v"),
    )
    intercept = _median(resid, "intercept")
    n = ser.groupBy("g").agg(F.count(F.lit(1)).alias("n_periods"))
    return (
        n.join(slope, "g")
        .join(intercept, "g")
        .select(
            F.col("g").alias(group_col),
            F.col("n_periods").cast("long").alias("n_periods"),
            F.round("slope", 6).alias("slope"),
            F.round("intercept", 6).alias("intercept"),
        )
    )


def anova_oneway(
    df: DataFrame,
    group_col: str,
    value_col,
) -> DataFrame:
    """One-way ANOVA F-test (Fisher, 1925) — the k-group generalization
    of ``ab_test_welch``'s two-sample comparison: does the response
    mean differ across ANY of the groups?

        SSB = Σ_j S_j²/n_j − S²/N     (between groups, k−1 df)
        SSW = Q − Σ_j S_j²/n_j        (within groups, N−k df)
        F   = (SSB/(k−1)) / (SSW/(N−k))

    The value is cast to BIGINT (integer-valued responses — counts,
    cents, quantities), so every per-group sufficient statistic
    (n_j, S_j = Σy, Q_j = Σy²) is an EXACT integer and the only float
    arithmetic is the final assembly. That assembly is made
    order-deterministic the same way ``holt_linear`` is: the k group
    rows are collected into ONE g-sorted array and the Σ S_j²/n_j term
    is a strict left-to-right ``F.aggregate`` fold, which DuckDB's
    ``list_reduce`` reproduces bit-for-bit — so even the
    heavily-cancelling SSB survives hashing at 6 decimals.

    Scale shape: one hash aggregate per group (map-side combined), then
    a single k-row collect into one driver-free row — state is O(k),
    the number of GROUPS, never rows. Groups with n_j = 0 cannot occur;
    k < 2 or SSW = 0 yields a NULL F with the sums still reported.
    Overflow contract (all decimal(38,0) moment accumulators in this
    module): a Σ that exceeds 38 digits returns NULL under non-ANSI
    Spark, propagating a NULL statistic — the INTENDED fail mode (a
    visibly-absent result) vs the silent int64 wrap it replaced.

    Returns one row ``(k, n, ssb, ssw, f_stat)`` rounded to 6 places.
    """
    y = as_col(value_col).cast("long")
    per = df.groupBy(F.col(group_col).alias("__g")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(y).alias("s"),
        # Σy² as decimal(38,0): long×long squares summed in int64 wrap
        # silently near 9.2e18 (the cuped/roc_auc overflow discipline)
        F.sum(y.cast("decimal(38,0)") * y).alias("q"),
    )
    packed = per.agg(
        F.sort_array(
            F.collect_list(F.struct("__g", "n", "s", "q"))
        ).alias("gs")
    )
    gs = F.col("gs")
    k = F.size(gs)
    n_tot = F.aggregate(gs, F.lit(0).cast("long"), lambda a, x: a + x["n"])
    s_tot = F.aggregate(gs, F.lit(0).cast("long"), lambda a, x: a + x["s"])
    q_tot = F.aggregate(
        gs, F.lit(0).cast("decimal(38,0)"), lambda a, x: a + x["q"]
    )
    t_term = F.aggregate(
        gs,
        F.lit(0.0),
        # s² via decimal: a long×long product wraps once a group sum
        # passes ~3.04e9 — trivially reachable (1e6 rows of value 3000)
        lambda a, x: a
        + (x["s"].cast("decimal(38,0)") * x["s"]).cast("double")
        / x["n"].cast("double"),
    )
    stats_row = packed.select(
        k.alias("__k"),
        n_tot.alias("__n"),
        q_tot.cast("double").alias("__q"),
        (
            s_tot.cast("double") * s_tot.cast("double")
            / n_tot.cast("double")
        ).alias("__corr"),
        t_term.alias("__t"),
    )
    ssb = F.col("__t") - F.col("__corr")
    ssw = F.col("__q") - F.col("__t")
    f = F.when(
        (F.col("__k") > 1) & (ssw > 0) & (F.col("__n") > F.col("__k")),
        (ssb / (F.col("__k") - 1))
        / (ssw / (F.col("__n") - F.col("__k"))),
    )
    return stats_row.select(
        F.col("__k").cast("int").alias("k"),
        F.col("__n").cast("long").alias("n"),
        F.round(ssb, 6).alias("ssb"),
        F.round(ssw, 6).alias("ssw"),
        F.round(f, 6).alias("f_stat"),
    )



def paired_t_test(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Paired t-test per group (Student, Biometrika 1908) — the
    parametric twin of ``wilcoxon_signed_rank`` over the same matched
    pairs: t = d̄ / (s_d/√n) on the per-pair differences d = x − y.
    Pairs must be INTEGER-valued (counts): then Σd and Σd² are exact
    integers, the variance assembly runs on identical inputs in both
    engines, and the statistic hashes at 6 decimals.

    One group-keyed aggregate (map-side combined), no window, no
    collect — the cheapest member of the whole test family. Zero
    variance (all differences equal) yields NULL t with the mean still
    reported; n < 2 likewise.

    Returns ``(group, n, mean_d, sd_d, t)`` rounded to 6 places.
    """
    d = (F.col(x_col) - F.col(y_col)).cast("long")
    agg = df.groupBy(F.col(group_col).alias("g")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d).alias("sd1"),
        # Σd² as decimal(38,0) — the anova/cuped overflow discipline
        F.sum(d.cast("decimal(38,0)") * d).alias("sd2"),
    )
    n = F.col("n").cast("double")
    mean = F.col("sd1").cast("double") / n
    # sample variance from exact integer sums: (Σd² − (Σd)²/n) / (n−1)
    var = (
        F.col("sd2").cast("double")
        - F.col("sd1").cast("double") * F.col("sd1").cast("double") / n
    ) / (n - 1)
    sd = F.sqrt(var)
    return agg.select(
        F.col("g").alias(group_col),
        F.col("n").cast("long").alias("n"),
        F.round(mean, 6).alias("mean_d"),
        F.round(
            F.when((F.col("n") > 1) & (var > 0), sd), 6
        ).alias("sd_d"),
        F.round(
            F.when((F.col("n") > 1) & (var > 0), mean / (sd / F.sqrt(n))), 6
        ).alias("t"),
    )


def decision_stump(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col,
) -> DataFrame:
    """Best single-split regression stump per group — the CART split
    search (Breiman et al., 1984) restricted to one feature, i.e. the
    primitive inside every tree/boosting fit and the simplest honest
    answer to "at what threshold does the response change?". Chooses
    the threshold t over the feature's distinct values maximizing the
    variance-reduction gain

        gain(t) = S_L²/n_L + S_R²/n_R        (S = Σy, exact integers)

    which orders identically to SSE reduction since Σy² is
    split-invariant — so the argmax never touches the cancelling SSE
    form. The response is cast to BIGINT (counts/cents/quantities):
    every cumulative sum is exact, each candidate's gain is a single
    float expression over exact integers (no float SUMMATION anywhere),
    and the argmax tie-breaks on the smaller threshold — fully
    engine-deterministic.

    Scale shape: one (group, x) aggregate collapses rows to distinct
    feature values; cumulative sums are a group-keyed window over those
    values (cardinality = |distinct x| per group, e.g. 11 discounts —
    never raw rows); the argmax is one more group-keyed window. The
    rightmost value is excluded as a threshold (its "split" is no
    split).

    Returns ``(group, split_x, n_left, n_right, mean_left, mean_right,
    gain)`` with floats rounded to 6.
    """
    y = as_col(y_col).cast("long")
    per = df.groupBy(
        F.col(group_col).alias("g"), F.col(x_col).alias("x")
    ).agg(F.count(F.lit(1)).alias("n"), F.sum(y).alias("s"))
    w = (
        Window.partitionBy("g")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("g")
    cum = per.select(
        "g",
        "x",
        F.sum("n").over(w).alias("nl"),
        F.sum("s").over(w).alias("sl"),
        F.sum("n").over(tot).alias("nt"),
        F.sum("s").over(tot).alias("st"),
        F.max("x").over(tot).alias("xmax"),
    ).filter(F.col("x") != F.col("xmax"))
    nr = F.col("nt") - F.col("nl")
    sr = F.col("st") - F.col("sl")
    gain = (
        F.col("sl").cast("double") * F.col("sl").cast("double")
        / F.col("nl").cast("double")
        + sr.cast("double") * sr.cast("double") / nr.cast("double")
    )
    scored = cum.select(
        "g", "x", "nl", "sl", nr.alias("nr"), sr.alias("sr"),
        gain.alias("gain"),
    )
    pick = Window.partitionBy("g").orderBy(F.desc("gain"), F.asc("x"))
    return (
        scored.withColumn("__rn", F.row_number().over(pick))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("g").alias(group_col),
            F.col("x").alias("split_x"),
            F.col("nl").cast("long").alias("n_left"),
            F.col("nr").cast("long").alias("n_right"),
            F.round(
                F.col("sl").cast("double") / F.col("nl").cast("double"), 6
            ).alias("mean_left"),
            F.round(
                F.col("sr").cast("double") / F.col("nr").cast("double"), 6
            ).alias("mean_right"),
            F.round("gain", 6).alias("gain"),
        )
    )


def median_impute(
    df: DataFrame,
    group_col: str,
    value_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """Fill NULLs in ``value_col`` with the per-group EXACT median of
    the observed values — the robust default imputation (mean imputation
    drags toward outliers; per-group beats global whenever the groups
    have different typical levels). Adds ``out_col`` (default
    ``<value>_filled``) plus ``<value>_imputed`` (flag); rows in groups
    with NO observed value keep NULL (nothing defensible to fill with).

    The median is the same exact distributed sort-window selection as
    ``theil_sen_trend``'s (row_number + count, average the two middles
    on even counts) — no approx-percentile drift, no collect. Scale
    shape: one window pass over observed rows per group plus a
    group-keyed join of the O(groups) median table back onto the data;
    both shuffles on the group key.
    """
    out = out_col or f"{value_col}_filled"
    obs = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("__g"), F.col(value_col).alias("__v")
    )
    w = Window.partitionBy("__g").orderBy("__v")
    n = Window.partitionBy("__g")
    ranked = obs.select(
        "__g",
        "__v",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(n).alias("__n"),
    )
    med = (
        ranked.filter(
            (F.col("__rn") == F.floor((F.col("__n") + 1) / 2))
            | (F.col("__rn") == F.floor(F.col("__n") / 2) + 1)
        )
        .groupBy("__g")
        .agg(F.avg("__v").alias("__med"))
    )
    return (
        df.join(med, F.col(group_col) == F.col("__g"), "left")
        .withColumn(out, F.coalesce(F.col(value_col), F.col("__med")))
        .withColumn(
            f"{value_col}_imputed",
            F.col(value_col).isNull() & F.col("__med").isNotNull(),
        )
        .drop("__g", "__med")
    )


def normal_two_sided_p(z: Column) -> Column:
    """Two-sided normal p-value 2·(1 − Φ(|z|)) via the Abramowitz &
    Stegun 7.1.26 erf polynomial (|error| < 1.5e-7 — far inside the
    6-decimal rounding every oracle uses). A fixed rational polynomial
    plus one exp(): expressible IDENTICALLY in Spark and SQL, which is
    what makes downstream multiple-testing procedures hash-oracle-able
    without a stats library on either side."""
    x = F.abs(z) / math.sqrt(2.0)
    t = 1.0 / (1.0 + 0.3275911 * x)
    poly = t * (
        0.254829592
        + t * (-0.284496736 + t * (1.421413741
                                   + t * (-1.453152027 + t * 1.061405429)))
    )
    erf = 1.0 - poly * F.exp(-x * x)
    return 2.0 * (1.0 - (0.5 * (1.0 + erf)))


def bh_fdr(
    df: DataFrame,
    key_col: str,
    p_col: str,
    q: float = 0.1,
) -> DataFrame:
    """Benjamini-Hochberg step-up FDR control (JRSS-B 1995) — the
    correction every fleet-wide screen needs once it runs one test PER
    GROUP (drift per table, trend per metric, balance per segment):
    at m tests, untreated α=0.05 expects m/20 false alarms; BH caps the
    expected FALSE-DISCOVERY fraction at ``q`` while keeping far more
    power than Bonferroni. Sort p ascending, find the largest k with
    p_(k) ≤ (k/m)·q, reject exactly the first k.

    Ranks use (p, key) so ties are engine-deterministic; the k* cut is
    a running max over the qualifying ranks (one window), the reject
    flag a comparison against it — O(m) rows end to end, where m is the
    number of TESTS, not data rows.

    Returns ``(key, p, rank, threshold, significant)`` with p and
    threshold rounded to 6.
    """
    if not (0.0 < q < 1.0):
        raise ValueError(f"bh_fdr needs q in (0, 1), got {q}")
    w = Window.orderBy(F.col(p_col).asc(), F.col(key_col).asc())
    m = Window.partitionBy()
    ranked = df.select(
        F.col(key_col),
        F.col(p_col).alias("__p"),
        F.row_number().over(w).alias("__r"),
        F.count(F.lit(1)).over(m).alias("__m"),
    )
    thresh = F.col("__r").cast("double") / F.col("__m").cast("double") * q
    kstar = ranked.select(
        "*",
        F.max(
            F.when(F.col("__p") <= thresh, F.col("__r")).otherwise(0)
        ).over(m).alias("__kstar"),
    )
    return kstar.select(
        key_col,
        F.round("__p", 6).alias("p"),
        F.col("__r").cast("int").alias("rank"),
        F.round(thresh, 6).alias("threshold"),
        (F.col("__r") <= F.col("__kstar")).alias("significant"),
    )


def rare_category_collapse(
    df: DataFrame,
    cat_col: str,
    min_frac: float = 0.01,
    other_label: str = "__other__",
    out_col: str | None = None,
) -> DataFrame:
    """Collapse categories holding less than ``min_frac`` of rows into
    one ``other_label`` bucket — the standard cardinality guard before
    one-hot/target encoding and the long-tail hygiene step for
    reporting dimensions (a 10⁶-value categorical with a power-law
    tail otherwise leaks sparse, unlearnable, sometimes identifying
    levels into every downstream model).

    Scale shape: one category-keyed count, a 1-row total broadcast,
    and a category-keyed join of the keep/collapse verdict back onto
    the data — the category table is never collected, so vocabulary
    size does not bound the operator (the planner broadcasts it only
    when it is actually small). Adds ``out_col`` (default
    ``<cat>_collapsed``); NULL categories pass through as NULL (they
    are their own problem, not a rare level).
    """
    if not (0.0 < min_frac < 1.0):
        raise ValueError(f"min_frac must be in (0, 1), got {min_frac}")
    out = out_col or f"{cat_col}_collapsed"
    counts = df.groupBy(F.col(cat_col).alias("__c")).agg(
        F.count(F.lit(1)).alias("__n")
    )
    total = counts.agg(F.sum("__n").alias("__tot"))
    verdict = counts.crossJoin(F.broadcast(total)).select(
        "__c",
        (
            F.col("__n").cast("double")
            < F.lit(float(min_frac)) * F.col("__tot").cast("double")
        ).alias("__rare"),
    )
    return (
        df.join(verdict, F.col(cat_col).eqNullSafe(F.col("__c")), "left")
        .withColumn(
            out,
            F.when(F.col(cat_col).isNull(), F.lit(None).cast("string"))
            .when(F.col("__rare"), F.lit(other_label))
            .otherwise(F.col(cat_col).cast("string")),
        )
        .drop("__c", "__rare")
    )


def chi2_drift_fdr(
    df: DataFrame,
    features: dict[str, Column],
    split_col,
    q: float = 0.1,
) -> DataFrame:
    """Multi-feature two-sample drift screen with FDR control — the
    fleet form of q_psi_drift/q_ks_drift: for EVERY feature, a
    chi-square homogeneity test of its category distribution across
    the binary split, a Wilson-Hilferty normal approximation
    (z = ((χ²/k)^⅓ − (1 − 2/9k)) / √(2/9k)) to get p-values without an
    incomplete-gamma on either engine, and :func:`bh_fdr` across the
    feature family so 50 screened features don't hand you 2-3 false
    drift alarms every run.

    Exactness: contingency cells are exact integer counts densified
    over the category × split grid (zero cells contribute their full
    expected mass); each cell's (o−e)²/e term is a single float
    expression over exact integers; the per-feature χ² is an ORDERED
    fold over (category, split)-sorted cells (`F.aggregate` ≡ DuckDB
    `list_reduce`), the same bit-exactness discipline as
    ``anova_oneway``. Scale: one union-of-projections scan, counts
    keyed on (feature, category, split), fold state O(cells) per
    feature, BH over O(features) rows.

    NULL handling: a feature expression that yields NULL is a real
    category — it is sentinel-coded to ``'__null__'`` BEFORE counting
    so the densified grid's null-unsafe equi-join still matches it
    (otherwise o=0 cells coexist with row totals that include the
    NULLs, inflating χ²). Rows whose SPLIT is NULL carry no arm and
    are excluded. dof is ``(ncat−1)·(nsplit−1)`` — correct for any
    number of split arms, not just the binary case.

    Returns bh_fdr's ``(feature, p, rank, threshold, significant)``
    plus ``chi2``, ``dof`` and ``z`` per feature.
    """
    split = as_col(split_col).cast("int")
    long = None
    for name, expr in sorted(features.items()):
        part = df.select(
            F.lit(name).alias("__f"),
            F.coalesce(expr.cast("string"), F.lit("__null__")).alias("__c"),
            split.alias("__s"),
        )
        long = part if long is None else long.unionAll(part)
    counts = long.filter(F.col("__s").isNotNull()).groupBy(
        "__f", "__c", "__s"
    ).agg(F.count(F.lit(1)).alias("__o"))
    row_tot = counts.groupBy("__f", "__c").agg(F.sum("__o").alias("__rt"))
    col_tot = counts.groupBy("__f", "__s").agg(F.sum("__o").alias("__ct"))
    n_tot = counts.groupBy("__f").agg(F.sum("__o").alias("__nt"))
    grid = row_tot.join(col_tot, "__f").join(n_tot, "__f")
    cells = grid.join(counts, ["__f", "__c", "__s"], "left").select(
        "__f",
        "__c",
        "__s",
        F.coalesce("__o", F.lit(0)).alias("__o"),
        (
            F.col("__rt").cast("double")
            * F.col("__ct").cast("double")
            / F.col("__nt").cast("double")
        ).alias("__e"),
    )
    folded = (
        cells.groupBy("__f")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("__c").alias("c"),
                        F.col("__s").alias("s"),
                        F.col("__o").alias("o"),
                        F.col("__e").alias("e"),
                    )
                )
            ).alias("cells"),
            F.count_distinct("__c").alias("__ncat"),
            F.count_distinct("__s").alias("__nsplit"),
        )
        .select(
            "__f",
            F.aggregate(
                "cells",
                F.lit(0.0),
                lambda a, x: a
                + (x["o"].cast("double") - x["e"])
                * (x["o"].cast("double") - x["e"])
                / x["e"],
            ).alias("chi2"),
            ((F.col("__ncat") - 1) * (F.col("__nsplit") - 1))
            .cast("int")
            .alias("dof"),
        )
    )
    k = F.col("dof").cast("double")
    z = (
        F.pow(F.col("chi2") / k, F.lit(1.0 / 3.0))
        - (1.0 - 2.0 / (9.0 * k))
    ) / F.sqrt(2.0 / (9.0 * k))
    two = normal_two_sided_p(F.col("z"))
    scored = folded.select(
        "__f", "chi2", "dof", z.alias("z")
    ).select(
        "__f",
        "chi2",
        "dof",
        "z",
        F.when(F.col("z") >= 0, two / 2.0).otherwise(1.0 - two / 2.0).alias(
            "__p"
        ),
    )
    flagged = bh_fdr(
        scored.select(F.col("__f").alias("feature"), F.col("__p").alias("p")),
        "feature",
        "p",
        q=q,
    )
    extras = scored.select(
        F.col("__f").alias("feature"),
        F.round("chi2", 6).alias("chi2"),
        "dof",
        F.round("z", 6).alias("z"),
    )
    return flagged.join(extras, "feature")


def srm_check(
    df: DataFrame,
    group_col: str,
    unit_col: str,
    arm_col,
    p_threshold: float = 0.001,
) -> DataFrame:
    """Sample-ratio-mismatch guardrail per experiment group (Fabijan et
    al., KDD 2019 — the first check any A/B readout must pass): with a
    50/50 assignment, does the realized UNIT split deviate more than
    chance allows? Units (not events) are counted once per arm; the
    two-cell goodness-of-fit collapses to the exact closed form

        z = (n₀ − n₁) / √(n₀ + n₁),  p = two-sided normal

    (algebraically identical to the 1-df χ² = (n₀−n₁)²/n). An SRM flag
    means the assignment/logging pipeline is biased and every metric
    downstream of it is untrustworthy — which is why this runs BEFORE
    ab_test_welch, not after. Integer unit counts make z engine-exact;
    p uses the shared A&S erf polynomial.

    Scale shape: one distinct over (group, unit, arm), one group-keyed
    conditional count — scan-rate. Returns ``(group, n_0, n_1, z, p,
    srm)`` with floats rounded to 6; ``srm`` is ``p < p_threshold``
    (the industry-standard 0.001 gate by default).
    """
    if not (0.0 < p_threshold < 1.0):
        raise ValueError(
            f"srm needs p_threshold in (0, 1), got {p_threshold}"
        )
    arm = as_col(arm_col).cast("int")
    units = df.select(
        F.col(group_col).alias("__g"),
        F.col(unit_col).alias("__u"),
        arm.alias("__a"),
    ).distinct()
    agg = units.groupBy("__g").agg(
        F.sum(F.when(F.col("__a") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("__a") == 1, 1).otherwise(0)).alias("n1"),
    )
    z = (F.col("n0") - F.col("n1")).cast("double") / F.sqrt(
        (F.col("n0") + F.col("n1")).cast("double")
    )
    p = normal_two_sided_p(z)
    return agg.select(
        F.col("__g").alias(group_col),
        F.col("n0").cast("long").alias("n_0"),
        F.col("n1").cast("long").alias("n_1"),
        F.round(z, 6).alias("z"),
        F.round(p, 6).alias("p"),
        (p < F.lit(float(p_threshold))).alias("srm"),
    )


def trimmed_mean(
    df: DataFrame,
    group_col: str,
    value_col,
    trim_frac: float = 0.1,
) -> DataFrame:
    """Symmetric trimmed mean per group (the robust location estimate
    between the mean and the median): drop the ⌊n·frac⌋ smallest and
    largest observations, average the rest — outlier-resistant without
    the median's total information loss, the standard readout for
    latency/amount metrics with heavy tails.

    The value is cast to BIGINT, so the kept-mass sum is exact whatever
    order it accumulates in, and ties at the trim boundary are
    harmless by construction: dropping ANY ⌊n·frac⌋ smallest rows
    leaves the same kept multiset when boundary values tie.

    Computed at the VALUE grain (round 13, guide §8: decide with small
    rows): one distributed count per (group, value), then the rank
    arithmetic runs on the tiny distinct-value frame — each value row
    owns rank positions [cum−c+1, cum], and its kept multiplicity is
    the overlap of that interval with the kept band [k+1, n−k]. The
    row-grain form ran a row_number window over every row in as few
    tasks as there are groups (measured 1.3 s at sf0.1 on 3 groups);
    the value-grain window touches one row per distinct value. Sums
    stay exact: value·multiplicity in BIGINT is the same integer the
    per-row sum accumulates (NULL values ride a NULL value-group that
    contributes to n but never to the kept mass or its count, exactly
    like the old per-row NULL handling). Returns
    ``(group, n, n_trimmed_each_side, mean_raw, mean_trimmed)``
    with means rounded to 6.
    """
    if not (0.0 <= trim_frac < 0.5):
        raise ValueError(f"trim_frac must be in [0, 0.5), got {trim_frac}")
    y = as_col(value_col).cast("long")
    byval = (
        df.select(F.col(group_col).alias("__g"), y.alias("__y"))
        .groupBy("__g", "__y")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    # NULLS FIRST matches the row-grain window's default orderBy, so the
    # rank interval each value owns is identical to the positions its
    # rows occupied under row_number()
    wcum = (
        Window.partitionBy("__g")
        .orderBy(F.col("__y").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wg = Window.partitionBy("__g")
    cum = byval.select(
        "__g",
        "__y",
        "__c",
        F.sum("__c").over(wcum).alias("__cum"),
        F.sum("__c").over(wg).alias("__n"),
    ).withColumn(
        "__k", F.floor(F.col("__n") * F.lit(float(trim_frac))).cast("long")
    )
    kept_cnt = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("__cum"), F.col("__n") - F.col("__k"))
        - F.greatest(F.col("__cum") - F.col("__c") + 1, F.col("__k") + 1)
        + 1,
    )
    # NULL value rows count toward n (they occupy rank positions) but,
    # exactly like the old per-row form, never toward the kept sum or
    # the kept count (sum(NULL·kept)=NULL-skipped, count(when(...,NULL
    # y))=0)
    kept_nn = F.when(F.col("__y").isNotNull(), kept_cnt).otherwise(
        F.lit(0).cast("long")
    )
    agg = cum.groupBy("__g").agg(
        F.max("__n").alias("n"),
        F.max("__k").alias("k"),
        F.sum(F.col("__y") * F.col("__c")).alias("s_all"),
        F.sum(F.col("__y") * kept_nn).alias("s_kept"),
        F.sum(kept_nn).alias("n_kept"),
    )
    return agg.select(
        F.col("__g").alias(group_col),
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("n_trimmed_each_side"),
        F.round(
            F.col("s_all").cast("double") / F.col("n").cast("double"), 6
        ).alias("mean_raw"),
        F.round(
            F.col("s_kept").cast("double") / F.col("n_kept").cast("double"),
            6,
        ).alias("mean_trimmed"),
    )


def roc_auc(
    df: DataFrame,
    score_col,
    label_col,
) -> DataFrame:
    """ROC AUC via the rank statistic (tie-aware), never a per-row rank:
    AUC is P(score⁺ > score⁻) + ½·P(score⁺ = score⁻), i.e. the
    Mann-Whitney U₁/(n₁n₂) — so it reduces to the SAME distinct-value
    shape as ``mann_whitney_u``: one score-keyed aggregate (positive /
    negative counts per distinct score), one running-sum window over
    the distinct-score domain (≪ rows; here the caller quantizes the
    score so the domain is bounded), and one scalar reduction

        AUC = Σ_s pos_s · (neg_below(s) + neg_s/2) / (P·N).

    The pairwise-concordance sum is over exact BIGINT counts, so it is
    order-independent — only the final division is floating-point. The
    unpartitioned window runs over the aggregated distinct-score table,
    the one place this repo allows it (same dispensation as
    ``mann_whitney_u``); at 100 TB the domain is the quantization grid,
    not the row count. Degenerate inputs (no positives or no negatives)
    yield NULL auc/gini rather than a division error. NULL scores/labels
    are dropped up front (``score_label``); the concordance sum
    accumulates as decimal(38,0) since 2·P·N wraps int64 past P·N ≈
    4.6e18 — reachable at 100 TB row counts (round-9 advice, both).

    Returns one row ``(n, n_pos, n_neg, n_scores, auc, gini)`` with
    auc/gini rounded to 6; gini = 2·AUC − 1 (the accuracy ratio).
    """
    per_score = (
        score_label(df, score_col, label_col)
        .groupBy("__s")
        .agg(
            F.sum("__y").cast("long").alias("__pos"),
            F.sum(F.lit(1) - F.col("__y")).cast("long").alias("__neg"),
        )
    )
    w = Window.orderBy("__s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per_score.select(
        "__s",
        "__pos",
        "__neg",
        (F.sum("__neg").over(w) - F.col("__neg")).alias("__neg_below"),
    )
    # 2× the concordance numerator keeps the tie half-credit integral;
    # the OPERAND casts to decimal(38,0) BEFORE the multiply (the youden
    # discipline): a long×long product wraps silently at 2·P·N > 2^63
    # (~3e9 rows per class — real at 100 TB) and casting the wrapped
    # result would launder the garbage.
    num2 = F.sum(
        F.col("__pos").cast("decimal(38,0)")
        * (F.lit(2) * F.col("__neg_below") + F.col("__neg"))
    )
    agg = cum.agg(
        (F.sum("__pos") + F.sum("__neg")).cast("long").alias("n"),
        F.sum("__pos").cast("long").alias("n_pos"),
        F.sum("__neg").cast("long").alias("n_neg"),
        F.count(F.lit(1)).cast("long").alias("n_scores"),
        num2.alias("__num2"),
    )
    auc = F.col("__num2").cast("double") / (
        F.lit(2.0)
        * F.nullif(
            (F.col("n_pos") * F.col("n_neg")).cast("double"), F.lit(0.0)
        )
    )
    return agg.select(
        "n",
        "n_pos",
        "n_neg",
        "n_scores",
        F.round(auc, 6).alias("auc"),
        F.round(F.lit(2.0) * auc - F.lit(1.0), 6).alias("gini"),
    )


def pr_threshold_sweep(
    df: DataFrame,
    score_col,
    label_col,
    thresholds: Sequence[float],
) -> DataFrame:
    """Precision / recall / F1 at a fixed threshold grid — the
    operating-point sweep behind choosing a classifier cutoff. ONE scan,
    one single-row aggregate: every threshold contributes two exact
    BIGINT buffers (true positives, predicted positives) via conditional
    sums, the base rate rides in two more, and the per-threshold rows
    are unfolded from the aggregated row with an inline explode — no
    T-way crossJoin row expansion before the combine, so map-side
    partials stay at one row per partition regardless of input size.

    Predicted positive ⇔ score ≥ threshold. Zero-denominator operating
    points (no predicted positives / no actual positives / P+R = 0)
    yield NULL precision/recall/f1, the documented contract. Returns
    ``(threshold, n, n_pos, pred_pos, tp, precision, recall, f1)``
    rounded to 6, one row per threshold in grid order.
    """
    if not thresholds:
        raise ValueError("pr_threshold_sweep needs a non-empty grid")
    base = score_label(df, score_col, label_col)
    aggs = [
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__y").cast("long").alias("__pos"),
    ]
    for i, thr in enumerate(thresholds):
        hit = F.col("__s") >= F.lit(float(thr))
        aggs.append(
            F.sum(F.when(hit, F.col("__y"))).cast("long").alias(f"__tp{i}")
        )
        aggs.append(F.count(F.when(hit, 1)).cast("long").alias(f"__pp{i}"))
    row = base.agg(*aggs)
    points = F.array(
        *[
            F.struct(
                F.lit(float(thr)).alias("threshold"),
                F.col(f"__tp{i}").alias("tp"),
                F.col(f"__pp{i}").alias("pp"),
            )
            for i, thr in enumerate(thresholds)
        ]
    )
    un = row.select(
        "__n", "__pos", F.explode(points).alias("__pt")
    ).select(
        F.col("__pt.threshold").alias("threshold"),
        F.col("__n").alias("n"),
        F.col("__pos").alias("n_pos"),
        F.col("__pt.pp").alias("pred_pos"),
        F.coalesce(F.col("__pt.tp"), F.lit(0)).cast("long").alias("tp"),
    )
    prec = F.col("tp").cast("double") / F.nullif(
        F.col("pred_pos").cast("double"), F.lit(0.0)
    )
    rec = F.col("tp").cast("double") / F.nullif(
        F.col("n_pos").cast("double"), F.lit(0.0)
    )
    f1 = (F.lit(2.0) * prec * rec) / F.nullif(prec + rec, F.lit(0.0))
    return un.select(
        "threshold",
        "n",
        "n_pos",
        "pred_pos",
        "tp",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def brier_decomposition(
    df: DataFrame,
    score_col,
    label_col,
    n_bins: int = 10,
) -> DataFrame:
    """Murphy (1973) decomposition of the Brier score over fixed-width
    probability bins: beside ``calibration_bins``'s |gap| reliability
    diagram, this is the variance-style audit —

        BS  = avg((s − y)²)            (overall)
        REL = Σ n_b/N · (f̄_b − ō_b)²  (calibration error, want 0)
        RES = Σ n_b/N · (ō_b − ō)²     (discrimination, want large)
        UNC = ō·(1 − ō)                (irreducible base-rate entropy)

    with BS ≈ REL − RES + UNC (exact when scores are constant within a
    bin). Bin = min(⌊s·n_bins⌋, n_bins−1) — fixed-width bins are pure
    arithmetic (deterministic on every engine), unlike ntile's global
    rank. One score-binned aggregate (map-side combine) plus
    unpartitioned window sums over the n_bins-row result, the same
    dispensation as ``calibration_bins``. Returns one row per non-empty
    bin ``(bin, n, f_mean, o_rate)`` with the four decomposition
    scalars riding every row, all rounded to 6.
    """
    if n_bins < 2:
        raise ValueError(f"brier_decomposition needs n_bins >= 2, got {n_bins}")
    binned = score_label(df, score_col, label_col).withColumn(
        "bin",
        F.least(
            F.floor(F.col("__s") * n_bins).cast("int"), F.lit(n_bins - 1)
        ),
    )
    agg = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("__s").alias("__f"),
        F.avg("__y").alias("__o"),
        F.sum(
            (F.col("__s") - F.col("__y")) * (F.col("__s") - F.col("__y"))
        ).alias("__se"),
    )
    tot = Window.partitionBy()
    nn = F.sum("n").over(tot).cast("double")
    obar = (
        F.sum(F.col("__o") * F.col("n")).over(tot) / nn
    )
    wgt = F.col("n").cast("double") / nn
    rel = F.sum(
        wgt * (F.col("__f") - F.col("__o")) * (F.col("__f") - F.col("__o"))
    ).over(tot)
    # Σ w·(o−ō)² expanded to Σ w·o² − ō² (Σw = 1): nesting the ō window
    # sum inside another window sum is illegal in Spark, the expansion
    # keeps both terms first-level window results.
    res = (
        F.sum(wgt * F.col("__o") * F.col("__o")).over(tot) - obar * obar
    )
    brier = F.sum("__se").over(tot) / nn
    return agg.select(
        "bin",
        "n",
        round0(F.col("__f"), 6).alias("f_mean"),
        round0(F.col("__o"), 6).alias("o_rate"),
        round0(brier, 6).alias("brier"),
        round0(rel, 6).alias("reliability"),
        round0(res, 6).alias("resolution"),
        round0(obar * (F.lit(1.0) - obar), 6).alias("uncertainty"),
    )


def kruskal_wallis(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Kruskal-Wallis H (the k-group extension of ``mann_whitney_u``,
    and the nonparametric twin of ``anova_oneway``): rank-based
    location comparison across ALL groups at once, with the standard
    tie correction

        H = [ 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1) ]
              / (1 − Σ_v(t_v³−t_v)/(N³−N)).

    Shape: ranks are computed per DISTINCT VALUE, never per row — one
    (value, group) count aggregate, one distinct-value running-sum
    window (value-domain-sized, the mann_whitney_u dispensation), a
    value-keyed join of avg-ranks back onto the per-group counts, and a
    k-row reduction. Average ranks are halves of integers, so every
    R_g is EXACT in doubles; only H's final divisions are inexact
    (rounded to 6). NULL values and NULL groups are excluded up front
    (the chi_square_independence convention). Degenerate inputs (all
    values tied, or a single group) yield NULL h_stat.

    Returns one row per group ``(group, n, rank_sum, mean_rank,
    h_stat, dof)`` — H and dof = k−1 ride every row.
    """
    base = df.select(
        F.col(value_col).cast("double").alias("__v"),
        F.col(group_col).alias("__g"),
    ).filter(F.col("__v").isNotNull() & F.col("__g").isNotNull())
    vg = base.groupBy("__v", "__g").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    tot = vg.groupBy("__v").agg(F.sum("__c").alias("__cnt"))
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
    ranks = tot.select(
        "__v",
        "__cnt",
        (
            F.coalesce(F.sum("__cnt").over(w), F.lit(0))
            + (F.col("__cnt") + F.lit(1)) / F.lit(2.0)
        ).alias("__avg_rank"),
    )
    scalars = tot.agg(
        F.sum("__cnt").cast("double").alias("__N"),
        F.sum(
            F.col("__cnt").cast("double") * F.col("__cnt") * F.col("__cnt")
            - F.col("__cnt")
        ).alias("__tie"),
    )
    per_g = (
        vg.join(ranks.select("__v", "__avg_rank"), "__v")
        .groupBy("__g")
        .agg(
            F.sum("__c").cast("long").alias("n"),
            F.sum(F.col("__c") * F.col("__avg_rank")).alias("rank_sum"),
        )
        .crossJoin(F.broadcast(scalars))
    )
    tw = Window.partitionBy()
    n_d = F.col("__N")
    sum_term = F.sum(
        F.col("rank_sum") * F.col("rank_sum") / F.col("n")
    ).over(tw)
    k = F.count(F.lit(1)).over(tw)
    correction = F.lit(1.0) - F.col("__tie") / F.nullif(
        n_d * n_d * n_d - n_d, F.lit(0.0)
    )
    h = (
        (F.lit(12.0) / (n_d * (n_d + 1)) * sum_term - F.lit(3.0) * (n_d + 1))
        / F.nullif(correction, F.lit(0.0))
    )
    return per_g.select(
        F.col("__g").alias(group_col),
        "n",
        F.col("rank_sum"),
        F.round(F.col("rank_sum") / F.col("n"), 6).alias("mean_rank"),
        F.round(F.when(k > 1, h), 6).alias("h_stat"),
        (k - 1).cast("long").alias("dof"),
    )


def time_decay_attribution(
    df: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    id_col: str,
    conversion_type: str,
    touch_types: Sequence[str],
    window_days: int = 7,
    half_life_days: float = 2.0,
) -> DataFrame:
    """Time-decay multi-touch attribution — the recency-weighted member
    of the attribution family (first_touch = all credit to the oldest
    touch, linear = equal split, this = exponential split): each
    conversion splits one unit of credit across its in-window touches
    proportionally to w = 2^(−Δt/half_life), so the touch nearest the
    conversion earns the most. Same join shape as
    ``linear_attribution`` — a USER-keyed join of two filtered scans
    with a range predicate (per-key fan-out bounded by
    events-per-user-per-window, never a time-only interval join), one
    conversion-keyed weight-sum, one channel rollup. Δt runs on exact
    epoch-micro BIGINTs; only the 2^x weights and the final shares are
    floating-point (rounded to 6). Zero-touch conversions report under
    ``'(direct)'`` so total credit = total conversions (the family
    invariant).

    Returns ``(channel, n_touchpoints, n_conversions, credit)``.
    """
    if not touch_types:
        raise ValueError("touch_types must be non-empty")
    if half_life_days <= 0:
        raise ValueError(
            f"half_life_days must be > 0, got {half_life_days}"
        )
    conv = df.filter(F.col(type_col) == conversion_type).select(
        F.col(user_col).alias("__u"),
        F.col(id_col).alias("__cid"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("__cus"),
    )
    touch = df.filter(F.col(type_col).isin(list(touch_types))).select(
        F.col(user_col).alias("__u"),
        F.col(type_col).alias("__channel"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("__tus"),
    )
    horizon_us = int(window_days) * 86_400_000_000
    hl_us = float(half_life_days) * 86_400_000_000.0
    touched = (
        conv.join(touch, "__u")
        .filter(
            (F.col("__tus") < F.col("__cus"))
            & (F.col("__tus") >= F.col("__cus") - F.lit(horizon_us))
        )
        .withColumn(
            "__w",
            F.pow(
                F.lit(2.0),
                -(F.col("__cus") - F.col("__tus")).cast("double")
                / F.lit(hl_us),
            ),
        )
    )
    per_conv = touched.groupBy("__cid").agg(F.sum("__w").alias("__wsum"))
    credited = (
        touched.join(per_conv, "__cid")
        .groupBy(F.col("__channel").alias("channel"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touchpoints"),
            F.count_distinct(F.col("__cid"))
            .cast("long")
            .alias("n_conversions"),
            F.round(
                F.sum(F.col("__w") / F.col("__wsum")), 6
            ).alias("credit"),
        )
    )
    direct = (
        conv.join(per_conv, conv["__cid"] == per_conv["__cid"], "anti")
        .agg(F.count(F.lit(1)).alias("__n_direct"))
        .filter(F.col("__n_direct") > 0)
        .select(
            F.lit("(direct)").alias("channel"),
            F.lit(0).cast("long").alias("n_touchpoints"),
            F.col("__n_direct").cast("long").alias("n_conversions"),
            F.round(F.col("__n_direct").cast("double"), 6).alias("credit"),
        )
    )
    return credited.unionByName(direct)


def conformal_calibration(
    df: DataFrame,
    group_col: str,
    value_col: str,
    is_calibration,
    alpha: float = 0.1,
) -> DataFrame:
    """Split-conformal prediction-interval calibration (Vovk et al.;
    Lei et al. 2018 split recipe) — the distribution-free guarantee
    check: fit a point predictor on the calibration slice, take
    q̂ = the ⌈(n+1)(1−α)⌉-th smallest absolute residual, and the
    interval pred ± q̂ covers a fresh point with probability ≥ 1−α, no
    matter the distribution. This operator runs the whole loop per
    group and reports the EMPIRICAL coverage on the held-out slice —
    the audit that a deployed interval actually honors its nominal
    level.

    Every selected statistic is an ORDER STATISTIC of actual data
    values (calibration median as predictor, k-th residual as q̂), so
    the result is bit-reproducible across engines — no means, no
    interpolation. Shape: two window passes and two aggregates, all
    partitioned by the group key, plus one group-keyed join onto the
    test slice; nothing global, nothing collected. Returns one row per
    group ``(group, n_cal, n_test, pred, qhat, coverage)`` — coverage
    is an exact count ratio rounded to 6; groups with an empty test
    slice report NULL coverage.
    """
    if not (0.0 < alpha < 1.0):
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    v = F.col(value_col).cast("double")
    base = df.select(
        F.col(group_col).alias("__g"),
        v.alias("__y"),
        is_calibration.cast("boolean").alias("__cal"),
    )
    cal = base.filter(F.col("__cal"))
    wv = Window.partitionBy("__g").orderBy("__y")
    ng = Window.partitionBy("__g")
    med = (
        cal.select(
            "__g",
            "__y",
            F.row_number().over(wv).alias("__rn"),
            F.count(F.lit(1)).over(ng).alias("__n"),
        )
        .filter(F.col("__rn") == F.floor((F.col("__n") + 1) / 2))
        .select("__g", F.col("__y").alias("__pred"))
    )
    res = cal.join(med, "__g").select(
        "__g", "__pred", F.abs(F.col("__y") - F.col("__pred")).alias("__r")
    )
    wr = Window.partitionBy("__g").orderBy("__r")
    k = F.least(
        F.ceil((F.col("__n") + F.lit(1)) * F.lit(1.0 - alpha)), F.col("__n")
    )
    qhat = (
        res.select(
            "__g",
            "__pred",
            "__r",
            F.row_number().over(wr).alias("__rn"),
            F.count(F.lit(1)).over(ng).alias("__n"),
        )
        .filter(F.col("__rn") == k)
        .select(
            "__g",
            "__pred",
            F.col("__r").alias("__qhat"),
            F.col("__n").alias("__ncal"),
        )
    )
    test = base.filter(~F.col("__cal"))
    joined = test.join(qhat, "__g", "right")
    covered = (
        F.abs(F.col("__y") - F.col("__pred")) <= F.col("__qhat")
    ).cast("int")
    agg = joined.groupBy("__g").agg(
        F.max("__ncal").cast("long").alias("n_cal"),
        F.count("__y").cast("long").alias("n_test"),
        F.max("__pred").alias("pred"),
        F.max("__qhat").alias("qhat"),
        F.sum(covered).alias("__nc"),
    )
    return agg.select(
        F.col("__g").alias(group_col),
        "n_cal",
        "n_test",
        "pred",
        "qhat",
        F.round(
            F.col("__nc")
            / F.nullif(F.col("n_test").cast("double"), F.lit(0.0)),
            6,
        ).alias("coverage"),
    )


def cuped_adjusted_lift(
    df: DataFrame,
    unit_col: str,
    metric_expr,
    covariate_expr,
    is_post,
    salt: str = "exp1",
) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al., WSDM 2013) —
    the standard way to make an experiment sensitive without more
    traffic: adjust each unit's metric by its PRE-period covariate,
    y' = y − θ(x − x̄), θ = cov(x,y)/var(x); the adjusted treatment
    effect keeps the same expectation (randomization makes x arm-
    independent) but its variance shrinks by the x-y correlation ρ².
    Reported: raw and adjusted mean difference, θ, and ρ² (the realized
    variance-reduction fraction).

    Shape: one unit-keyed aggregate builds (x, y) per unit (the caller
    passes INTEGER-EXACT expressions — counts or floored sums — so
    every downstream moment is an exact BIGINT), arms come from the
    shared ``salted_hash64`` 50/50 split, and ONE conditional aggregate
    yields both arms' means plus the pooled moments θ needs; the
    closed-form identity diff_adj = (ȳ_B−ȳ_A) − θ(x̄_B−x̄_A) avoids any
    second per-unit pass. Degenerate covariates (zero variance) yield
    NULL θ/adjusted columns via the shared relative variance floor.

    Returns one row ``(n_a, n_b, theta, rho2, mean_y_a, mean_y_b,
    raw_diff, adj_diff)`` rounded to 6.
    """
    from weather_api_automate_etl_spark.functions.core import salted_hash64

    post = is_post.cast("boolean")
    per_unit = (
        df.groupBy(F.col(unit_col).alias("__u"))
        .agg(
            F.coalesce(
                F.sum(F.when(~post, covariate_expr)), F.lit(0)
            ).cast("long").alias("__x"),
            F.coalesce(
                F.sum(F.when(post, metric_expr)), F.lit(0)
            ).cast("long").alias("__y"),
        )
        .select(
            (salted_hash64(F.col("__u"), f"{salt}:") % 2).alias("__arm"),
            "__x",
            "__y",
        )
    )
    b = F.col("__arm") == 1
    m = per_unit.agg(
        F.count(F.when(~b, 1)).cast("long").alias("n_a"),
        F.count(F.when(b, 1)).cast("long").alias("n_b"),
        F.sum(F.when(~b, F.col("__y"))).cast("long").alias("__ya"),
        F.sum(F.when(b, F.col("__y"))).cast("long").alias("__yb"),
        F.sum(F.when(~b, F.col("__x"))).cast("long").alias("__xa"),
        F.sum(F.when(b, F.col("__x"))).cast("long").alias("__xb"),
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__x").cast("long").alias("__sx"),
        F.sum("__y").cast("long").alias("__sy"),
        # second-order moments accumulate as decimal(38,0): a long×long
        # product summed in int64 wraps silently near 9.2e18 — reachable
        # with per-unit counts at 100 TB row counts (the roc_auc/youden
        # concordance discipline, round-9 advice)
        F.sum(
            F.col("__x").cast("decimal(38,0)") * F.col("__y")
        ).alias("__sxy"),
        F.sum(
            F.col("__x").cast("decimal(38,0)") * F.col("__x")
        ).alias("__sxx"),
        F.sum(
            F.col("__y").cast("decimal(38,0)") * F.col("__y")
        ).alias("__syy"),
    )
    n = F.col("__n").cast("double")
    sx, sy = F.col("__sx").cast("double"), F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx, syy = F.col("__sxx").cast("double"), F.col("__syy").cast("double")
    cov_n = n * sxy - sx * sy
    var_x = guarded_var(n * sxx - sx * sx, n, sxx)
    var_y = guarded_var(n * syy - sy * sy, n, syy)
    theta = cov_n / var_x
    rho2 = (cov_n * cov_n) / (var_x * var_y)
    mean_y_a = F.col("__ya") / F.col("n_a").cast("double")
    mean_y_b = F.col("__yb") / F.col("n_b").cast("double")
    mean_x_a = F.col("__xa") / F.col("n_a").cast("double")
    mean_x_b = F.col("__xb") / F.col("n_b").cast("double")
    raw = mean_y_b - mean_y_a
    adj = raw - theta * (mean_x_b - mean_x_a)
    return m.select(
        "n_a",
        "n_b",
        F.round(theta, 6).alias("theta"),
        F.round(rho2, 6).alias("rho2"),
        F.round(mean_y_a, 6).alias("mean_y_a"),
        F.round(mean_y_b, 6).alias("mean_y_b"),
        F.round(raw, 6).alias("raw_diff"),
        F.round(adj, 6).alias("adj_diff"),
    )


def median_ci(
    df: DataFrame,
    group_col: str,
    value_col: str,
    z: float = 1.96,
) -> DataFrame:
    """Distribution-free confidence interval for the median via order
    statistics (the sign-test inversion, normal-approximated ranks:
    l = ⌊n/2 − z√n/2⌋, u = ⌈n/2 + 1 + z√n/2⌉, clamped to [1, n]) —
    the lightweight exact-rank complement to ``poisson_bootstrap_ci``:
    no replicates, no row expansion, one window pass; the interval
    endpoints are ACTUAL data values selected by rank, so the whole
    row is bit-reproducible on any engine (the conformal_calibration
    discipline).

    Shape: one group-partitioned rank window folded into the same-keyed
    aggregate — scan-rate, nothing global. Returns one row per group
    ``(group, n, median, ci_lo, ci_hi)`` (lower median at rank
    ⌊(n+1)/2⌋; singleton groups collapse to median = lo = hi).
    """
    if z <= 0:
        raise ValueError(f"z must be > 0, got {z}")
    v = F.col(value_col).cast("double")
    base = df.select(F.col(group_col).alias("__g"), v.alias("__v"))
    w = Window.partitionBy("__g").orderBy("__v")
    ng = Window.partitionBy("__g")
    ranked = base.select(
        "__g",
        "__v",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(ng).alias("__n"),
    )
    n = F.col("__n").cast("double")
    half_width = F.lit(float(z)) * F.sqrt(n) / F.lit(2.0)
    lo_rank = F.greatest(
        F.floor(n / 2 - half_width).cast("long"), F.lit(1).cast("long")
    )
    hi_rank = F.least(
        F.ceil(n / 2 + 1 + half_width).cast("long"), F.col("__n")
    )
    med_rank = F.floor((F.col("__n") + 1) / 2).cast("long")
    agg = ranked.groupBy("__g").agg(
        F.max("__n").cast("long").alias("n"),
        F.max(F.when(F.col("__rn") == med_rank, F.col("__v"))).alias(
            "median"
        ),
        F.max(F.when(F.col("__rn") == lo_rank, F.col("__v"))).alias(
            "ci_lo"
        ),
        F.max(F.when(F.col("__rn") == hi_rank, F.col("__v"))).alias(
            "ci_hi"
        ),
    )
    return agg.select(
        F.col("__g").alias(group_col), "n", "median", "ci_lo", "ci_hi"
    )


def mcnemar_test(
    df: DataFrame,
    label_col,
    pred_a,
    pred_b,
) -> DataFrame:
    """McNemar's test for comparing two classifiers on PAIRED
    predictions (the right test when both models score the same rows —
    ab_test_welch's independent-samples assumption is wrong there):
    only the discordant cells matter, b = A-correct/B-wrong,
    c = A-wrong/B-correct, χ² = (b−c)²/(b+c) with 1 dof
    (continuity-uncorrected; the CC variant is a one-line caller
    change). All four contingency cells are exact BIGINTs from ONE
    conditional aggregate over one scan — map-side combined, 1-row
    output, nothing shuffles but four counters. b + c = 0 (identical
    error patterns) yields NULL χ², the documented degenerate case.

    Returns one row ``(n, both_correct, both_wrong, a_only_correct,
    b_only_correct, chi2)`` with χ² rounded to 6.
    """
    y = as_col(label_col).cast("boolean")
    a_ok = (as_col(pred_a).cast("boolean") == y).cast("int")
    b_ok = (as_col(pred_b).cast("boolean") == y).cast("int")
    m = df.select(a_ok.alias("__a"), b_ok.alias("__b")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("__a") * F.col("__b")).cast("long").alias("both_correct"),
        F.sum((1 - F.col("__a")) * (1 - F.col("__b")))
        .cast("long")
        .alias("both_wrong"),
        F.sum(F.col("__a") * (1 - F.col("__b")))
        .cast("long")
        .alias("a_only_correct"),
        F.sum((1 - F.col("__a")) * F.col("__b"))
        .cast("long")
        .alias("b_only_correct"),
    )
    b_, c_ = F.col("a_only_correct"), F.col("b_only_correct")
    chi2 = ((b_ - c_) * (b_ - c_)).cast("double") / F.nullif(
        (b_ + c_).cast("double"), F.lit(0.0)
    )
    return m.select(
        "n",
        "both_correct",
        "both_wrong",
        "a_only_correct",
        "b_only_correct",
        F.round(chi2, 6).alias("chi2"),
    )


def cohens_kappa(
    df: DataFrame,
    rater_a,
    rater_b,
) -> DataFrame:
    """Cohen's κ for inter-rater agreement on binary verdicts (the
    labeling-QA readout before trusting human or model annotations:
    raw agreement overstates consensus when the base rate is skewed;
    κ = (p_o − p_e)/(1 − p_e) discounts chance agreement). The four
    cells are exact BIGINTs from ONE conditional aggregate; p_o and
    p_e are the only divisions. p_e = 1 (both raters constant) yields
    NULL κ — chance-corrected agreement is undefined there, reported
    honestly. Returns one row ``(n, n11, n00, n10, n01, p_o, p_e,
    kappa)`` rounded to 6.
    """
    a = as_col(rater_a).cast("boolean").cast("int")
    b = as_col(rater_b).cast("boolean").cast("int")
    m = df.select(a.alias("__a"), b.alias("__b")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("__a") * F.col("__b")).cast("long").alias("n11"),
        F.sum((1 - F.col("__a")) * (1 - F.col("__b")))
        .cast("long")
        .alias("n00"),
        F.sum(F.col("__a") * (1 - F.col("__b"))).cast("long").alias("n10"),
        F.sum((1 - F.col("__a")) * F.col("__b")).cast("long").alias("n01"),
    )
    n = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")).cast("double") / n
    pa1 = (F.col("n11") + F.col("n10")).cast("double") / n
    pb1 = (F.col("n11") + F.col("n01")).cast("double") / n
    pe = pa1 * pb1 + (F.lit(1.0) - pa1) * (F.lit(1.0) - pb1)
    kappa = (po - pe) / F.nullif(F.lit(1.0) - pe, F.lit(0.0))
    return m.select(
        "n",
        "n11",
        "n00",
        "n10",
        "n01",
        F.round(po, 6).alias("p_o"),
        F.round(pe, 6).alias("p_e"),
        F.round(kappa, 6).alias("kappa"),
    )


def youden_optimal_cutoff(
    df: DataFrame,
    score_col,
    label_col,
) -> DataFrame:
    """Optimal classification threshold by Youden's J = TPR − FPR (the
    ROC point farthest above the diagonal) — the operating-point
    SELECTION step after ``roc_auc`` measures discrimination and
    ``pr_threshold_sweep`` tabulates a fixed grid: this scans EVERY
    distinct score as a candidate cutoff (predict positive ⇔
    score ≥ s) and returns the maximizer.

    Same distinct-score-domain shape as ``roc_auc``: one score-keyed
    aggregate, one running-sum window over the (bounded, caller-
    quantized) score domain giving pos/neg at-or-above each score via
    total − below, then a deterministic argmax (ties on J break toward
    the LOWEST threshold — the more sensitive operating point — then
    exact rational comparison, never float J). TPR/FPR are exact count
    ratios rounded at the edge. Degenerate single-class inputs return
    an empty frame (no cutoff is meaningful).

    Returns ONE row ``(threshold, n_pos, n_neg, tp, fp, tpr, fpr,
    youden_j)``. NULL scores/labels are dropped up front
    (``score_label``); the argmax key accumulates as decimal(38,0)
    since tp·N − fp·P wraps int64 past P·N ≈ 4.6e18 (round-9 advice).
    """
    per = (
        score_label(df, score_col, label_col)
        .groupBy("__s")
        .agg(
            F.sum("__y").cast("long").alias("__pos"),
            F.sum(F.lit(1) - F.col("__y")).cast("long").alias("__neg"),
        )
    )
    w = Window.orderBy("__s").rowsBetween(Window.unboundedPreceding, -1)
    tw = Window.partitionBy()
    cum = per.select(
        "__s",
        F.coalesce(F.sum("__pos").over(w), F.lit(0)).alias("__pos_below"),
        F.coalesce(F.sum("__neg").over(w), F.lit(0)).alias("__neg_below"),
        F.sum("__pos").over(tw).alias("__P"),
        F.sum("__neg").over(tw).alias("__N"),
    ).filter((F.col("__P") > 0) & (F.col("__N") > 0))
    tp = F.col("__P") - F.col("__pos_below")
    fp = F.col("__N") - F.col("__neg_below")
    # J = tp/P - fp/N maximized via the exact integer cross-multiple
    # tp*N - fp*P: float division can't reorder candidates, and the
    # (J desc, threshold asc) argmax is a 1-row TakeOrdered, no window.
    scored = cum.select(
        F.col("__s").alias("threshold"),
        F.col("__P").alias("n_pos"),
        F.col("__N").alias("n_neg"),
        tp.alias("tp"),
        fp.alias("fp"),
        (
            tp.cast("decimal(38,0)") * F.col("__N")
            - fp.cast("decimal(38,0)") * F.col("__P")
        ).alias("__jnum"),
    )
    best = scored.orderBy(
        F.col("__jnum").desc(), F.col("threshold").asc()
    ).limit(1)
    return best.select(
        "threshold",
        "n_pos",
        "n_neg",
        "tp",
        "fp",
        F.round(F.col("tp") / F.col("n_pos").cast("double"), 6).alias("tpr"),
        F.round(F.col("fp") / F.col("n_neg").cast("double"), 6).alias("fpr"),
        F.round(
            F.col("tp") / F.col("n_pos").cast("double")
            - F.col("fp") / F.col("n_neg").cast("double"),
            6,
        ).alias("youden_j"),
    )


def gains_table(
    df: DataFrame,
    score_col,
    label_col,
    n_buckets: int = 10,
    order_cols: Sequence[str] = (),
    boundaries: str = "exact",
) -> DataFrame:
    """Decile gains/lift table — the campaign-targeting readout (send to
    the top k% by score; how many responders does that capture?):
    rank by score DESCENDING into equal-count buckets, then per bucket
    the response rate, lift vs the base rate, and the cumulative gain
    (fraction of ALL responders captured by buckets 1..b).

    Binning modes — the ``calibration_bins`` pair, see its docstring:
    ``boundaries="exact"`` (default) is the global-ntile oracle-parity
    twin (ties broken by ``order_cols``, single global sort — test
    scale only); ``boundaries="approx"`` is the 100 TB plan (one
    ``percentile_approx`` aggregate broadcast back, map-side bucket
    assign, bucket 1 = top scores, no global sort). Everything after is
    a bucket-keyed aggregate plus window sums over the n_buckets-row
    result. Counts exact; rates/lift/gain rounded to 6 (NULL lift when
    no responders at all). Returns one row per bucket ``(bucket, n,
    responders, response_rate, lift, cum_gain)``. NB: in approx mode a
    heavily-tied score distribution can yield duplicate edges and thus
    FEWER than n_buckets rows with skipped bucket numbers (cum_gain
    still correct per emitted row) — don't assume a dense census.
    """
    if n_buckets < 2:
        raise ValueError(f"gains_table needs n_buckets >= 2, got {n_buckets}")
    if boundaries not in ("exact", "approx"):
        raise ValueError(f"boundaries must be exact|approx, got {boundaries!r}")
    s = as_col(score_col).cast("double")
    # NULL scores/labels drop up front — same boundary-shift hazard as
    # calibration_bins (Spark NULLS FIRST vs DuckDB NULLS LAST).
    # The projection ALIASES the score: the window/bucket expressions
    # below reference it after the source columns are dropped.
    sel = df.select(
        s.alias("__s"),
        as_col(label_col).cast("int").alias("__y"),
        *order_cols,
    ).filter(F.col("__s").isNotNull() & F.col("__y").isNotNull())
    if boundaries == "approx":
        edges = sel.agg(
            F.percentile_approx(
                "__s", [i / n_buckets for i in range(1, n_buckets)]
            ).alias("_edges")
        )
        # ascending edges, descending buckets: a score above all k−1
        # edges lands in bucket 1 (the top-score decile)
        binned = sel.crossJoin(F.broadcast(edges)).withColumn(
            "bucket",
            (
                F.lit(n_buckets)
                - F.size(F.filter("_edges", lambda b: b < F.col("__s")))
            ).cast("int"),
        )
    else:
        w = Window.orderBy(
            F.col("__s").desc(), *[F.col(c) for c in order_cols]
        )
        binned = sel.withColumn("bucket", F.ntile(n_buckets).over(w))
    agg = binned.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__y").cast("long").alias("responders"),
    )
    tw = Window.partitionBy()
    cw = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total_resp = F.sum("responders").over(tw)
    total_n = F.sum("n").over(tw)
    rate = F.col("responders") / F.col("n").cast("double")
    base = total_resp.cast("double") / total_n.cast("double")
    return agg.select(
        "bucket",
        "n",
        "responders",
        F.round(rate, 6).alias("response_rate"),
        F.round(
            rate / F.nullif(base, F.lit(0.0)), 6
        ).alias("lift"),
        F.round(
            F.sum("responders").over(cw)
            / F.nullif(total_resp.cast("double"), F.lit(0.0)),
            6,
        ).alias("cum_gain"),
    )


def group_percentiles_exact(
    df: DataFrame,
    group_col,
    value_col,
    quantiles: Sequence[float] = (0.5, 0.95),
) -> DataFrame:
    """Exact nearest-rank percentiles per group (the p50/p95/p99 ops
    readout): quantile q picks the value at rank ⌈q·n⌉ (clamped ≥ 1) —
    an ACTUAL data value, no interpolation, so the whole row is
    bit-reproducible on any engine (the same discipline as median_ci /
    conformal_calibration, vs the interpolating ``weighted_quantiles``).

    One group-partitioned rank window folded into the same-keyed
    aggregate; per-group state is the sort, nothing global. Returns one
    row per group ``(group, n, p_<q> ...)`` with one column per
    requested quantile (e.g. p_50, p_95).
    """
    if not quantiles:
        raise ValueError("group_percentiles_exact needs >= 1 quantile")
    for q in quantiles:
        if not (0.0 < q <= 1.0):
            raise ValueError(f"quantiles must be in (0, 1], got {q}")
    g = as_col(group_col)
    v = as_col(value_col).cast("double")
    base = df.select(g.alias("__g"), v.alias("__v"))
    w = Window.partitionBy("__g").orderBy("__v")
    ng = Window.partitionBy("__g")
    ranked = base.select(
        "__g",
        "__v",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(ng).alias("__n"),
    )
    aggs = [F.max("__n").cast("long").alias("n")]
    for q in quantiles:
        rank = F.greatest(
            F.ceil(F.col("__n") * F.lit(float(q))).cast("long"),
            F.lit(1).cast("long"),
        )
        col_name = "p_" + str(round(q * 100, 4)).rstrip("0").rstrip(
            "."
        ).replace(".", "_")
        aggs.append(
            F.max(F.when(F.col("__rn") == rank, F.col("__v"))).alias(
                col_name
            )
        )
    out_group = (
        group_col if isinstance(group_col, str) else "group"
    )
    return ranked.groupBy("__g").agg(*aggs).withColumnRenamed(
        "__g", out_group
    )


def time_to_convert(
    df: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    from_type: str,
    to_type: str,
) -> DataFrame:
    """Funnel TIMING readout (q_funnel counts stage reach; this measures
    how long conversion takes): per user, the first ``from_type`` and
    first ``to_type`` timestamps; a user converts iff the destination
    follows the origin. Reports the conversion rate plus the median and
    p90 of the conversion delay.

    The delay percentiles are order statistics over the DISTINCT
    second-quantized delay domain (group the converted users' ⌊Δs⌋,
    one running-count window over distinct delays, pick the first value
    whose cumulative count crosses ⌈q·n⌉) — the mann_whitney_u
    dispensation, so no per-row global rank exists even with billions
    of converters. All inputs exact (epoch-micro diffs, integer
    counts); only the rate divides. Returns one row ``(n_from,
    n_converted, conv_rate, median_delay_s, p90_delay_s)`` — NULL
    delays when nobody converts.
    """
    ts = F.col(ts_col).cast("timestamp")
    per_user = df.groupBy(F.col(user_col).alias("__u")).agg(
        F.min(F.when(F.col(type_col) == from_type, ts)).alias("__fv"),
        F.min(F.when(F.col(type_col) == to_type, ts)).alias("__fp"),
    )
    delays = per_user.filter(
        F.col("__fv").isNotNull()
        & F.col("__fp").isNotNull()
        & (F.col("__fp") > F.col("__fv"))
    ).select(
        F.floor(
            (
                F.unix_micros(F.col("__fp")) - F.unix_micros(F.col("__fv"))
            ).cast("double")
            / F.lit(1_000_000.0)
        )
        .cast("long")
        .alias("__ds")
    )
    g = delays.groupBy("__ds").agg(F.count(F.lit(1)).alias("__c"))
    w = Window.orderBy("__ds").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tw = Window.partitionBy()
    cum = g.select(
        "__ds",
        F.sum("__c").over(w).alias("__cc"),
        F.sum("__c").over(tw).alias("__n"),
    )
    med = F.min(
        F.when(
            F.col("__cc") >= F.ceil(F.col("__n") * F.lit(0.5)),
            F.col("__ds"),
        )
    )
    p90 = F.min(
        F.when(
            F.col("__cc") >= F.ceil(F.col("__n") * F.lit(0.9)),
            F.col("__ds"),
        )
    )
    qs = cum.agg(
        F.max("__n").cast("long").alias("__nconv"),
        med.alias("median_delay_s"),
        p90.alias("p90_delay_s"),
    )
    counts = per_user.agg(
        F.count("__fv").cast("long").alias("n_from")
    )
    return counts.crossJoin(F.broadcast(qs)).select(
        "n_from",
        F.coalesce(F.col("__nconv"), F.lit(0)).cast("long").alias(
            "n_converted"
        ),
        F.round(
            F.coalesce(F.col("__nconv"), F.lit(0))
            / F.nullif(F.col("n_from").cast("double"), F.lit(0.0)),
            6,
        ).alias("conv_rate"),
        "median_delay_s",
        "p90_delay_s",
    )


def minimum_detectable_effect(
    df: DataFrame,
    unit_col: str,
    value_col: str,
    salt: str = "exp1",
    z_alpha: float = 1.959964,
    z_beta: float = 0.841621,
) -> DataFrame:
    """Post-hoc minimum detectable effect — the experiment-DESIGN
    companion to ``ab_test_welch``'s readout: given the arms this hash
    split actually produced, the smallest absolute (and relative) mean
    difference the test could detect at α = 5% two-sided / 80% power:

        MDE = (z_{α/2} + z_β) · √(s²_A/n_A + s²_B/n_B).

    "Your experiment can only see lifts above X" is the sanity check
    that stops teams shipping underpowered tests. Same ONE conditional
    aggregate as ab_test_welch (map-side combined, 1-row output), same
    rounded-moment discipline so the statistic derives from hash-stable
    inputs. Degenerate arms (empty, or zero variance in both) yield
    NULL. Returns ``(n_a, n_b, mean_a, sd_a, sd_b, mde_abs, mde_rel)``
    rounded to 6.
    """
    from weather_api_automate_etl_spark.functions.core import salted_hash64

    arm = salted_hash64(F.col(unit_col), f"{salt}:") % 2
    v = F.col(value_col)
    m = df.select(arm.alias("__arm"), v.alias("__v")).agg(
        F.count(F.when(F.col("__arm") == 0, F.col("__v")))
        .cast("long")
        .alias("n_a"),
        F.count(F.when(F.col("__arm") == 1, F.col("__v")))
        .cast("long")
        .alias("n_b"),
        F.round(
            F.avg(F.when(F.col("__arm") == 0, F.col("__v"))), 6
        ).alias("mean_a"),
        F.round(
            F.stddev_samp(F.when(F.col("__arm") == 0, F.col("__v"))), 6
        ).alias("sd_a"),
        F.round(
            F.stddev_samp(F.when(F.col("__arm") == 1, F.col("__v"))), 6
        ).alias("sd_b"),
    )
    se = F.sqrt(
        F.col("sd_a") * F.col("sd_a") / F.col("n_a")
        + F.col("sd_b") * F.col("sd_b") / F.col("n_b")
    )
    mde = F.lit(float(z_alpha) + float(z_beta)) * se
    return m.select(
        "n_a",
        "n_b",
        "mean_a",
        "sd_a",
        "sd_b",
        F.round(F.when(se > 0, mde), 6).alias("mde_abs"),
        F.round(
            F.when(se > 0, mde)
            / F.nullif(F.col("mean_a"), F.lit(0.0)),
            6,
        ).alias("mde_rel"),
    )
