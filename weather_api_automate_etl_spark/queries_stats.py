"""Statistical-test and estimation queries: rank tests (Mann-Whitney,
Wilcoxon, Kruskal-Wallis, McNemar), correlation, bootstrap and median
confidence intervals, survival curves and log-rank, regression and
trend estimators, ANOVA and t-tests, multiple-testing control, sample
ratio and power checks, classifier evaluation (ROC, PR, calibration,
Brier, gains, Youden), CUPED and conformal intervals.

Registry and oracle conventions: queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.functions.core import pg_dow, pg_hour
from weather_api_automate_etl_spark.queries import query, t


@query(
    "q_mann_whitney",
    oracle="""
    WITH x AS (
      SELECT value AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    vals AS (
      SELECT v, COUNT(*) AS cnt, SUM(is_a) AS cnt_a FROM x GROUP BY v
    ),
    ranked AS (
      SELECT cnt, cnt_a,
             COALESCE(SUM(cnt) OVER (
               ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cum_before
      FROM vals
    ),
    agg AS (
      SELECT SUM(cnt_a * (cum_before + (cnt + 1) / 2.0)) AS r1,
             CAST(SUM(cnt_a) AS DOUBLE) AS n1,
             CAST(SUM(cnt) AS DOUBLE) AS n,
             SUM(CAST(cnt AS DOUBLE) * cnt * cnt - cnt) AS tie_term
      FROM ranked
    )
    SELECT CAST(n1 AS BIGINT) AS n1,
           CAST(n - n1 AS BIGINT) AS n2,
           r1 - n1 * (n1 + 1) / 2.0 AS u1,
           ROUND((r1 - n1 * (n1 + 1) / 2.0 - n1 * (n - n1) / 2.0)
                 / sqrt((n1 * (n - n1) / 12.0)
                        * ((n + 1) - tie_term / (n * (n - 1.0)))), 6)
             AS z_score
    FROM agg
    """,
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U / Wilcoxon rank-sum (operators/stats.py::
    mann_whitney_u): click vs purchase event values compared
    nonparametrically — average-rank ties, tie-corrected normal
    approximation. Ranks come from the DISTINCT-VALUE domain (one
    value-keyed aggregate + one running-sum window over distinct
    values), never a per-row global rank, so the sort the test needs is
    value-domain-sized. U₁ is exact double arithmetic (halves of
    integers) and hashes unrounded; z rounds to 6."""
    from weather_api_automate_etl_spark.operators.stats import mann_whitney_u

    return mann_whitney_u(
        t(spark, sf_dir, "events"), "value", "event_type", "click", "purchase"
    )


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


@query("q_bootstrap_ci", oracle=_BOOTSTRAP_ORACLE)
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


@query(
    "q_item_cf",
    oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS it
               FROM lineitem),
    m AS (SELECT it, COUNT(*) AS c FROM b GROUP BY it),
    p AS (
      SELECT a.it AS p1, bb.it AS p2, COUNT(*) AS c_both
      FROM b a JOIN b bb ON a.ok = bb.ok AND a.it < bb.it
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    sym AS (
      SELECT p1, p2, c_both FROM p
      UNION ALL SELECT p2, p1, c_both FROM p
    ),
    scored AS (
      SELECT sym.p1 AS item, sym.p2 AS neighbor,
             CAST(c_both AS BIGINT) AS c_both,
             ROUND(c_both / sqrt(CAST(m1.c AS DOUBLE) * m2.c), 6) AS cosine
      FROM sym JOIN m m1 ON m1.it = sym.p1 JOIN m m2 ON m2.it = sym.p2
    )
    SELECT item, neighbor, c_both, cosine, CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY item ORDER BY cosine DESC, neighbor) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def q_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-to-item collaborative filtering over order baskets
    (operators/stats.py::item_item_cosine, top-5 neighbors, support≥2):
    cosine of basket-incidence vectors straight from co-occurrence
    counts — basket-keyed self-join (quadratic only in basket size),
    item-keyed marginals, WindowGroupLimit top-k."""
    from weather_api_automate_etl_spark.operators import stats

    return stats.item_item_cosine(
        t(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey",
        top_k=5, min_support=2,
    )


@query(
    "q_calibration_ece",
    oracle="""
    WITH s AS (
      SELECT 1.0 / (1.0 + exp(-(value - 50.0) / 25.0)) AS _s,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS _y,
             event_id
      FROM events
    ),
    binned AS (
      SELECT _s, _y, ntile(10) OVER (ORDER BY _s, event_id) AS bin FROM s
    ),
    agg AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
             AVG(_s) AS conf_u, AVG(CAST(_y AS DOUBLE)) AS acc_u
      FROM binned GROUP BY bin
    ),
    tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS nn FROM agg),
    e AS (
      SELECT SUM(abs(acc_u - conf_u) * n / nn) AS ece_u FROM agg, tot
    )
    SELECT bin, n,
           ROUND(conf_u, 6) AS conf, ROUND(acc_u, 6) AS acc,
           ROUND(abs(acc_u - conf_u), 6) AS gap,
           ROUND(ece_u, 6) AS ece
    FROM agg, e
    """,
)
def q_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + ECE (operators/stats.py::calibration_bins,
    10 equal-count bins): a logistic pseudo-probability of the event
    value is audited against the observed purchase rate per bin, with
    the expected calibration error riding every row — the standard
    is-the-score-a-probability screen before scores gate anything.
    Runs the EXACT global-ntile mode for bit-for-bit oracle parity; the
    100 TB plan is ``boundaries="approx"`` (percentile_approx edges,
    map-side binning, zero global sorts — plan-pinned in
    tests/test_scale_plans.py::test_global_rank_scale_twins)."""
    from weather_api_automate_etl_spark.operators import stats

    ev = t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        (
            F.lit(1.0)
            / (F.lit(1.0) + F.exp(-(F.col("value") - 50.0) / 25.0))
        ).alias("score"),
    )
    return stats.calibration_bins(
        ev, "score", F.col("event_type") == "purchase",
        n_bins=10, order_cols=["event_id"],
    )


@query(
    "q_kaplan_meier",
    oracle="""
    WITH base AS (
      SELECT event_type AS g, CAST(floor(value) AS BIGINT) AS t,
             CASE WHEN event_id % 4 != 0 THEN 1 ELSE 0 END AS obs
      FROM events
    ),
    grain AS (
      SELECT g, t, SUM(obs) AS d, SUM(1 - obs) AS cen
      FROM base GROUP BY g, t
    ),
    at_risk AS (
      SELECT *, SUM(d + cen) OVER (
        PARTITION BY g ORDER BY t DESC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n
      FROM grain
    ),
    stepped AS (
      SELECT *,
             SUM(CASE WHEN d > 0 THEN ln(CASE WHEN 1.0 - d / CAST(n AS DOUBLE) > 0
                                              THEN 1.0 - d / CAST(n AS DOUBLE) END)
                      ELSE 0.0 END) OVER (
               PARTITION BY g ORDER BY t ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnsum,
             MAX(CASE WHEN d = n THEN 1 ELSE 0 END) OVER (
               PARTITION BY g ORDER BY t ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
      FROM at_risk
    )
    SELECT g AS event_type, t,
           CAST(n AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS n_events,
           CAST(cen AS BIGINT) AS n_censored,
           ROUND(CASE WHEN dead = 1 THEN 0.0 ELSE exp(lnsum) END, 6)
             AS survival
    FROM stepped WHERE d > 0
    """,
)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curves per event type (operators/stats.py::
    kaplan_meier): duration = floor(value), events with id % 4 == 0
    right-censored — the censoring-aware retention readout. Risk sets
    via one reverse cumulative window, the product in log space with an
    explicit zero-factor flag (engine-safe where ln(0) is not)."""
    from weather_api_automate_etl_spark.operators import stats

    ev = t(spark, sf_dir, "events").select(
        "event_type",
        F.floor("value").cast("long").alias("dur"),
        (F.col("event_id") % 4 != 0).alias("obs"),
    )
    return stats.kaplan_meier(ev, "event_type", "dur", F.col("obs"))


@query(
    "q_benford",
    oracle="""
    WITH counts AS (
      SELECT o_orderpriority AS g,
             CAST(floor(o_totalprice
                        / power(10.0, floor(log10(o_totalprice))))
                  AS INTEGER) AS digit,
             COUNT(*) AS n
      FROM orders WHERE o_totalprice > 0
      GROUP BY 1, 2
    ),
    w AS (
      SELECT *, CAST(SUM(n) OVER (PARTITION BY g) AS DOUBLE) AS tot
      FROM counts
    ),
    scored AS (
      SELECT g, digit, n, tot,
             n / tot AS obs,
             log10(1.0 + 1.0 / digit) AS ben
      FROM w
    )
    SELECT g AS o_orderpriority, digit, CAST(n AS BIGINT) AS n,
           ROUND(obs, 6) AS observed_p,
           ROUND(ben, 6) AS benford_p,
           ROUND(SUM(power(obs - ben, 2) / ben) OVER (PARTITION BY g)
                 * tot, 6) AS chi_square
    FROM scored
    """,
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit audit of order totals against Benford's
    law, per priority (operators/stats.py::benford_deviation): observed
    vs expected digit shares plus the group chi-square riding every row
    — the fabricated-numbers screen. Digit extraction is pure codegen
    arithmetic; one (group, digit) aggregate, scan-rate at any size."""
    from weather_api_automate_etl_spark.operators import stats

    return stats.benford_deviation(
        t(spark, sf_dir, "orders"), "o_orderpriority", "o_totalprice"
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


_WILCOXON_ORACLE = """
    WITH pairs AS (
      SELECT c.c_mktsegment AS seg,
             SUM(CASE WHEN year(o_orderdate) % 2 = 0 THEN 1 ELSE 0 END)
               AS x,
             SUM(CASE WHEN year(o_orderdate) % 2 = 1 THEN 1 ELSE 0 END)
               AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment, o.o_custkey
    ),
    d AS (
      SELECT seg, CAST(x - y AS DOUBLE) AS d FROM pairs WHERE x != y
    ),
    ranked AS (
      SELECT seg, d,
             rank() OVER (PARTITION BY seg ORDER BY abs(d))
               + (COUNT(*) OVER (PARTITION BY seg, abs(d)) - 1) / 2.0
               AS r,
             CAST(COUNT(*) OVER (PARTITION BY seg, abs(d)) AS DOUBLE) AS t
      FROM d
    ),
    agg AS (
      SELECT seg, CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(CASE WHEN d > 0 THEN r ELSE 0.0 END) AS w_plus,
             SUM(t * t - 1.0) AS tie
      FROM ranked GROUP BY seg
    )
    SELECT seg AS c_mktsegment, CAST(n AS BIGINT) AS n,
           ROUND(w_plus, 6) AS w_plus,
           ROUND((w_plus - n * (n + 1.0) / 4.0)
                 / (CASE WHEN n * (n + 1.0) * (2.0 * n + 1.0) / 24.0
                              - tie / 48.0 > 0
                         THEN sqrt(n * (n + 1.0) * (2.0 * n + 1.0) / 24.0
                                   - tie / 48.0) END), 6) AS z
    FROM agg
"""


@query("q_wilcoxon", oracle=_WILCOXON_ORACLE)
def q_wilcoxon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank per market segment (operators/stats.py::
    wilcoxon_signed_rank): did each customer's order count shift
    between even and odd years? Matched pairs are integer counts, so
    |d| ranks are engine-exact and the tie correction (runs of equal
    integer gaps are common) is genuinely exercised; zero differences
    drop per the standard treatment."""
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
    return stats.wilcoxon_signed_rank(pairs, "c_mktsegment", "x", "y")


@query(
    "q_weighted_quantile",
    oracle="""
    WITH byval AS (
      SELECT l_returnflag AS g, l_extendedprice AS v,
             CAST(SUM(l_quantity) AS DOUBLE) AS w
      FROM lineitem GROUP BY 1, 2
    ),
    cdf AS (
      SELECT g, v,
             SUM(w) OVER (PARTITION BY g ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cw,
             SUM(w) OVER (PARTITION BY g) AS tw
      FROM byval
    )
    SELECT g AS l_returnflag, CAST(q.q AS DOUBLE) AS q,
           MIN(v) AS quantile
    FROM cdf, (SELECT unnest([0.25, 0.5, 0.75, 0.9]) AS q) q
    WHERE tw > 0 AND cw >= q.q * tw
    GROUP BY g, CAST(q.q AS DOUBLE)
    """,
)
def q_weighted_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted price quantiles per return flag
    (operators/stats.py::weighted_quantiles, q ∈ {.25,.5,.75,.9}): each
    line counts its quantity times — the survey/importance-weighted
    form of q_percentiles. Left-continuous inverse CDF over the
    weight-pooled distinct values: exact, interpolation-free,
    engine-stable."""
    from weather_api_automate_etl_spark.operators import stats

    return stats.weighted_quantiles(
        t(spark, sf_dir, "lineitem"),
        "l_returnflag", "l_extendedprice", "l_quantity",
        qs=(0.25, 0.5, 0.75, 0.9),
    )


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


@query("q_logrank", oracle=_LOGRANK_ORACLE)
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


_RIDGE_ORACLE = """
    WITH m AS (
      SELECT l_returnflag AS g, COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(19,6))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(l_discount AS DECIMAL(19,6))) AS DOUBLE) AS s2,
             CAST(SUM(CAST(l_quantity AS DECIMAL(19,6))
                      * CAST(l_quantity AS DECIMAL(19,6))) AS DOUBLE) AS s11,
             CAST(SUM(CAST(l_quantity AS DECIMAL(19,6))
                      * CAST(l_discount AS DECIMAL(19,6))) AS DOUBLE) AS s12,
             CAST(SUM(CAST(l_discount AS DECIMAL(19,6))
                      * CAST(l_discount AS DECIMAL(19,6))) AS DOUBLE) AS s22,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE)
               AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(19,6))
                      * CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE)
               AS s1y,
             CAST(SUM(CAST(l_discount AS DECIMAL(19,6))
                      * CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE)
               AS s2y
      FROM lineitem GROUP BY l_returnflag
    ),
    solved AS (
      SELECT g, n,
             CAST(n AS DOUBLE) * ((s11 + 10.0) * (s22 + 10.0) - s12 * s12)
               - s1 * (s1 * (s22 + 10.0) - s12 * s2)
               + s2 * (s1 * s12 - (s11 + 10.0) * s2) AS det,
             sy * ((s11 + 10.0) * (s22 + 10.0) - s12 * s12)
               - s1 * (s1y * (s22 + 10.0) - s12 * s2y)
               + s2 * (s1y * s12 - (s11 + 10.0) * s2y) AS det0,
             CAST(n AS DOUBLE) * (s1y * (s22 + 10.0) - s12 * s2y)
               - sy * (s1 * (s22 + 10.0) - s12 * s2)
               + s2 * (s1 * s2y - s1y * s2) AS det1,
             CAST(n AS DOUBLE) * ((s11 + 10.0) * s2y - s1y * s12)
               - s1 * (s1 * s2y - s1y * s2)
               + sy * (s1 * s12 - (s11 + 10.0) * s2) AS det2
      FROM m
    )
    SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n_rows,
           ROUND(det0 / det, 6) AS b0,
           ROUND(det1 / det, 6) AS b1,
           ROUND(det2 / det, 6) AS b2
    FROM solved
"""


@query("q_ridge_normal_eq", oracle=_RIDGE_ORACLE)
def q_ridge_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge fit of extendedprice ~ quantity + discount per return flag
    (operators/stats.py::ridge_regression_2f, λ=10, intercept
    unpenalized): one map-side-combined aggregate builds the 3×3 Gram
    in exact decimal arithmetic, Cramer's rule solves it — no driver
    linear algebra, no iteration. The oracle replays the identical
    decimal sums and double Cramer expansion term for term."""
    from weather_api_automate_etl_spark.operators import stats

    return stats.ridge_regression_2f(
        t(spark, sf_dir, "lineitem"),
        "l_returnflag",
        "l_extendedprice",
        "l_quantity",
        "l_discount",
        lam=10.0,
    )


_MK_ORACLE = """
    WITH ser AS (
      SELECT event_type AS g, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS p,
             COUNT(*) AS y
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT a.g, CAST(SUM(sign(b.y - a.y)) AS BIGINT) AS s
      FROM ser a JOIN ser b ON a.g = b.g AND a.p < b.p
      GROUP BY a.g
    ),
    n AS (SELECT g, COUNT(*) AS n FROM ser GROUP BY g),
    ties AS (
      SELECT g, SUM(t * (t - 1) * (2 * t + 5)) AS tie
      FROM (SELECT g, y, COUNT(*) AS t FROM ser GROUP BY g, y)
      WHERE t > 1 GROUP BY g
    ),
    stat AS (
      SELECT n.g, n.n, s.s,
             (CAST(n.n AS DOUBLE) * (n.n - 1) * (2 * n.n + 5)
              - COALESCE(ties.tie, 0)) / 18.0 AS var_s
      FROM n JOIN s USING (g) LEFT JOIN ties USING (g)
    )
    SELECT g AS event_type, CAST(n AS BIGINT) AS n_periods, s,
           ROUND(var_s, 6) AS var_s,
           ROUND(CASE WHEN s = 0 THEN 0.0
                      ELSE (s - sign(CAST(s AS DOUBLE))) / sqrt(var_s) END, 6)
             AS z
    FROM stat
"""


@query("q_mann_kendall", oracle=_MK_ORACLE)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on daily event counts per event type
    (operators/stats.py::mann_kendall_trend): S sums pairwise order
    signs over the 30-day series, Var(S) carries the tie correction
    (integer counts collide often — the correction genuinely moves z),
    and the continuity-corrected z flags monotonic drift. The pairwise
    join is quadratic ONLY in periods per group (calendar-bounded),
    after a (group, day) pre-aggregate collapses raw events."""
    from weather_api_automate_etl_spark.operators import stats

    ev = t(spark, sf_dir, "events")
    return stats.mann_kendall_trend(
        ev.withColumn("day", F.to_date("ts")), "event_type", "day"
    )


_TS_ORACLE = """
    WITH ser AS (
      SELECT event_type AS g,
             date_diff('day', DATE '2024-01-01',
                       CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS p,
             COUNT(*) AS y
      FROM events GROUP BY 1, 2
    ),
    slopes AS (
      SELECT a.g,
             CAST(b.y - a.y AS DOUBLE) / CAST(b.p - a.p AS DOUBLE) AS v
      FROM ser a JOIN ser b ON a.g = b.g AND a.p < b.p
    ),
    sr AS (
      SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
             COUNT(*) OVER (PARTITION BY g) AS n
      FROM slopes
    ),
    slope AS (
      SELECT g, AVG(v) AS slope FROM sr
      WHERE rn = floor((n + 1) / 2) OR rn = floor(n / 2) + 1
      GROUP BY g
    ),
    resid AS (
      SELECT ser.g, CAST(y AS DOUBLE) - slope * p AS v
      FROM ser JOIN slope ON ser.g = slope.g
    ),
    rr AS (
      SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
             COUNT(*) OVER (PARTITION BY g) AS n
      FROM resid
    ),
    icept AS (
      SELECT g, AVG(v) AS intercept FROM rr
      WHERE rn = floor((n + 1) / 2) OR rn = floor(n / 2) + 1
      GROUP BY g
    ),
    np AS (SELECT g, COUNT(*) AS n_periods FROM ser GROUP BY g)
    SELECT np.g AS event_type, CAST(n_periods AS BIGINT) AS n_periods,
           ROUND(slope, 6) AS slope, ROUND(intercept, 6) AS intercept
    FROM np JOIN slope USING (g) JOIN icept USING (g)
"""


@query("q_theil_sen", oracle=_TS_ORACLE)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily event volume per event type
    (operators/stats.py::theil_sen_trend, day index = days since
    2024-01-01): median of the C(30,2) pairwise slopes, then median
    residual intercept — the line a one-day outage barely moves, where
    least squares would tilt. Both medians are exact distributed
    sort-window selections; the oracle replays rank arithmetic and tie
    handling verbatim."""
    from weather_api_automate_etl_spark.operators import stats

    ev = t(spark, sf_dir, "events")
    return stats.theil_sen_trend(
        ev,
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")),
    )


_ANOVA_ORACLE = """
    WITH per AS (
      SELECT l_returnflag AS g, COUNT(*) AS n,
             SUM(CAST(l_quantity AS BIGINT)) AS s,
             SUM(CAST(l_quantity AS BIGINT)
                 * CAST(l_quantity AS BIGINT)) AS q
      FROM lineitem GROUP BY 1
    ),
    packed AS (
      SELECT COUNT(*) AS k, SUM(n) AS n_tot, SUM(s) AS s_tot,
             SUM(q) AS q_tot,
             list_reduce(
               list(CAST(s * s AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY g),
               (a, b) -> a + b) AS tt
      FROM per
    ),
    assembled AS (
      SELECT k, n_tot,
             tt - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE)
                  / CAST(n_tot AS DOUBLE) AS ssb,
             CAST(q_tot AS DOUBLE) - tt AS ssw
      FROM packed
    )
    SELECT CAST(k AS INTEGER) AS k, CAST(n_tot AS BIGINT) AS n,
           ROUND(ssb, 6) AS ssb, ROUND(ssw, 6) AS ssw,
           ROUND(CASE WHEN k > 1 AND ssw > 0 AND n_tot > k
                      THEN (ssb / (k - 1)) / (ssw / (n_tot - k)) END, 6)
             AS f_stat
    FROM assembled
"""


@query("q_anova_oneway", oracle=_ANOVA_ORACLE)
def q_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA: does mean order quantity differ across return
    flags? (operators/stats.py::anova_oneway). n/Σy/Σy² per group are
    exact integers; the single cross-group float fold runs in sorted
    group order on both engines, so ssb/ssw/F hash exactly despite the
    classic S²-cancellation that breaks naive double aggregation."""
    from weather_api_automate_etl_spark.operators import stats

    return stats.anova_oneway(
        t(spark, sf_dir, "lineitem"), "l_returnflag", "l_quantity"
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


@query("q_paired_t", oracle=_PAIRED_T_ORACLE)
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


_STUMP_ORACLE = """
    WITH per AS (
      SELECT l_returnflag AS g, l_discount AS x, COUNT(*) AS n,
             SUM(CAST(l_quantity AS BIGINT)) AS s
      FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
      SELECT g, x,
             SUM(n) OVER (PARTITION BY g ORDER BY x
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS nl,
             SUM(s) OVER (PARTITION BY g ORDER BY x
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS sl,
             SUM(n) OVER (PARTITION BY g) AS nt,
             SUM(s) OVER (PARTITION BY g) AS st,
             MAX(x) OVER (PARTITION BY g) AS xmax
      FROM per
    ),
    scored AS (
      SELECT g, x, nl, sl, nt - nl AS nr, st - sl AS sr,
             CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE)
             + CAST(st - sl AS DOUBLE) * CAST(st - sl AS DOUBLE)
               / CAST(nt - nl AS DOUBLE) AS gain
      FROM cum WHERE x != xmax
    ),
    picked AS (
      SELECT *, row_number() OVER (PARTITION BY g
                                   ORDER BY gain DESC, x) AS rn
      FROM scored
    )
    SELECT g AS l_returnflag, x AS split_x,
           CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
           ROUND(CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE), 6) AS mean_left,
           ROUND(CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE), 6) AS mean_right,
           ROUND(gain, 6) AS gain
    FROM picked WHERE rn = 1
"""


@query("q_decision_stump", oracle=_STUMP_ORACLE)
def q_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best quantity-vs-discount split per return flag (operators/
    stats.py::decision_stump): the one-feature CART search. Candidates
    collapse to the 11 distinct discount values per group; gains are
    single float expressions over exact cumulative integer sums
    (S_L²/n_L + S_R²/n_R — SSE-equivalent without the cancelling Σy²),
    argmax tie-broken on the threshold. Window cardinality = distinct
    feature values, never raw rows."""
    from weather_api_automate_etl_spark.operators import stats

    return stats.decision_stump(
        t(spark, sf_dir, "lineitem"), "l_returnflag", "l_discount",
        "l_quantity",
    )


_ERF_P_SQL = """
    2.0 * (1.0 - (0.5 * (1.0 + (1.0 - (1.0 / (1.0 + 0.3275911 * (abs(z) / 1.4142135623730951)))
      * (0.254829592
         + (1.0 / (1.0 + 0.3275911 * (abs(z) / 1.4142135623730951)))
           * (-0.284496736
              + (1.0 / (1.0 + 0.3275911 * (abs(z) / 1.4142135623730951)))
                * (1.421413741
                   + (1.0 / (1.0 + 0.3275911 * (abs(z) / 1.4142135623730951)))
                     * (-1.453152027
                        + (1.0 / (1.0 + 0.3275911 * (abs(z) / 1.4142135623730951)))
                          * 1.061405429))))
      * exp(-(abs(z) / 1.4142135623730951) * (abs(z) / 1.4142135623730951))))))
"""

_BH_ORACLE = f"""
    WITH cust AS (
      SELECT c_nationkey AS k, CAST(c_acctbal AS DECIMAL(19,6)) AS b
      FROM customer
    ),
    per AS (
      SELECT k, COUNT(*) AS n, CAST(SUM(b) AS DOUBLE) AS s
      FROM cust GROUP BY k
    ),
    gl AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n, CAST(SUM(b) AS DOUBLE) AS s,
             CAST(SUM(b * b) AS DOUBLE) AS ss
      FROM cust
    ),
    zt AS (
      SELECT per.k,
             (per.s / per.n - gl.s / gl.n)
             / (sqrt((gl.ss - gl.s * gl.s / gl.n) / (gl.n - 1))
                / sqrt(CAST(per.n AS DOUBLE))) AS z
      FROM per, gl
    ),
    pt AS (SELECT k, {_ERF_P_SQL} AS p FROM zt),
    ranked AS (
      SELECT k, p, row_number() OVER (ORDER BY p, k) AS r,
             COUNT(*) OVER () AS m
      FROM pt
    ),
    cut AS (
      SELECT *, MAX(CASE WHEN p <= CAST(r AS DOUBLE) / m * 0.1
                         THEN r ELSE 0 END) OVER () AS kstar
      FROM ranked
    )
    SELECT k AS c_nationkey, ROUND(p, 6) AS p, CAST(r AS INTEGER) AS rank,
           ROUND(CAST(r AS DOUBLE) / m * 0.1, 6) AS threshold,
           r <= kstar AS significant
    FROM cut
"""


@query("q_bh_fdr", oracle=_BH_ORACLE)
def q_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg at q=0.1 over 25 per-nation "is this nation's
    mean account balance off the global mean?" z-tests (operators/
    stats.py::bh_fdr): the per-group screening fleet with its
    false-discovery rate actually controlled. z's assemble from exact
    decimal sums; p-values use the A&S erf polynomial written token-
    for-token identically in both engines (normal_two_sided_p), so the
    step-up cut lands on the same rank everywhere."""
    from weather_api_automate_etl_spark.operators import stats

    cust = t(spark, sf_dir, "customer").select(
        F.col("c_nationkey"),
        F.col("c_acctbal").cast("decimal(19,6)").alias("b"),
    )
    per = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("b").cast("double").alias("s"),
    )
    gl = cust.agg(
        F.count(F.lit(1)).cast("double").alias("gn"),
        F.sum("b").cast("double").alias("gs"),
        F.sum(F.col("b") * F.col("b")).cast("double").alias("gss"),
    )
    z = (
        per.crossJoin(F.broadcast(gl))
        .select(
            "c_nationkey",
            (
                (F.col("s") / F.col("n") - F.col("gs") / F.col("gn"))
                / (
                    F.sqrt(
                        (F.col("gss") - F.col("gs") * F.col("gs") / F.col("gn"))
                        / (F.col("gn") - 1)
                    )
                    / F.sqrt(F.col("n").cast("double"))
                )
            ).alias("z"),
        )
        .select(
            "c_nationkey", stats.normal_two_sided_p(F.col("z")).alias("p")
        )
    )
    return stats.bh_fdr(z, "c_nationkey", "p", q=0.1)


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


@query("q_drift_sweep_fdr", oracle=_DRIFT_ORACLE)
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


_SRM_ORACLE = f"""
    WITH units AS (
      SELECT DISTINCT event_type AS g, user_id AS u,
             CAST(user_id % 2 AS INTEGER) AS a
      FROM events
    ),
    agg AS (
      SELECT g,
             SUM(CASE WHEN a = 0 THEN 1 ELSE 0 END) AS n0,
             SUM(CASE WHEN a = 1 THEN 1 ELSE 0 END) AS n1
      FROM units GROUP BY g
    ),
    zt AS (
      SELECT g, n0, n1,
             CAST(n0 - n1 AS DOUBLE) / sqrt(CAST(n0 + n1 AS DOUBLE)) AS z
      FROM agg
    ),
    pt AS (SELECT g, n0, n1, z, {_ERF_P_SQL} AS p FROM zt)
    SELECT g AS event_type, CAST(n0 AS BIGINT) AS n_0,
           CAST(n1 AS BIGINT) AS n_1,
           ROUND(z, 6) AS z, ROUND(p, 6) AS p,
           p < 0.001 AS srm
    FROM pt
"""


@query("q_srm_check", oracle=_SRM_ORACLE)
def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRM audit of the user_id-parity assignment within each event
    type (operators/stats.py::srm_check, threshold 0.001): users count
    ONCE per arm (distinct unit grain — event volume must not skew the
    ratio), the z statistic is exact integer arithmetic, and p uses
    the shared erf polynomial. A flagged group would invalidate every
    metric computed on that assignment."""
    from weather_api_automate_etl_spark.operators import stats

    return stats.srm_check(
        t(spark, sf_dir, "events"),
        "event_type",
        "user_id",
        F.col("user_id") % 2,
        p_threshold=0.001,
    )


_TRIM_ORACLE = """
    WITH base AS (
      SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS y
      FROM lineitem
    ),
    ranked AS (
      SELECT g, y, row_number() OVER (PARTITION BY g ORDER BY y) AS rn,
             COUNT(*) OVER (PARTITION BY g) AS n
      FROM base
    ),
    kd AS (SELECT *, CAST(floor(n * 0.1) AS BIGINT) AS k FROM ranked),
    agg AS (
      SELECT g, MAX(n) AS n, MAX(k) AS k, SUM(y) AS s_all,
             SUM(CASE WHEN rn > k AND rn <= n - k THEN y END) AS s_kept,
             COUNT(CASE WHEN rn > k AND rn <= n - k THEN y END) AS n_kept
      FROM kd GROUP BY g
    )
    SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
           CAST(k AS BIGINT) AS n_trimmed_each_side,
           ROUND(CAST(s_all AS DOUBLE) / n, 6) AS mean_raw,
           ROUND(CAST(s_kept AS DOUBLE) / n_kept, 6) AS mean_trimmed
    FROM agg
"""


@query("q_trimmed_mean", oracle=_TRIM_ORACLE)
def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% symmetric trimmed mean of quantity per return flag
    (operators/stats.py::trimmed_mean): drop the ⌊n/10⌋ smallest and
    largest, average the kept mass — exact integer sums make boundary
    ties harmless (any choice of tied boundary rows keeps the same
    multiset). One rank window + one aggregate per group."""
    from weather_api_automate_etl_spark.operators import stats

    return stats.trimmed_mean(
        t(spark, sf_dir, "lineitem"), "l_returnflag", "l_quantity",
        trim_frac=0.1,
    )


_SCORED = """
      SELECT floor(value * 10) / 10 AS s,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
"""

_ROC_ORACLE = f"""
    WITH base AS ({_SCORED}),
    g AS (
      SELECT s, SUM(y) AS pos, SUM(1 - y) AS neg FROM base GROUP BY s
    ),
    c AS (
      SELECT pos, neg,
             SUM(neg) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - neg
               AS neg_below
      FROM g
    ),
    a AS (
      SELECT CAST(SUM(pos) + SUM(neg) AS BIGINT) AS n,
             CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(SUM(neg) AS BIGINT) AS n_neg,
             CAST(COUNT(*) AS BIGINT) AS n_scores,
             CAST(SUM(pos * (2 * neg_below + neg)) AS BIGINT) AS num2
      FROM c
    )
    SELECT n, n_pos, n_neg, n_scores,
           ROUND(num2 / (2.0 * NULLIF(n_pos * n_neg, 0)), 6) AS auc,
           ROUND(num2 / (1.0 * NULLIF(n_pos * n_neg, 0)) - 1.0, 6) AS gini
    FROM a
"""


@query("q_roc_auc", oracle=_ROC_ORACLE)
def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-aware ROC AUC (operators/stats.py::roc_auc): does the event
    value discriminate purchases from everything else? AUC via the
    rank identity AUC = Σ pos_s·(neg_below + neg_s/2) / (P·N) over the
    distinct quantized-score domain — all counts exact BIGINT, the one
    unpartitioned window runs on the ~1.8 k-row aggregated score table,
    not the event stream."""
    from weather_api_automate_etl_spark.operators import stats

    ev = t(spark, sf_dir, "events")
    return stats.roc_auc(
        ev,
        F.floor(F.col("value") * 10) / 10,
        F.col("event_type") == "purchase",
    )


_THRESHOLDS = tuple(float(v) for v in range(50, 451, 50))


def _pr_oracle() -> str:
    buf = []
    for i, thr in enumerate(_THRESHOLDS):
        buf.append(
            f"CAST(SUM(CASE WHEN s >= {thr} THEN y END) AS BIGINT)"
            f" AS tp{i}"
        )
        buf.append(
            f"CAST(COUNT(CASE WHEN s >= {thr} THEN 1 END) AS BIGINT)"
            f" AS pp{i}"
        )
    arms = []
    for i, thr in enumerate(_THRESHOLDS):
        arms.append(f"""
      SELECT CAST({thr} AS DOUBLE) AS threshold, n, n_pos,
             pp{i} AS pred_pos, COALESCE(tp{i}, 0) AS tp
      FROM a""")
    return f"""
    WITH base AS ({_SCORED}),
    a AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS n_pos,
             {", ".join(buf)}
      FROM base
    ),
    pts AS ({" UNION ALL ".join(arms)})
    SELECT threshold, n, n_pos, pred_pos, tp,
           ROUND(tp / NULLIF(CAST(pred_pos AS DOUBLE), 0), 6) AS precision,
           ROUND(tp / NULLIF(CAST(n_pos AS DOUBLE), 0), 6) AS recall,
           ROUND(2.0 * (tp / NULLIF(CAST(pred_pos AS DOUBLE), 0))
                     * (tp / NULLIF(CAST(n_pos AS DOUBLE), 0))
                 / NULLIF(tp / NULLIF(CAST(pred_pos AS DOUBLE), 0)
                        + tp / NULLIF(CAST(n_pos AS DOUBLE), 0), 0),
                 6) AS f1
    FROM pts
    """


@query("q_pr_sweep", oracle=_pr_oracle())
def q_pr_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 operating-point sweep (operators/stats.py::
    pr_threshold_sweep, 9-point grid 50..450): the cutoff-selection
    table for any score that gates data. One scan, one single-row
    aggregate (two exact counters per threshold), per-threshold rows
    unfolded from the aggregated row — map-side partials stay one row
    per partition at any scale."""
    from weather_api_automate_etl_spark.operators import stats

    ev = t(spark, sf_dir, "events")
    return stats.pr_threshold_sweep(
        ev,
        F.floor(F.col("value") * 10) / 10,
        F.col("event_type") == "purchase",
        _THRESHOLDS,
    )


_BRIER_ORACLE = """
    WITH base AS (
      SELECT floor(value) / 491 AS s,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    b AS (
      SELECT LEAST(CAST(floor(s * 10) AS INTEGER), 9) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             AVG(s) AS f, AVG(CAST(y AS DOUBLE)) AS o,
             SUM((s - y) * (s - y)) AS se
      FROM base GROUP BY 1
    ),
    w AS (
      SELECT bin, n, f, o,
             SUM(n) OVER () AS nn,
             SUM(se) OVER () AS se_all,
             SUM(n * (f - o) * (f - o)) OVER () AS rel_n,
             SUM(n * o * o) OVER () AS oo_n,
             SUM(n * o) OVER () AS o_n
      FROM b
    )
    SELECT bin, n,
           ROUND(f, 6) AS f_mean,
           ROUND(o, 6) AS o_rate,
           ROUND(se_all / nn, 6) AS brier,
           ROUND(rel_n / nn, 6) AS reliability,
           ROUND(oo_n / nn - (o_n / nn) * (o_n / nn), 6) AS resolution,
           ROUND((o_n / nn) * (1.0 - o_n / nn), 6) AS uncertainty
    FROM w
"""


@query(
    "q_brier_decomposition",
    oracle=_BRIER_ORACLE,
)
def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score Murphy decomposition (operators/stats.py::
    brier_decomposition, 10 fixed-width bins): BS, reliability,
    resolution, uncertainty riding every bin row — one binned aggregate
    (map-side combine) plus window sums over the 10-row result;
    resolution uses the Σw·o² − ō² expansion so no window nests inside
    another."""
    from weather_api_automate_etl_spark.operators import stats

    ev = t(spark, sf_dir, "events")
    return stats.brier_decomposition(
        ev,
        F.floor(F.col("value")) / 491,
        F.col("event_type") == "purchase",
        n_bins=10,
    )


_KW_ORACLE = """
    WITH base AS (
      SELECT floor(value * 10) / 10 AS v, event_type AS g
      FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL
    ),
    vg AS (
      SELECT v, g, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY v, g
    ),
    tot AS (SELECT v, SUM(c) AS cnt FROM vg GROUP BY v),
    ranks AS (
      SELECT v, cnt,
             COALESCE(SUM(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (cnt + 1) / 2.0 AS avg_rank
      FROM tot
    ),
    sc AS (
      SELECT CAST(SUM(cnt) AS DOUBLE) AS nn,
             SUM(CAST(cnt AS DOUBLE) * cnt * cnt - cnt) AS tie
      FROM tot
    ),
    pg AS (
      SELECT g, CAST(SUM(c) AS BIGINT) AS n,
             SUM(c * avg_rank) AS rank_sum
      FROM vg JOIN ranks USING (v) GROUP BY g
    ),
    agg AS (
      SELECT g, n, rank_sum,
             SUM(rank_sum * rank_sum / n) OVER () AS st,
             COUNT(*) OVER () AS k
      FROM pg
    )
    SELECT g AS event_type, n, rank_sum,
           ROUND(rank_sum / n, 6) AS mean_rank,
           ROUND(CASE WHEN k > 1 THEN
             (12.0 / (nn * (nn + 1)) * st - 3.0 * (nn + 1))
             / NULLIF(1.0 - tie / NULLIF(nn * nn * nn - nn, 0), 0)
           END, 6) AS h_stat,
           CAST(k - 1 AS BIGINT) AS dof
    FROM agg, sc
"""


@query("q_kruskal_wallis", oracle=_KW_ORACLE)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H over the five event types (operators/stats.py::
    kruskal_wallis, quantized score for real tie structure): one
    (value, group) aggregate, one distinct-value running-sum window
    (the mann_whitney_u dispensation), a value-keyed rank join, and a
    5-row reduction — rank sums exact in doubles, H rounded to 6 with
    the standard tie correction."""
    from weather_api_automate_etl_spark.operators import stats

    ev = t(spark, sf_dir, "events").select(
        (F.floor(F.col("value") * 10) / 10).alias("score"), "event_type"
    )
    return stats.kruskal_wallis(ev, "score", "event_type")


_DECAY_ORACLE = """
    WITH conv AS (
      SELECT user_id AS u, event_id AS cid,
             epoch_us(CAST(ts AS TIMESTAMP)) AS cus
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT user_id AS u, event_type AS channel,
             epoch_us(CAST(ts AS TIMESTAMP)) AS tus
      FROM events WHERE event_type IN ('view', 'click')
    ),
    tc AS (
      SELECT cid, channel,
             POW(2.0, -CAST(cus - tus AS DOUBLE) / 172800000000.0) AS w
      FROM conv JOIN touch USING (u)
      WHERE tus < cus AND tus >= cus - 604800000000
    ),
    pc AS (SELECT cid, SUM(w) AS wsum FROM tc GROUP BY cid),
    cr AS (
      SELECT channel,
             CAST(COUNT(*) AS BIGINT) AS n_touchpoints,
             CAST(COUNT(DISTINCT cid) AS BIGINT) AS n_conversions,
             ROUND(SUM(w / wsum), 6) AS credit
      FROM tc JOIN pc USING (cid) GROUP BY channel
    ),
    d AS (
      SELECT '(direct)' AS channel,
             CAST(0 AS BIGINT) AS n_touchpoints,
             CAST(COUNT(*) AS BIGINT) AS n_conversions,
             ROUND(CAST(COUNT(*) AS DOUBLE), 6) AS credit
      FROM conv WHERE cid NOT IN (SELECT cid FROM pc)
      HAVING COUNT(*) > 0
    )
    SELECT * FROM cr UNION ALL SELECT * FROM d
"""


@query(
    "q_attribution_decay",
    oracle=_DECAY_ORACLE,
)
def q_attribution_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay attribution of purchases to view/click touches
    (operators/stats.py::time_decay_attribution, half-life 2 d, window
    7 d): user-keyed join of two filtered scans (fan-out bounded per
    user-week), conversion-keyed weight sum, channel rollup; the
    '(direct)' row keeps total credit = total conversions."""
    from weather_api_automate_etl_spark.operators import stats

    return stats.time_decay_attribution(
        t(spark, sf_dir, "events"),
        "user_id",
        "event_type",
        "ts",
        "event_id",
        "purchase",
        ("view", "click"),
        window_days=7,
        half_life_days=2.0,
    )


_CONFORMAL_ORACLE = """
    WITH base AS (
      SELECT event_type AS g, value AS y, event_id % 2 = 0 AS cal
      FROM events
    ),
    calr AS (
      SELECT g, y,
             row_number() OVER (PARTITION BY g ORDER BY y) AS rn,
             COUNT(*) OVER (PARTITION BY g) AS n
      FROM base WHERE cal
    ),
    med AS (
      SELECT g, y AS pred FROM calr WHERE rn = floor((n + 1) / 2)
    ),
    res AS (
      SELECT c.g AS g, pred, abs(c.y - pred) AS r
      FROM (SELECT g, y FROM base WHERE cal) c JOIN med USING (g)
    ),
    qh AS (
      SELECT g, pred, r AS qhat, n AS ncal
      FROM (
        SELECT g, pred, r,
               row_number() OVER (PARTITION BY g ORDER BY r) AS rn,
               COUNT(*) OVER (PARTITION BY g) AS n
        FROM res
      )
      WHERE rn = LEAST(CAST(ceil((n + 1) * 0.9) AS BIGINT), n)
    ),
    tst AS (SELECT g, y FROM base WHERE NOT cal)
    SELECT qh.g AS event_type,
           CAST(ncal AS BIGINT) AS n_cal,
           CAST(COUNT(tst.y) AS BIGINT) AS n_test,
           pred, qhat,
           ROUND(SUM(CASE WHEN abs(tst.y - pred) <= qhat
                          THEN 1 ELSE 0 END)
                 / NULLIF(CAST(COUNT(tst.y) AS DOUBLE), 0), 6) AS coverage
    FROM qh LEFT JOIN tst ON tst.g = qh.g
    GROUP BY qh.g, ncal, pred, qhat
"""


@query("q_conformal", oracle=_CONFORMAL_ORACLE)
def q_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal calibration per event type (operators/stats.py::
    conformal_calibration, α = 0.1, calibration = even event ids):
    group-partitioned order-statistic windows only — the empirical
    coverage should sit at or above 0.9, which is the guarantee the
    operator exists to audit."""
    from weather_api_automate_etl_spark.operators import stats

    return stats.conformal_calibration(
        t(spark, sf_dir, "events"),
        "event_type",
        "value",
        F.col("event_id") % 2 == 0,
        alpha=0.1,
    )


_CUPED_ORACLE = """
    WITH pu AS (
      SELECT user_id,
             COALESCE(SUM(CASE WHEN CAST(ts AS TIMESTAMP)
                                    < TIMESTAMP '2024-01-16'
                               THEN CAST(floor(value) AS BIGINT) END), 0)
               AS x,
             COALESCE(SUM(CASE WHEN CAST(ts AS TIMESTAMP)
                                    >= TIMESTAMP '2024-01-16'
                               THEN CAST(floor(value) AS BIGINT) END), 0)
               AS y
      FROM events GROUP BY user_id
    ),
    armed AS (
      SELECT CAST(CAST(concat('0x',
               substr(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 8))
               AS UBIGINT) % 2 AS INTEGER) AS arm, x, y
      FROM pu
    ),
    m AS (
      SELECT CAST(COUNT(CASE WHEN arm = 0 THEN 1 END) AS BIGINT) AS n_a,
             CAST(COUNT(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN arm = 0 THEN y END) AS BIGINT) AS ya,
             CAST(SUM(CASE WHEN arm = 1 THEN y END) AS BIGINT) AS yb,
             CAST(SUM(CASE WHEN arm = 0 THEN x END) AS BIGINT) AS xa,
             CAST(SUM(CASE WHEN arm = 1 THEN x END) AS BIGINT) AS xb,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx,
             CAST(SUM(y * y) AS DOUBLE) AS syy
      FROM armed
    ),
    g AS (
      SELECT *,
             CASE WHEN n * sxx - sx * sx > 1e-14 * n * sxx
                  THEN n * sxx - sx * sx END AS vx,
             CASE WHEN n * syy - sy * sy > 1e-14 * n * syy
                  THEN n * syy - sy * sy END AS vy,
             n * sxy - sx * sy AS cn
      FROM m
    )
    SELECT n_a, n_b,
           ROUND(cn / vx, 6) AS theta,
           ROUND(cn * cn / (vx * vy), 6) AS rho2,
           ROUND(ya / CAST(n_a AS DOUBLE), 6) AS mean_y_a,
           ROUND(yb / CAST(n_b AS DOUBLE), 6) AS mean_y_b,
           ROUND(yb / CAST(n_b AS DOUBLE) - ya / CAST(n_a AS DOUBLE), 6)
             AS raw_diff,
           ROUND(yb / CAST(n_b AS DOUBLE) - ya / CAST(n_a AS DOUBLE)
                 - (cn / vx) * (xb / CAST(n_b AS DOUBLE)
                                - xa / CAST(n_a AS DOUBLE)), 6)
             AS adj_diff
    FROM g
"""


@query("q_cuped", oracle=_CUPED_ORACLE)
def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced lift (operators/stats.py::
    cuped_adjusted_lift): one user-keyed aggregate builds exact-integer
    (pre-covariate, post-metric) pairs, one conditional aggregate
    yields both arms' means and the pooled θ moments; the closed-form
    diff_adj identity needs no second per-unit pass. ρ² reports how
    much variance the covariate actually bought."""
    from weather_api_automate_etl_spark.operators import stats

    ev = t(spark, sf_dir, "events")
    post = F.col("ts").cast("timestamp") >= F.to_timestamp(
        F.lit("2024-01-16")
    )
    return stats.cuped_adjusted_lift(
        ev,
        "user_id",
        F.floor(F.col("value")),
        F.floor(F.col("value")),
        post,
        salt="exp1",
    )


_MEDIAN_CI_ORACLE = """
    WITH ranked AS (
      SELECT event_type AS g, value AS v,
             row_number() OVER (PARTITION BY event_type ORDER BY value)
               AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ),
    rk AS (
      SELECT g, v, rn, n,
             GREATEST(CAST(floor(n / 2.0 - 1.96 * sqrt(n) / 2.0)
                           AS BIGINT), 1) AS lo_rank,
             LEAST(CAST(ceil(n / 2.0 + 1 + 1.96 * sqrt(n) / 2.0)
                        AS BIGINT), n) AS hi_rank,
             CAST(floor((n + 1) / 2.0) AS BIGINT) AS med_rank
      FROM ranked
    )
    SELECT g AS event_type,
           CAST(MAX(n) AS BIGINT) AS n,
           MAX(CASE WHEN rn = med_rank THEN v END) AS median,
           MAX(CASE WHEN rn = lo_rank THEN v END) AS ci_lo,
           MAX(CASE WHEN rn = hi_rank THEN v END) AS ci_hi
    FROM rk GROUP BY g
"""


@query("q_median_ci", oracle=_MEDIAN_CI_ORACLE)
def q_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-test median CI per event type (operators/stats.py::
    median_ci): rank window + same-keyed aggregate, endpoints are
    order statistics of the raw doubles — nothing to round, nothing
    engine-dependent."""
    from weather_api_automate_etl_spark.operators import stats

    return stats.median_ci(
        t(spark, sf_dir, "events"), "event_type", "value", z=1.96
    )


_MCNEMAR_ORACLE = """
    WITH p AS (
      SELECT CASE WHEN (value >= 100) = (event_type = 'purchase')
                  THEN 1 ELSE 0 END AS a,
             CASE WHEN (value >= 250) = (event_type = 'purchase')
                  THEN 1 ELSE 0 END AS b
      FROM events
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a * b) AS BIGINT) AS both_correct,
             CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS both_wrong,
             CAST(SUM(a * (1 - b)) AS BIGINT) AS a_only_correct,
             CAST(SUM((1 - a) * b) AS BIGINT) AS b_only_correct
      FROM p
    )
    SELECT n, both_correct, both_wrong, a_only_correct, b_only_correct,
           ROUND((a_only_correct - b_only_correct)
                 * (a_only_correct - b_only_correct)
                 / NULLIF(CAST(a_only_correct + b_only_correct AS DOUBLE),
                          0), 6) AS chi2
    FROM m
"""


@query("q_mcnemar", oracle=_MCNEMAR_ORACLE)
def q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar paired-classifier test (operators/stats.py::
    mcnemar_test): one conditional aggregate builds all four exact
    contingency cells; χ² = (b−c)²/(b+c) over the discordant pair
    only — map-side combined, 1-row output."""
    from weather_api_automate_etl_spark.operators import stats

    ev = t(spark, sf_dir, "events")
    y = F.col("event_type") == "purchase"
    return stats.mcnemar_test(
        ev, y, F.col("value") >= 100, F.col("value") >= 250
    )


_KAPPA_ORACLE = """
    WITH p AS (
      SELECT CASE WHEN value >= 100 THEN 1 ELSE 0 END AS a,
             CASE WHEN value >= 250 THEN 1 ELSE 0 END AS b
      FROM events
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a * b) AS BIGINT) AS n11,
             CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00,
             CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
             CAST(SUM((1 - a) * b) AS BIGINT) AS n01
      FROM p
    )
    SELECT n, n11, n00, n10, n01,
           ROUND((n11 + n00) / CAST(n AS DOUBLE), 6) AS p_o,
           ROUND(((n11 + n10) / CAST(n AS DOUBLE))
                 * ((n11 + n01) / CAST(n AS DOUBLE))
                 + (1.0 - (n11 + n10) / CAST(n AS DOUBLE))
                 * (1.0 - (n11 + n01) / CAST(n AS DOUBLE)), 6) AS p_e,
           ROUND(((n11 + n00) / CAST(n AS DOUBLE)
                  - (((n11 + n10) / CAST(n AS DOUBLE))
                     * ((n11 + n01) / CAST(n AS DOUBLE))
                     + (1.0 - (n11 + n10) / CAST(n AS DOUBLE))
                     * (1.0 - (n11 + n01) / CAST(n AS DOUBLE))))
                 / NULLIF(1.0 - (((n11 + n10) / CAST(n AS DOUBLE))
                     * ((n11 + n01) / CAST(n AS DOUBLE))
                     + (1.0 - (n11 + n10) / CAST(n AS DOUBLE))
                     * (1.0 - (n11 + n01) / CAST(n AS DOUBLE))), 0),
                 6) AS kappa
    FROM m
"""


@query("q_cohens_kappa", oracle=_KAPPA_ORACLE)
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's κ between two derived verdicts (operators/stats.py::
    cohens_kappa): exact contingency cells from one scan; κ discounts
    the chance agreement that raw percent-agreement overstates."""
    from weather_api_automate_etl_spark.operators import stats

    ev = t(spark, sf_dir, "events")
    return stats.cohens_kappa(
        ev, F.col("value") >= 100, F.col("value") >= 250
    )


_SCORED_IDS = """
      SELECT floor(value * 10) / 10 AS s,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             event_id
      FROM events
"""

_YOUDEN_ORACLE = f"""
    WITH base AS ({_SCORED_IDS}),
    g AS (
      SELECT s, SUM(y) AS pos, SUM(1 - y) AS neg FROM base GROUP BY s
    ),
    c AS (
      SELECT s,
             COALESCE(SUM(pos) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS pos_below,
             COALESCE(SUM(neg) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS neg_below,
             SUM(pos) OVER () AS p,
             SUM(neg) OVER () AS n
      FROM g
    ),
    scored AS (
      SELECT s AS threshold,
             CAST(p AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n_neg,
             CAST(p - pos_below AS BIGINT) AS tp,
             CAST(n - neg_below AS BIGINT) AS fp,
             (p - pos_below) * n - (n - neg_below) * p AS jnum
      FROM c WHERE p > 0 AND n > 0
    )
    SELECT threshold, n_pos, n_neg, tp, fp,
           ROUND(tp / CAST(n_pos AS DOUBLE), 6) AS tpr,
           ROUND(fp / CAST(n_neg AS DOUBLE), 6) AS fpr,
           ROUND(tp / CAST(n_pos AS DOUBLE)
                 - fp / CAST(n_neg AS DOUBLE), 6) AS youden_j
    FROM scored
    ORDER BY jnum DESC, threshold ASC
    LIMIT 1
"""


@query("q_youden_cutoff", oracle=_YOUDEN_ORACLE)
def q_youden_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Youden-J optimal cutoff (operators/stats.py::
    youden_optimal_cutoff): the roc_auc distinct-score shape plus a
    1-row TakeOrdered argmax on exact integer cross-multiples — never
    a float J comparison, never a per-row global rank."""
    from weather_api_automate_etl_spark.operators import stats

    ev = t(spark, sf_dir, "events")
    return stats.youden_optimal_cutoff(
        ev,
        F.floor(F.col("value") * 10) / 10,
        F.col("event_type") == "purchase",
    )


_GAINS_ORACLE = f"""
    WITH base AS ({_SCORED_IDS}),
    b AS (
      SELECT y, ntile(10) OVER (ORDER BY s DESC, event_id) AS bucket
      FROM base
    ),
    agg AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS responders
      FROM b GROUP BY bucket
    ),
    w AS (
      SELECT bucket, n, responders,
             SUM(responders) OVER () AS tr,
             SUM(n) OVER () AS tn,
             SUM(responders) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr
      FROM agg
    )
    SELECT bucket, n, responders,
           ROUND(responders / CAST(n AS DOUBLE), 6) AS response_rate,
           ROUND((responders / CAST(n AS DOUBLE))
                 / NULLIF(tr / CAST(tn AS DOUBLE), 0), 6) AS lift,
           ROUND(cr / NULLIF(CAST(tr AS DOUBLE), 0), 6) AS cum_gain
    FROM w
"""


@query("q_gains_table", oracle=_GAINS_ORACLE)
def q_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile gains/lift table (operators/stats.py::gains_table): one
    global ntile (the calibration_bins dispensation, deterministic via
    the event-id tiebreak), a bucket-keyed aggregate, and window sums
    over the 10-row result. Exact mode here for oracle parity; the
    100 TB twin is ``boundaries="approx"`` (plan-pinned in
    tests/test_scale_plans.py::test_global_rank_scale_twins)."""
    from weather_api_automate_etl_spark.operators import stats

    ev = t(spark, sf_dir, "events")
    return stats.gains_table(
        ev,
        F.floor(F.col("value") * 10) / 10,
        F.col("event_type") == "purchase",
        n_buckets=10,
        order_cols=["event_id"],
    )


_PCT_ORACLE = """
    WITH ranked AS (
      SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS g, value AS v,
             row_number() OVER (
               PARTITION BY CAST(CAST(ts AS TIMESTAMP) AS DATE)
               ORDER BY value) AS rn,
             COUNT(*) OVER (
               PARTITION BY CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS n
      FROM events
    )
    SELECT g AS day, CAST(MAX(n) AS BIGINT) AS n,
           MAX(CASE WHEN rn = GREATEST(CAST(ceil(n * 0.5) AS BIGINT), 1)
                    THEN v END) AS p_50,
           MAX(CASE WHEN rn = GREATEST(CAST(ceil(n * 0.95) AS BIGINT), 1)
                    THEN v END) AS p_95
    FROM ranked GROUP BY g
"""


@query("q_daily_percentiles", oracle=_PCT_ORACLE)
def q_daily_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact nearest-rank daily p50/p95 (operators/stats.py::
    group_percentiles_exact): one day-partitioned rank window folded
    into the same-keyed aggregate; every reported number is an actual
    event value."""
    from weather_api_automate_etl_spark.operators import stats

    ev = t(spark, sf_dir, "events")
    return stats.group_percentiles_exact(
        ev,
        F.to_date(F.col("ts").cast("timestamp")).alias("day"),
        "value",
        quantiles=(0.5, 0.95),
    ).withColumnRenamed("group", "day")


_TTC_ORACLE = """
    WITH u AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view'
                      THEN CAST(ts AS TIMESTAMP) END) AS fv,
             MIN(CASE WHEN event_type = 'purchase'
                      THEN CAST(ts AS TIMESTAMP) END) AS fp
      FROM events GROUP BY user_id
    ),
    d AS (
      SELECT CAST(floor((epoch_us(fp) - epoch_us(fv)) / 1000000.0)
                  AS BIGINT) AS ds
      FROM u WHERE fv IS NOT NULL AND fp IS NOT NULL AND fp > fv
    ),
    g AS (SELECT ds, COUNT(*) AS c FROM d GROUP BY ds),
    cum AS (
      SELECT ds,
             SUM(c) OVER (ORDER BY ds
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
             SUM(c) OVER () AS n
      FROM g
    ),
    qs AS (
      SELECT CAST(MAX(n) AS BIGINT) AS nconv,
             MIN(CASE WHEN cc >= ceil(n * 0.5) THEN ds END)
               AS median_delay_s,
             MIN(CASE WHEN cc >= ceil(n * 0.9) THEN ds END)
               AS p90_delay_s
      FROM cum
    ),
    cnt AS (
      SELECT CAST(COUNT(fv) AS BIGINT) AS n_from FROM u
    )
    SELECT n_from,
           COALESCE(nconv, 0) AS n_converted,
           ROUND(COALESCE(nconv, 0)
                 / NULLIF(CAST(n_from AS DOUBLE), 0), 6) AS conv_rate,
           median_delay_s, p90_delay_s
    FROM cnt, qs
"""


@query("q_time_to_convert", oracle=_TTC_ORACLE)
def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View → purchase conversion timing (operators/stats.py::
    time_to_convert): per-user first-timestamp aggregate, exact
    epoch-micro delays quantized to seconds, and order statistics over
    the distinct delay domain — scale-safe at any converter count."""
    from weather_api_automate_etl_spark.operators import stats

    return stats.time_to_convert(
        t(spark, sf_dir, "events"), "user_id", "event_type", "ts",
        "view", "purchase",
    )


_MDE_ORACLE = """
    WITH armed AS (
      SELECT CAST(CAST(concat('0x',
               substr(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 8))
               AS UBIGINT) % 2 AS INTEGER) AS arm,
             value AS v
      FROM events
    ),
    m AS (
      SELECT CAST(COUNT(CASE WHEN arm = 0 THEN v END) AS BIGINT) AS n_a,
             CAST(COUNT(CASE WHEN arm = 1 THEN v END) AS BIGINT) AS n_b,
             ROUND(AVG(CASE WHEN arm = 0 THEN v END), 6) AS mean_a,
             ROUND(stddev_samp(CASE WHEN arm = 0 THEN v END), 6) AS sd_a,
             ROUND(stddev_samp(CASE WHEN arm = 1 THEN v END), 6) AS sd_b
      FROM armed
    ),
    g AS (
      SELECT *, sqrt(sd_a * sd_a / n_a + sd_b * sd_b / n_b) AS se
      FROM m
    )
    SELECT n_a, n_b, mean_a, sd_a, sd_b,
           ROUND(CASE WHEN se > 0 THEN 2.801585 * se END, 6) AS mde_abs,
           ROUND(CASE WHEN se > 0 THEN 2.801585 * se END
                 / NULLIF(mean_a, 0), 6) AS mde_rel
    FROM g
"""


@query("q_mde", oracle=_MDE_ORACLE)
def q_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-hoc minimum detectable effect (operators/stats.py::
    minimum_detectable_effect): one conditional aggregate on the shared
    salted-md5 split, rounded-moment inputs, closed-form
    (z_{α/2}+z_β)·SE — the is-this-test-even-powered sanity number."""
    from weather_api_automate_etl_spark.operators import stats

    return stats.minimum_detectable_effect(
        t(spark, sf_dir, "events"), "user_id", "value"
    )
