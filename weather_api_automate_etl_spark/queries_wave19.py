"""Round-8 nineteenth-wave queries: neighborhood
recommendations, model-calibration audit, diversity re-ranking, and
held-out LM scoring with backoff.

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.queries import query, t

_DOT = (
    "list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


def _cos(a: str, b: str) -> str:
    return (
        f"({_DOT.format(a=a, b=b)} / "
        f"(sqrt({_DOT.format(a=a, b=a)}) * sqrt({_DOT.format(a=b, b=b)})))"
    )


# ---------------------------------------------------------------------------
# item-item collaborative filtering
# ---------------------------------------------------------------------------


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
    tags=("stats", "similarity"),
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


# ---------------------------------------------------------------------------
# calibration / expected calibration error
# ---------------------------------------------------------------------------


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
    tags=("stats", "mlprep"),
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


# ---------------------------------------------------------------------------
# MMR diversity re-ranking
# ---------------------------------------------------------------------------


def _mmr_oracle() -> str:
    cos_cq = _cos("c.embedding", "q.qv")
    cos_cs = _cos("c.embedding", "s.embedding")
    head = f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    base AS (
      SELECT vec_id, embedding, {cos_cq} AS rel
      FROM embeddings c, q WHERE vec_id != 0
    ),
    sl AS (SELECT * FROM base ORDER BY rel DESC, vec_id LIMIT 50),
    p1 AS (
      SELECT vec_id, embedding, rel, 0.7 * rel AS mmr
      FROM sl ORDER BY mmr DESC, vec_id LIMIT 1
    )"""
    steps = []
    prev_sel = "p1"
    prev_picks = ["p1"]
    for i in range(2, 6):
        picks_union = " UNION ALL ".join(
            f"SELECT vec_id, embedding FROM {p}" for p in prev_picks
        )
        steps.append(f"""
    sel{i - 1} AS ({picks_union}),
    p{i} AS (
      SELECT c.vec_id, c.embedding, c.rel,
             0.7 * c.rel - (1.0 - 0.7) * (
               SELECT MAX({cos_cs}) FROM sel{i - 1} s
             ) AS mmr
      FROM sl c
      WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
      ORDER BY mmr DESC, c.vec_id LIMIT 1
    )""")
        prev_picks.append(f"p{i}")
        prev_sel = f"sel{i - 1}"
    final = " UNION ALL ".join(
        f"SELECT {r} AS rank, vec_id, rel, mmr FROM p{r}"
        for r in range(1, 6)
    )
    return (
        head + "," + ",".join(steps)
        + f"""
    SELECT CAST(rank AS INTEGER) AS rank, vec_id,
           ROUND(rel, 6) AS rel, ROUND(mmr, 6) AS mmr_score
    FROM ({final})
    """
    )


@query("q_mmr_rerank", oracle=_mmr_oracle(), tags=("similarity",))
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-ranking (operators/similarity.py::mmr_rerank,
    k=5, λ=0.7, shortlist=50): greedy picks maximizing
    λ·cos(c,q) − (1−λ)·max-sim-to-selected over the relevance top-50 —
    the retrieval post-pass that stops top-k from being five copies of
    one answer. Greedy comparisons run on unrounded, bit-identical dot
    products, so the oracle's five unrolled argmax CTEs reproduce the
    exact pick sequence."""
    from weather_api_automate_etl_spark.operators import similarity

    emb = t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    corp = emb.filter(F.col("vec_id") != 0)
    return similarity.mmr_rerank(
        corp, "embedding", qvec, k=5, lam=0.7, shortlist=50
    )


# ---------------------------------------------------------------------------
# Stupid Backoff held-out scoring
# ---------------------------------------------------------------------------

_TOKENS_SQL = "regexp_split_to_array(lower(trim(text)), '\\s+')"

_SB_ORACLE = f"""
    WITH tk AS (
      SELECT doc_id, list_filter({_TOKENS_SQL}, t -> t != '') AS tk
      FROM documents
    ),
    bg AS (
      SELECT doc_id, tk[CAST(i AS INTEGER)] AS a,
             tk[CAST(i AS INTEGER) + 1] AS b
      FROM tk, UNNEST(range(1, len(tk))) AS u(i)
      WHERE len(tk) >= 2
    ),
    cab AS (
      SELECT a, b, COUNT(*) AS c_ab FROM bg
      WHERE doc_id % 100 = 0 GROUP BY a, b
    ),
    ug AS (
      SELECT t AS a, COUNT(*) AS c_a FROM (
        SELECT unnest(tk) AS t FROM tk WHERE doc_id % 100 = 0
      ) GROUP BY t
    ),
    n AS (SELECT CAST(SUM(c_a) AS DOUBLE) AS n_train FROM ug),
    sc AS (
      SELECT bg.doc_id,
             CASE WHEN cab.c_ab IS NOT NULL
                  THEN cab.c_ab / CAST(ug.c_a AS DOUBLE)
                  WHEN ub.c_a IS NOT NULL
                  THEN 0.4 * ub.c_a / n_train
                  ELSE 0.4 * 0.4 / n_train END AS s,
             CASE WHEN cab.c_ab IS NULL THEN 1 ELSE 0 END AS bo
      FROM bg
      LEFT JOIN cab USING (a, b)
      LEFT JOIN ug USING (a)
      LEFT JOIN ug ub ON ub.a = bg.b, n
      WHERE bg.doc_id % 100 != 0
    ),
    per AS (
      SELECT doc_id, COUNT(*) AS n_bigrams, SUM(bo) AS n_backoff,
             ROUND(AVG(ln(s)), 6) AS avg_logprob
      FROM sc GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(n_backoff, 0) AS BIGINT) AS n_backoff,
           avg_logprob
    FROM (SELECT doc_id FROM documents WHERE doc_id % 100 != 0) d
    LEFT JOIN per USING (doc_id)
"""


@query("q_stupid_backoff", oracle=_SB_ORACLE, tags=("text",))
def q_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out bigram scoring under Stupid Backoff (operators/
    textops.py::stupid_backoff_logprob, α=0.4): the LM trains on the 1%
    doc_id%100==0 slice and scores the other 99%, so unseen-bigram
    backoff (the operator's point) fires thousands of times in-pipeline.
    n_backoff per doc is the held-out-coverage diagnostic."""
    from weather_api_automate_etl_spark.operators import textops

    return textops.stupid_backoff_logprob(
        t(spark, sf_dir, "documents"), F.col("doc_id") % 100 == 0
    )
