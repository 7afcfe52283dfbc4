"""Round-8 twentieth-wave queries: matrix-factorization
recommendations, censoring-aware survival curves, and the Benford fraud
screen.

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.queries import query, t


# ---------------------------------------------------------------------------
# rank-2 ALS
# ---------------------------------------------------------------------------


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


@query("q_als_factors", oracle=_als_oracle(), tags=("mlprep", "similarity"))
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


# ---------------------------------------------------------------------------
# Kaplan-Meier survival
# ---------------------------------------------------------------------------


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
    tags=("stats", "timeseries"),
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


# ---------------------------------------------------------------------------
# Benford's-law deviation
# ---------------------------------------------------------------------------


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
    tags=("stats", "quality"),
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
