"""Property tests for the round-9 evaluation/matching operators: the
Spark plans agree with brute-force plain-Python references on arbitrary
inputs."""


from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import pytest

from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F

from weather_api_automate_etl_spark.operators import stats, windows

SETTINGS = settings(
    max_examples=8,  # each example is a Spark job; keep the suite fast
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

intervals_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=50),
        st.integers(min_value=0, max_value=30),
    ),
    min_size=1,
    max_size=12,
)


@given(iv=intervals_st)
@SETTINGS
def test_coalesce_covers_exactly_the_point_union(spark, iv):
    """Σ covered_us over islands == |union of [s, e]| computed pointwise,
    and islands never overlap."""
    rows = [("k", s, s + d) for s, d in iv]
    df = spark.createDataFrame(rows, "k string, s long, e long")
    got = windows.coalesce_intervals(df, "k", "s", "e").collect()
    covered = set()
    for s, d in iv:
        covered.update(range(s, s + d))
    assert sum(r["covered_us"] for r in got) == len(covered)
    spans = sorted((r["island_start_us"], r["island_end_us"]) for r in got)
    for (a1, b1), (a2, b2) in zip(spans, spans[1:]):
        assert b1 < a2  # strictly separated islands


scored_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=6),  # coarse scores force ties
        st.booleans(),
    ),
    min_size=2,
    max_size=30,
)


# 8 positives x 8 negatives giving AUC = 57/128 = 0.4453125, an exact
# binary half at the 6th decimal: Spark rounds it half up to 0.445313
@example(
    rows=[(s, True) for s in (0, 0, 1, 2, 5, 5, 6, 6)]
    + [(s, False) for s in (2, 3, 3, 3, 4, 4, 5, 6)]
)
@given(rows=scored_st)
@SETTINGS
def test_roc_auc_equals_pairwise_probability(spark, rows):
    df = spark.createDataFrame(
        [(float(s), int(y)) for s, y in rows], "s double, y int"
    )
    got = stats.roc_auc(df, "s", F.col("y") == 1).collect()[0]
    pos = [s for s, y in rows if y]
    neg = [s for s, y in rows if not y]
    if not pos or not neg:
        assert got["auc"] is None
        return
    want = sum(
        1.0 if p > n else 0.5 if p == n else 0.0 for p in pos for n in neg
    ) / (len(pos) * len(neg))
    # stats.roc_auc rounds with Spark's round, which is HALF_UP on the
    # double's decimal form; Python's round() would go half-even
    want = float(Decimal(repr(want)).quantize(Decimal("1e-6"), ROUND_HALF_UP))
    assert abs(got["auc"] - want) <= 1e-6


kw_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),
        st.sampled_from(["a", "b", "c"]),
    ),
    min_size=2,
    max_size=25,
)


@given(rows=kw_st)
@SETTINGS
@pytest.mark.slow
def test_kruskal_rank_sums_partition_total(spark, rows):
    """Σ_g R_g == N(N+1)/2 — the rank-sum conservation identity — and
    group sizes partition N, whatever the tie structure."""
    df = spark.createDataFrame(
        [(float(v), g) for v, g in rows], "v double, g string"
    )
    got = stats.kruskal_wallis(df, "v", "g").collect()
    n = len(rows)
    assert sum(r["n"] for r in got) == n
    assert sum(r["rank_sum"] for r in got) == n * (n + 1) / 2
