"""Round-6 ninth-wave operators: table profiling, Z-order keys, BPE merge
statistics, hard-negative mining. The registry queries carry full DuckDB
oracles; these tests pin the operator-level contracts the oracles cannot
see (locality bounds, null handling, merge semantics on crafted input)."""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from weather_api_automate_etl_spark.functions.core import zorder_key
from weather_api_automate_etl_spark.queries_text import _BPE_PLACEHOLDER
from weather_api_automate_etl_spark.operators import quality, similarity, textops
from weather_api_automate_etl_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_zorder_bucket_is_aligned_tile(spark):
    """1024 consecutive z-keys = one aligned 32x32 tile: every bucket's
    per-dimension span is <= 32 levels of the 256-level grid — the file-
    statistics tightness that makes z-ordered layouts prune on BOTH
    dimensions."""
    df = spark.range(256 * 256).select(
        (F.col("id") % 256).alias("x"), (F.col("id") / 256).cast("long").alias("y")
    )
    got = (
        df.select(zorder_key("x", "y", 8).alias("z"), "x", "y")
        .groupBy(F.shiftright("z", 10).alias("b"))
        .agg(
            (F.max("x") - F.min("x")).alias("sx"),
            (F.max("y") - F.min("y")).alias("sy"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    assert len(got) == 64  # 2^16 keys / 2^10 per bucket
    for r in got:
        assert r.n == 1024 and r.sx == 31 and r.sy == 31


def test_zorder_key_matches_reference_interleave(spark):
    def ref(x, y):
        return sum(((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
                   for i in range(8))

    rows = spark.createDataFrame(
        [(x, y) for x in (0, 1, 77, 255) for y in (0, 3, 128, 255)],
        "x long, y long",
    ).select("x", "y", zorder_key("x", "y", 8).alias("z")).collect()
    for r in rows:
        assert r.z == ref(r.x, r.y), (r.x, r.y)


def test_profile_table_nulls_and_native_minmax(spark):
    df = spark.createDataFrame(
        [
            Row(k=1, v=10.5, s="b"),
            Row(k=2, v=None, s="a"),
            Row(k=3, v=2.25, s=None),
            Row(k=3, v=100.0, s="b"),
        ]
    )
    got = {r.column_name: r for r in quality.profile_table(df, ["k", "v", "s"]).collect()}
    assert got["k"].n_rows == 4 and got["k"].n_nulls == 0
    assert got["k"].n_distinct == 3
    assert (got["k"].min_value, got["k"].max_value) == ("1", "3")
    assert got["v"].n_nulls == 1 and got["v"].n_distinct == 3
    # native double min/max — NOT lexicographic ('100.0' < '2.25' as strings)
    assert (got["v"].min_value, got["v"].max_value) == ("2.25", "100.0")
    assert got["s"].n_nulls == 1 and got["s"].min_value == "a"


def test_bpe_merge_on_crafted_tokens(spark):
    """'aaab cdcd' x2: 'aa' and 'cd' tie at count 4 (the sliding pair
    window counts overlapping 'aa' twice per doc), the lexicographic rule
    picks 'aa', and the merged recount must reflect the left-to-right
    non-overlapping substitution."""
    df = spark.createDataFrame(
        [Row(doc_id=1, text="aaab cdcd"), Row(doc_id=2, text="aaab cdcd")]
    )
    counts = {r.pair: r.n for r in textops.bpe_pair_counts(df).collect()}
    # per doc: aaab -> aa,aa,ab ; cdcd -> cd,dc,cd
    assert counts == {"aa": 4, "ab": 2, "cd": 4, "dc": 2}
    out = textops.bpe_merge_once(df, placeholder="_", top_n=10).collect()
    assert all(r.merge_pair == "aa" for r in out)  # tie aa/cd -> lexicographic
    got = {r.pair: r.n for r in out}
    # merged: 'aaab'.replace('aa','_') = '_ab' -> pairs: _a, ab ;
    # cdcd unchanged
    assert got == {"_a": 2, "ab": 2, "cd": 4, "dc": 2}
    rks = sorted(r.rk for r in out)
    assert rks == [1, 2, 3, 4]


def test_bpe_placeholder_absent_from_fixture(spark):
    docs = load_table(spark, SF, "documents")
    n = docs.filter(F.col("text").contains(_BPE_PLACEHOLDER)).count()
    assert n == 0, "the BPE merge placeholder must not occur in fixture text"


def test_hard_negatives_cross_label_only(spark):
    emb = load_table(spark, SF, "embeddings")
    out = similarity.hard_negative_pairs(
        emb, "embedding", "label", dim=64, k=3, n_planes=4
    )
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    rows = out.collect()
    assert rows, "LSH blocking at 4 planes must yield cross-label candidates"
    for r in rows:
        assert labels[r.anchor_id] != labels[r.negative_id]
        assert 1 <= r.rk <= 3
