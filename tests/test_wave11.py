"""Round-6 eleventh-wave operators: late-data accounting, the BPE merge
table, per-group mode — hand-case pins for what the oracles can't show."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row

from weather_api_automate_etl_spark.operators import textops

TS = dt.datetime


def test_bpe_merge_rounds_later_winner_depends_on_earlier_merge(spark):
    """'abab abab' + 'bc': round 0 merges 'ab' (count 4 beats 'ba' 2).
    After substitution the tokens are 'XX' (from each 'abab') and 'bc',
    so round 1's candidates are 'XX' (count 2) and 'bc' (count 1) — 'XX'
    wins, and it ONLY exists because round 0's merge was applied before
    recounting. A drift in merge application changes this winner —
    exactly what the query's oracle checks corpus-wide."""
    df = spark.createDataFrame(
        [Row(doc_id=1, text="abab abab"), Row(doc_id=2, text="bc")]
    )
    out = {
        r.round: r.merge_pair
        for r in textops.bpe_merge_rounds(df, 2, placeholders="XY").collect()
    }
    assert out == {0: "ab", 1: "XX"}


def test_bpe_merge_rounds_requires_enough_placeholders(spark):
    import pytest

    df = spark.createDataFrame([Row(doc_id=1, text="abab")])
    with pytest.raises(ValueError, match="placeholder"):
        textops.bpe_merge_rounds(df, 3, placeholders="XY")


def test_late_events_classification_hand_case(spark):
    """Arrival order 1..5 within one type: t=10:00 (on-time), 10:20
    (on-time, advances), 10:15 (late, within 10 min of HWM 10:20), 10:05
    (dropped, >10 min behind), 10:30 (on-time)."""
    from weather_api_automate_etl_spark.queries_timeseries import q_late_events  # noqa: F401
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    ev = spark.createDataFrame(
        [
            (1, "a", TS(2024, 1, 1, 10, 0)),
            (2, "a", TS(2024, 1, 1, 10, 20)),
            (3, "a", TS(2024, 1, 1, 10, 15)),
            (4, "a", TS(2024, 1, 1, 10, 5)),
            (5, "a", TS(2024, 1, 1, 10, 30)),
        ],
        "event_id long, event_type string, ts timestamp_ntz",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hwm = F.max("ts").over(w)
    tol = F.expr("INTERVAL 10 MINUTE")
    arr = ev.select("ts", hwm.alias("hwm"))
    on_time = F.col("hwm").isNull() | (F.col("ts") >= F.col("hwm"))
    dropped = (F.col("ts") + tol) < F.col("hwm")
    got = arr.select(
        F.count(F.when(on_time, 1)).alias("ot"),
        F.count(F.when(~on_time & ~dropped, 1)).alias("late"),
        F.count(F.when(dropped, 1)).alias("drop"),
    ).head()
    assert (got.ot, got.late, got.drop) == (3, 1, 1)


def test_mode_by_group_tie_breaks_low(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    df = spark.createDataFrame(
        [("a", 3), ("a", 3), ("a", 1), ("a", 1), ("b", 5)],
        "g string, h int",
    )
    counted = df.groupBy("g", "h").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("g").orderBy(F.desc("n"), F.asc("h"))
    got = {
        r.g: (r.h, r.n)
        for r in counted.withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .collect()
    }
    assert got == {"a": (1, 2), "b": (5, 1)}  # tie 3 vs 1 -> lowest hour


def test_fellegi_sunter_weights_rank_fields(spark):
    """A balance+name match with segment mismatch must outscore a
    segment-only match — the field-weighting point of FS over a flat
    distance; NULL fields compare as plain disagreement, never NULL."""
    from pyspark.sql import functions as F

    from weather_api_automate_etl_spark.operators import dedup as dedup_ops

    a = spark.createDataFrame(
        [(1, "ann", "AUTO", 10.0), (2, "bob", "BIKE", 20.0)],
        "k long, name string, seg string, bal double",
    )
    b = spark.createDataFrame(
        [(101, "ann", "BIKE", 10.0),   # name+bal agree, seg differs
         (102, "zed", "BIKE", None)],  # only seg agrees (bal NULL)
        "ck long, name string, seg string, bal double",
    )
    fields = [("name", 10.0, -5.0), ("seg", 2.0, -4.0), ("bal", 9.0, -3.0)]
    got = {
        (r.k, r.ck): r.score
        for r in dedup_ops.fellegi_sunter_link(
            a.withColumn("blk", F.lit(1)),
            b.withColumn("blk", F.lit(1)),
            "k", "ck", ["blk"], fields,
        ).collect()
    }
    assert got[(1, 101)] == 10.0 - 4.0 + 9.0   # 15.0
    assert got[(2, 102)] == -5.0 + 2.0 - 3.0   # -6.0 (NULL bal = disagree)
    assert got[(1, 102)] == -5.0 - 4.0 - 3.0   # all fields differ
    assert got[(1, 101)] > got[(2, 101)] > got[(1, 102)]
