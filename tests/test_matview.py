"""Incremental materialized-view maintenance (operators/matview.py) and
the ledger_replace_partitions primitive it rides: incremental == full
recompute under merge/delete, partition-scoped work, exactly-once replay,
contract enforcement."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from weather_api_automate_etl_spark.operators import matview
from weather_api_automate_etl_spark.sources import ledger

GROUP_COLS = ["year", "grp"]


def _aggs():
    # max() is deliberately here: non-invertible, so any per-row
    # differential shortcut would break — partition-scoped recompute
    # must carry it exactly.
    return [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("price"), 2).alias("sum_price"),
        F.max("price").alias("max_price"),
    ]


@pytest.fixture()
def base(tmp_path, spark):
    df = spark.createDataFrame(
        [(k, float(k * 10), "AB"[k % 2], str(2000 + k % 3)) for k in range(60)],
        "k long, price double, grp string, year string",
    )
    path = str(tmp_path / "base")
    ledger.ledger_write(spark, df, path, "year")
    return path


def _full(spark, base_path):
    return (
        ledger.ledger_read(spark, base_path).groupBy(*GROUP_COLS).agg(*_aggs())
    )


def _mv_equals_full(spark, base_path, mv_path):
    full = _full(spark, base_path)
    mv = ledger.ledger_read(spark, mv_path).select(*full.columns)
    return full.exceptAll(mv).count() == 0 and mv.exceptAll(full).count() == 0


def test_build_matches_full_aggregate(spark, tmp_path, base):
    mv = str(tmp_path / "mv")
    v = matview.mv_build(spark, base, mv, GROUP_COLS, _aggs())
    assert v == 1
    assert _mv_equals_full(spark, base, mv)


def test_refresh_after_merge_is_incremental_and_exact(spark, tmp_path, base):
    mv = str(tmp_path / "mv")
    matview.mv_build(spark, base, mv, GROUP_COLS, _aggs())
    # update rows in partition 2001 only, plus a brand-new partition
    updates = spark.createDataFrame(
        [(1, 999.0, "B", "2001"), (100, 5.0, "A", "2099")],
        "k long, price double, grp string, year string",
    )
    ledger.ledger_merge(spark, base, updates, "k")
    m1 = ledger._read_manifest(mv, 1)
    v2 = matview.mv_refresh(spark, base, mv, GROUP_COLS, _aggs())
    assert v2 == 2
    assert _mv_equals_full(spark, base, mv)
    # partition-scoped: only the changed base partitions' MV entries moved
    m2 = ledger._read_manifest(mv, 2)
    touched = {
        pv
        for pv in set(m1["partitions"]) | set(m2["partitions"])
        if m1["partitions"].get(pv, {}).get("dir")
        != m2["partitions"].get(pv, {}).get("dir")
    }
    assert touched == {"2001", "2099"}


def test_refresh_handles_vanished_partition(spark, tmp_path, base):
    mv = str(tmp_path / "mv")
    matview.mv_build(spark, base, mv, GROUP_COLS, _aggs())
    doomed = (
        ledger.ledger_read(spark, base)
        .filter(F.col("year") == "2002")
        .select("k")
    )
    ledger.ledger_delete(spark, base, doomed, "k")
    matview.mv_refresh(spark, base, mv, GROUP_COLS, _aggs())
    assert "2002" not in ledger._read_manifest(mv, 2)["partitions"]
    assert _mv_equals_full(spark, base, mv)


def test_refresh_is_noop_without_base_change_and_on_replay(spark, tmp_path, base):
    mv = str(tmp_path / "mv")
    matview.mv_build(spark, base, mv, GROUP_COLS, _aggs())
    assert matview.mv_refresh(spark, base, mv, GROUP_COLS, _aggs()) == 1
    updates = spark.createDataFrame(
        [(2, 7.0, "A", "2000")], "k long, price double, grp string, year string"
    )
    ledger.ledger_merge(spark, base, updates, "k")
    assert matview.mv_refresh(spark, base, mv, GROUP_COLS, _aggs()) == 2
    # replay: base unchanged since sync → same version, nothing written
    assert matview.mv_refresh(spark, base, mv, GROUP_COLS, _aggs()) == 2
    assert len(ledger._manifest_versions(mv)) == 2


def test_metadata_only_base_change_refreshes_without_writing(
    spark, tmp_path, base, count_jobs
):
    """A base version that moved for metadata-only reasons (ADD
    CONSTRAINT) changes no partition: the refresh only advances the
    MV's watermark, runs no Spark job and writes no data directory."""
    mv = str(tmp_path / "mv")
    matview.mv_build(spark, base, mv, GROUP_COLS, _aggs())
    ledger.ledger_add_check(spark, base, "price_nonneg", "price >= 0")
    before = sorted(os.listdir(mv))
    jobs, v = count_jobs(
        lambda: matview.mv_refresh(spark, base, mv, GROUP_COLS, _aggs())
    )
    assert (jobs, v) == (0, 2)
    assert sorted(os.listdir(mv)) == before
    m1, m2 = (ledger._read_manifest(mv, v) for v in (1, 2))
    assert m2["txn"] == {matview._txn_app(base): 2}
    assert m2["partitions"] == m1["partitions"]
    assert _mv_equals_full(spark, base, mv)


def test_contracts_raise(spark, tmp_path, base):
    mv = str(tmp_path / "mv")
    with pytest.raises(ValueError, match="partition-local"):
        matview.mv_build(spark, base, mv, ["grp"], _aggs())
    matview.mv_build(spark, base, mv, GROUP_COLS, _aggs())
    with pytest.raises(ValueError, match="partition-local"):
        matview.mv_refresh(spark, base, mv, ["grp"], _aggs())
    other = str(tmp_path / "other")
    ledger.ledger_write(
        spark,
        spark.createDataFrame([(1, "2000")], "k long, year string"),
        other,
        "year",
    )
    with pytest.raises(ValueError, match="sync watermark"):
        matview.mv_refresh(spark, base, other, GROUP_COLS, _aggs())


def test_replace_partitions_swaps_scope_only(spark, tmp_path, base):
    m1 = ledger._read_manifest(base, 1)
    repl = spark.createDataFrame(
        [(500, 1.0, "A", "2000")], "k long, price double, grp string, year string"
    )
    v2 = ledger.ledger_replace_partitions(spark, base, repl, ["2000", "2001"])
    assert v2 == 2
    m2 = ledger._read_manifest(base, 2)
    # 2000 replaced, 2001 dropped (absent from frame), 2002 untouched
    assert set(m2["partitions"]) == {"2000", "2002"}
    assert (
        m2["partitions"]["2002"]["dir"] == m1["partitions"]["2002"]["dir"]
    )
    rows = sorted(
        (r.k, r.year)
        for r in ledger.ledger_read(spark, base).select("k", "year").collect()
    )
    assert [r for r in rows if r[1] == "2000"] == [(500, "2000")]
    assert len([r for r in rows if r[1] == "2002"]) == 20


def test_replace_partitions_rejects_out_of_scope_values(spark, base):
    sneaky = spark.createDataFrame(
        [(1, 1.0, "A", "2001")], "k long, price double, grp string, year string"
    )
    with pytest.raises(ValueError, match="outside the declared scope"):
        ledger.ledger_replace_partitions(spark, base, sneaky, ["2000"])
    # table unchanged: the failed call must not have committed
    assert ledger._manifest_versions(base) == [1]


def test_replace_partitions_txn_replay_is_noop(spark, tmp_path, base):
    repl = spark.createDataFrame(
        [(500, 1.0, "A", "2000")], "k long, price double, grp string, year string"
    )
    v2 = ledger.ledger_replace_partitions(
        spark, base, repl, ["2000"], txn=("app", 7)
    )
    assert v2 == 2
    assert (
        ledger.ledger_replace_partitions(
            spark, base, repl, ["2000"], txn=("app", 7)
        )
        == 2
    )
    assert ledger._manifest_versions(base) == [1, 2]
