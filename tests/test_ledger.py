"""Atomic snapshot ledger (sources/ledger.py): commit atomicity, crash
isolation, time travel, merge equivalence, vacuum retention."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from weather_api_automate_etl_spark.sources import ledger


@pytest.fixture()
def mart(tmp_path, spark):
    df = spark.createDataFrame(
        [(k, float(k * 10), str(2000 + k % 3)) for k in range(30)],
        "k long, price double, year string",
    )
    path = str(tmp_path / "mart")
    v = ledger.ledger_write(spark, df, path, "year")
    assert v == 1
    return path, df


def _snapshot(spark, path, version=None):
    return sorted(
        (r.k, r.price, r.year)
        for r in ledger.ledger_read(spark, path, version).collect()
    )


def test_write_read_roundtrip_restores_partition_dtype(spark, mart):
    path, df = mart
    got = ledger.ledger_read(spark, path)
    assert dict(got.dtypes)["year"] == "string"
    assert _snapshot(spark, path) == sorted(
        (r.k, r.price, r.year) for r in df.collect()
    )


def test_merge_rewrites_only_touched_partitions_and_matches_merge_into(
    spark, mart
):
    path, df = mart
    m1 = ledger._read_manifest(path, 1)
    updates = spark.createDataFrame(
        # reprice two keys of year 2001; insert a new key into NEW year 2999
        [(1, 999.0, "2001"), (4, 888.0, "2001"), (100, 5.0, "2999")],
        "k long, price double, year string",
    )
    v = ledger.ledger_merge(spark, path, updates, "k")
    assert v == 2
    m2 = ledger._read_manifest(path, 2)
    # untouched partitions keep their original directory; touched + new
    # ones point at exactly one fresh directory
    d1 = {pv: e["dir"] for pv, e in m1["partitions"].items()}
    d2 = {pv: e["dir"] for pv, e in m2["partitions"].items()}
    assert d2["2000"] == d1["2000"]
    assert d2["2002"] == d1["2002"]
    assert d2["2001"] != d1["2001"]
    assert d2["2999"] == d2["2001"]
    # state equivalence vs the in-memory merge of the whole table
    from weather_api_automate_etl_spark.operators.cdc import merge_into

    want = sorted(
        (r.k, r.price, r.year)
        for r in merge_into(df, updates, "k").collect()
    )
    assert _snapshot(spark, path) == want
    # time travel: v1 is untouched
    assert _snapshot(spark, path, version=1) == sorted(
        (r.k, r.price, r.year) for r in df.collect()
    )


def test_crashed_writer_leaves_current_version_intact(spark, mart):
    path, _ = mart
    before = _snapshot(spark, path)
    # simulate a writer that died after the data write, before the commit:
    # a data dir exists on disk but no manifest references it
    updates = spark.createDataFrame([(1, -1.0, "2001")], "k long, price double, year string")
    ledger._write_data_dir(updates, path, "year")
    assert _snapshot(spark, path) == before  # readers never see orphans
    # a never-referenced FRESH dir is indistinguishable from an in-flight
    # concurrent writer's data, so default vacuum must NOT touch it
    # (round-10 review finding: deleting it would corrupt that writer's
    # about-to-land commit permanently)
    assert ledger.ledger_vacuum(path, keep_versions=1) == []
    assert _snapshot(spark, path) == before
    # past the retention window (retention_s=0 = quiescent maintenance)
    # the orphan is reclaimed without touching live data
    orphans = ledger.ledger_vacuum(path, keep_versions=1, retention_s=0.0)
    assert len(orphans) == 1
    assert _snapshot(spark, path) == before


def test_commit_conflict_raises_instead_of_clobbering(spark, mart):
    path, _ = mart
    m = ledger._read_manifest(path, 1)
    with pytest.raises(RuntimeError, match="conflict"):
        ledger._commit(path, m, 1)


@pytest.mark.slow
def test_vacuum_retention_drops_old_versions_and_unreferenced_dirs(
    spark, mart
):
    path, _ = mart
    for i in range(3):
        updates = spark.createDataFrame(
            [(i, float(1000 + i), str(2000 + i % 3))],
            "k long, price double, year string",
        )
        ledger.ledger_merge(spark, path, updates, "k")
    assert ledger._manifest_versions(path) == [1, 2, 3, 4]
    latest = _snapshot(spark, path)
    # keep 2: v3/v4 still reference every dir (each merge rewrote a
    # DIFFERENT partition, untouched ones stay with their old owners), so
    # retention must delete manifests but NO data
    deleted = ledger.ledger_vacuum(path, keep_versions=2)
    assert deleted == []
    assert ledger._manifest_versions(path) == [3, 4]
    assert _snapshot(spark, path) == latest
    assert _snapshot(spark, path, version=3)  # retained version readable
    with pytest.raises(FileNotFoundError):
        ledger.ledger_read(spark, path, version=1)
    # keep 1: only v4's owners survive — the init dir (which by now owns
    # no partition in v4) must be reclaimed
    deleted = ledger.ledger_vacuum(path, keep_versions=1)
    assert len(deleted) == 1 and deleted[0].startswith("data-")
    assert _snapshot(spark, path) == latest
    live = {
        e["dir"]
        for e in ledger._read_manifest(path, 4)["partitions"].values()
    }
    on_disk = {n for n in os.listdir(path) if n.startswith("data-")}
    assert on_disk == live


def test_empty_update_batch_is_a_noop_version(spark, mart):
    path, _ = mart
    empty = spark.createDataFrame([], "k long, price double, year string")
    assert ledger.ledger_merge(spark, path, empty, "k") == 1
    assert ledger._manifest_versions(path) == [1]


def test_ledger_plan_and_scan_prune_by_stats(tmp_path, spark):
    """Zone-map skipping: per-partition min/max on a NON-partition column
    prunes exactly the partitions whose range cannot intersect the
    predicate, and the pruned scan is bit-identical to filtering the full
    snapshot. The price column is made partition-correlated (year k%3 →
    disjoint price bands) so pruning has something to prove."""
    rows = [
        (k, float(1000 * (k % 3) + k), str(2000 + k % 3)) for k in range(60)
    ]
    df = spark.createDataFrame(rows, "k long, price double, year string")
    path = str(tmp_path / "mart")
    ledger.ledger_write(spark, df, path, "year", stats_cols=["price"])
    # band [1000, 1999] lives entirely in year 2001
    assert ledger.ledger_plan(path, "price", 1000.0, 1999.0) == ["2001"]
    # a straddling band keeps both candidates
    assert ledger.ledger_plan(path, "price", 900.0, 2100.0) == ["2001", "2002"]
    got = sorted(
        (r.k, r.price, r.year)
        for r in ledger.ledger_scan(spark, path, "price", 1000.0, 1999.0).collect()
    )
    want = sorted(
        (r.k, r.price, r.year)
        for r in ledger.ledger_read(spark, path)
        .filter(F.col("price").between(1000.0, 1999.0))
        .collect()
    )
    assert got == want and got
    # an impossible band plans to nothing and scans to an empty frame
    assert ledger.ledger_plan(path, "price", 90000.0, 99999.0) == []
    assert ledger.ledger_scan(spark, path, "price", 90000.0, 99999.0).count() == 0
    # string/temporal stats compare lexicographically (ISO order)
    with pytest.raises(ValueError, match="no stats"):
        ledger.ledger_plan(path, "k", 0, 1)


def test_ledger_merge_refreshes_stats(tmp_path, spark):
    df = spark.createDataFrame(
        [(k, float(k), "2000") for k in range(10)],
        "k long, price double, year string",
    )
    path = str(tmp_path / "mart")
    ledger.ledger_write(spark, df, path, "year", stats_cols=["price"])
    up = spark.createDataFrame([(3, 500.0, "2000")], "k long, price double, year string")
    ledger.ledger_merge(spark, path, up, "k")
    s = ledger._read_manifest(path, 2)["partitions"]["2000"]["stats"]["price"]
    assert s["max"] == 500.0 and s["min"] == 0.0
    assert ledger._read_manifest(path, 2)["partitions"]["2000"]["rows"] == 10


@pytest.mark.slow
def test_ledger_compact_one_file_per_partition_same_state(tmp_path, spark):
    """OPTIMIZE: after several merges a partition accumulates files;
    compaction rewrites it to exactly one file, the snapshot is
    bit-identical, and the pre-compaction version stays readable."""
    df = spark.createDataFrame(
        [(k, float(k), str(2000 + k % 2)) for k in range(20)],
        "k long, price double, year string",
    ).repartition(4)  # multiple files per partition from the start
    path = str(tmp_path / "mart")
    ledger.ledger_write(spark, df, path, "year", stats_cols=["price"])
    before = _snapshot(spark, path)
    m1 = ledger._read_manifest(path, 1)

    def files_of(m, pv):
        pdir = os.path.join(
            path, m["partitions"][pv]["dir"], f"year={pv}"
        )
        return [f for f in os.listdir(pdir) if f.endswith(".parquet")]

    assert len(files_of(m1, "2000")) > 1  # the small-files problem exists
    v = ledger.ledger_compact(spark, path)
    assert v == 2
    m2 = ledger._read_manifest(path, 2)
    for pv in ("2000", "2001"):
        assert len(files_of(m2, pv)) == 1
    assert _snapshot(spark, path) == before
    assert _snapshot(spark, path, version=1) == before  # time travel intact
    # nothing left to compact → version unchanged
    assert ledger.ledger_compact(spark, path) == 2


@pytest.mark.slow
def test_txn_watermark_makes_replay_a_pure_noop(spark, mart):
    """The exactly-once handle: a merge carrying an already-applied
    (app, txn_id) returns the current version without committing anything
    — no new manifest, no new data dir — and an out-of-order OLDER txn is
    equally skipped. A different app's watermark is independent."""
    path, _ = mart
    up = spark.createDataFrame(
        [(1, 111.0, "2001")], "k long, price double, year string"
    )
    v = ledger.ledger_merge(spark, path, up, "k", txn=("sinkA", 5))
    assert v == 2
    dirs_before = {n for n in os.listdir(path) if n.startswith("data-")}
    state = _snapshot(spark, path)
    # exact replay of batch 5 and a late arrival of batch 3: both no-ops
    up2 = spark.createDataFrame(
        [(1, -999.0, "2001")], "k long, price double, year string"
    )
    assert ledger.ledger_merge(spark, path, up2, "k", txn=("sinkA", 5)) == 2
    assert ledger.ledger_merge(spark, path, up2, "k", txn=("sinkA", 3)) == 2
    assert {n for n in os.listdir(path) if n.startswith("data-")} == dirs_before
    assert _snapshot(spark, path) == state
    assert ledger._read_manifest(path, 2)["txn"] == {"sinkA": 5}
    # the next batch applies, advancing the watermark
    assert ledger.ledger_merge(spark, path, up2, "k", txn=("sinkA", 6)) == 3
    assert ledger._read_manifest(path, 3)["txn"] == {"sinkA": 6}
    assert _snapshot(spark, path) != state
    # an independent app is not gated by sinkA's watermark
    up3 = spark.createDataFrame(
        [(2, 222.0, "2002")], "k long, price double, year string"
    )
    assert ledger.ledger_merge(spark, path, up3, "k", txn=("sinkB", 0)) == 4
    assert ledger._read_manifest(path, 4)["txn"] == {"sinkA": 6, "sinkB": 0}


@pytest.mark.slow
def test_ledger_delete_scan_path_and_full_partition_removal(spark, mart):
    """DELETE by bare key set (no partition hint → locate by one semi-join
    scan): matching rows vanish, partitions without matches keep their
    original directory untouched, a fully-emptied partition leaves the
    mapping, and re-deleting the same keys is a version-preserving no-op."""
    path, df = mart
    m1 = ledger._read_manifest(path, 1)
    # year 2002 holds keys 2,5,...,29 (k%3==2); delete ALL of them plus
    # one key from 2001 → 2002 disappears, 2001 is rewritten, 2000 untouched
    doomed = [k for k in range(30) if k % 3 == 2] + [1]
    keys = spark.createDataFrame([(k,) for k in doomed], "k long")
    v = ledger.ledger_delete(spark, path, keys, "k")
    assert v == 2
    m2 = ledger._read_manifest(path, 2)
    assert "2002" not in m2["partitions"]
    assert m2["partitions"]["2000"]["dir"] == m1["partitions"]["2000"]["dir"]
    assert m2["partitions"]["2001"]["dir"] != m1["partitions"]["2001"]["dir"]
    want = sorted(
        (r.k, r.price, r.year)
        for r in df.filter(~F.col("k").isin(doomed)).collect()
    )
    assert _snapshot(spark, path) == want
    assert not any(y == "2002" for _, _, y in _snapshot(spark, path))
    # idempotent: nothing left to delete → no new version
    assert ledger.ledger_delete(spark, path, keys, "k") == 2
    # time travel still shows the pre-delete state
    assert len(_snapshot(spark, path, version=1)) == 30


def test_ledger_delete_partition_hint_and_txn(spark, mart):
    """With the partition column in the key frame, candidates prune
    without any scan; the txn watermark dedupes replays exactly as for
    merge."""
    path, df = mart
    keys = spark.createDataFrame([(0, "2000")], "k long, year string")
    v = ledger.ledger_delete(spark, path, keys, "k", txn=("gdpr", 1))
    assert v == 2
    assert len(_snapshot(spark, path)) == 29
    # replay of the same takedown batch: pure no-op
    assert ledger.ledger_delete(spark, path, keys, "k", txn=("gdpr", 1)) == 2
    assert ledger._read_manifest(path, 2)["txn"] == {"gdpr": 1}


@pytest.mark.slow
def test_key_index_blooms_prune_delete_candidates(tmp_path, spark):
    """The manifest membership index: per-partition Bloom bitmaps over the
    key column let the delete locate phase prune candidates driver-side.
    Pins (a) the bitmaps exist with the declared size, (b) the pruning
    arithmetic keeps exactly the owning partition for a present key and
    (virtually always) nothing for an absent one, (c) an indexed delete
    is exact and leaves no-hit partitions' directories untouched, and
    (d) a deliberately tiny 64-bit index (heavy false positives) still
    yields the exact result because candidates are confirmed by scan."""
    df = spark.createDataFrame(
        [(k, float(k), str(2000 + k % 3)) for k in range(60)],
        "k long, price double, year string",
    )
    path = str(tmp_path / "mart")
    ledger.ledger_write(spark, df, path, "year", key_index_col="k")
    m = ledger._read_manifest(path, 1)
    assert m["key_index"] == {
        "col": "k", "bits": 1 << 15, "hashes": 4, "dtype": "bigint",
    }
    for e in m["partitions"].values():
        assert len(e["key_bloom"]) == (1 << 15) // 64 * 16
    # driver-side probe arithmetic (the exact loop ledger_delete runs):
    # key 4 lives in year 2001 (4 % 3 == 1)
    probe = spark.createDataFrame([(4,)], "k long")
    pos = tuple(
        probe.select(
            ledger._bloom_positions(F.col("k"), 1 << 15, 4).alias("p")
        ).collect()[0]["p"]
    )

    def hits(pv):
        hx = m["partitions"][pv]["key_bloom"]
        words = [int(hx[i : i + 16], 16) for i in range(0, len(hx), 16)]
        return all(words[p // 64] >> (p % 64) & 1 for p in pos)

    assert hits("2001") and not hits("2000") and not hits("2002")
    # indexed delete: keys only in 2001 → 2000/2002 dirs untouched
    doomed = spark.createDataFrame([(1,), (4,)], "k long")
    v = ledger.ledger_delete(spark, path, doomed, "k")
    assert v == 2
    m2 = ledger._read_manifest(path, 2)
    for pv in ("2000", "2002"):
        assert m2["partitions"][pv]["dir"] == m["partitions"][pv]["dir"]
    assert m2["partitions"]["2001"]["dir"] != m["partitions"]["2001"]["dir"]
    assert len(_snapshot(spark, path)) == 58
    # undersized index: correctness survives heavy fp (confirm-by-scan)
    path2 = str(tmp_path / "mart2")
    ledger.ledger_write(
        spark, df, path2, "year", key_index_col="k", key_index_bits=64
    )
    ledger.ledger_delete(spark, path2, doomed, "k")
    want = sorted(
        (r.k, r.price, r.year)
        for r in df.filter(~F.col("k").isin([1, 4])).collect()
    )
    assert _snapshot(spark, path2) == want
    # absent key: bloom excludes every partition → version unchanged,
    # and no scan could have found anything anyway
    ghost = spark.createDataFrame([(10_000_001,)], "k long")
    assert ledger.ledger_delete(spark, path, ghost, "k") == 2


@pytest.mark.slow
def test_ledger_changes_is_the_net_row_delta(spark, mart):
    """CDF: after a merge that repriced two 2001 keys and inserted a 2999
    key, changes(v1→v2) must be exactly those three rows with the right
    classification; the manifest diff scopes the read to the changed
    partitions only (2000/2002 are untouched entries), 'unchanged' rows
    inside the rewritten 2001 partition are filtered out, and a
    self-diff is empty."""
    path, df = mart
    updates = spark.createDataFrame(
        [(1, 999.0, "2001"), (4, 888.0, "2001"), (100, 5.0, "2999")],
        "k long, price double, year string",
    )
    ledger.ledger_merge(spark, path, updates, "k")
    got = {
        r.k: (r.change_type, r.price)
        for r in ledger.ledger_changes(
            spark, path, "k", ["price"], v_from=1, v_to=2
        ).collect()
    }
    assert got == {1: ("changed", 999.0), 4: ("changed", 888.0),
                   100: ("added", 5.0)}
    # delete feed: removing key 100 empties 2999 → classified 'removed'
    ledger.ledger_delete(
        spark, path, spark.createDataFrame([(100,)], "k long"), "k"
    )
    got = {
        r.k: r.change_type
        for r in ledger.ledger_changes(
            spark, path, "k", ["price"], v_from=2, v_to=3
        ).collect()
    }
    assert got == {100: "removed"}
    # full-span feed composes both commits
    got = {
        r.k: r.change_type
        for r in ledger.ledger_changes(
            spark, path, "k", ["price"], v_from=1, v_to=3
        ).collect()
    }
    assert got == {1: "changed", 4: "changed"}
    # self-diff is empty; inverted order raises
    assert ledger.ledger_changes(spark, path, "k", ["price"], 2, 2).count() == 0
    with pytest.raises(ValueError, match="newer"):
        ledger.ledger_changes(spark, path, "k", ["price"], 3, 1)


# ---------------------------------------------------------------------------
# round-8 hardening: CAS commit, escaped partition values, empty snapshots,
# file-granular skipping, bounded delete locate, dtype-stable bloom probes
# ---------------------------------------------------------------------------


def test_commit_is_put_if_absent_under_a_simulated_race(spark, mart, monkeypatch):
    """Two writers racing to the same version: the round-7 code checked
    exists() then renamed, so a competitor landing the final name INSIDE
    that window was silently clobbered. Simulate the race by having the
    competitor commit during mkstemp (after any exists-check would have
    run, before the publish): the link(2)-based commit must raise a
    conflict and leave the competitor's manifest intact."""
    path, _ = mart
    d = os.path.join(path, ledger._LEDGER_DIR)
    real_mkstemp = tempfile.mkstemp
    competitor = {"payload": {"winner": "competitor"}}

    def racing_mkstemp(*args, **kwargs):
        with open(os.path.join(d, "v2.json"), "w") as f:
            json.dump(competitor, f)
        return real_mkstemp(*args, **kwargs)

    monkeypatch.setattr(ledger.tempfile, "mkstemp", racing_mkstemp)
    with pytest.raises(RuntimeError, match="commit conflict"):
        ledger._commit(path, {"payload": {"winner": "loser"}}, 2)
    with open(os.path.join(d, "v2.json")) as f:
        assert json.load(f) == competitor, "competitor's commit must survive"
    # the loser's temp file must not linger
    assert not [n for n in os.listdir(d) if n.endswith(".tmp")]


@pytest.mark.slow
def test_escaped_partition_values_survive_merge_and_delete(tmp_path, spark):
    """Partition values needing Hive %XX escaping (space + colon here, the
    timestamp-string shape): the round-7 manifest keyed entries by the
    ESCAPED directory suffix while merge/delete compared raw strings, so
    a merge treated the partition as new and silently dropped its
    existing rows. Entries are now keyed by the raw value and carry the
    escaped dirname."""
    df = spark.createDataFrame(
        [
            (1, 10.0, "2026-01-01 00:00:00"),
            (2, 20.0, "2026-01-01 00:00:00"),
            (3, 30.0, "2026-01-02 12:30:00"),
        ],
        "k long, price double, batch_ts string",
    )
    path = str(tmp_path / "mart")
    ledger.ledger_write(spark, df, path, "batch_ts", stats_cols=["price"])
    m = ledger._read_manifest(path, 1)
    assert set(m["partitions"]) == {
        "2026-01-01 00:00:00", "2026-01-02 12:30:00",
    }, "manifest keys must be the RAW values, not escaped suffixes"
    e = m["partitions"]["2026-01-01 00:00:00"]
    assert "%3A" in e["dirname"], "dirname records the escaped directory"
    # merge an update INTO the escaped partition: existing row k=2 must
    # survive (the round-7 bug dropped it), k=1 must update
    up = spark.createDataFrame(
        [(1, 99.0, "2026-01-01 00:00:00")], "k long, price double, batch_ts string"
    )
    ledger.ledger_merge(spark, path, up, "k")
    got = sorted(
        (r.k, r.price) for r in ledger.ledger_read(spark, path).collect()
    )
    assert got == [(1, 99.0), (2, 20.0), (3, 30.0)]
    # row-level delete through the escaped partition
    doomed = spark.createDataFrame([(2,)], "k long")
    ledger.ledger_delete(spark, path, doomed, "k")
    got = sorted(
        (r.k, r.price) for r in ledger.ledger_read(spark, path).collect()
    )
    assert got == [(1, 99.0), (3, 30.0)]


def test_null_partition_values_are_rejected(tmp_path, spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None)], "k long, year string"
    )
    with pytest.raises(ValueError, match="non-null"):
        ledger.ledger_write(spark, df, str(tmp_path / "m"), "year")


def test_empty_snapshot_reads_as_typed_empty_frame(spark, mart):
    """Deleting every row must leave a readable (empty, correctly typed)
    table — the round-7 code raised IndexError from _read_partitions."""
    path, df = mart
    everyone = df.select("k")
    ledger.ledger_delete(spark, path, everyone, "k")
    out = ledger.ledger_read(spark, path)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["k", "price", "year"]
    assert out.schema["k"].dataType.simpleString() == "bigint"
    # and a further delete on the empty table is a clean no-op
    v = ledger.ledger_delete(
        spark, path, spark.createDataFrame([(1,)], "k long"), "k"
    )
    assert ledger.ledger_read(spark, path, v).count() == 0


def test_file_granular_stats_prune_within_a_partition(tmp_path, spark):
    """The Delta/Iceberg skip grain: per-FILE min/max inside each
    partition entry. Range-partitioning the write by the stats column
    gives every year-directory 4 files with disjoint value bands; a
    narrow predicate must then plan ≤ 1 file per kept partition while
    the scan stays bit-identical to the unpruned filter."""
    rows = [(k, float(k), str(2000 + k % 2)) for k in range(400)]
    df = spark.createDataFrame(rows, "k long, val double, year string")
    path = str(tmp_path / "mart")
    ledger.ledger_write(
        spark,
        df.repartitionByRange(4, "val"),
        path,
        "year",
        stats_cols=["val"],
    )
    m = ledger._read_manifest(path, 1)
    for pv in ("2000", "2001"):
        files = m["partitions"][pv]["files"]
        assert len(files) == 4, "each partition dir must hold 4 banded files"
        for fe in files.values():
            assert fe["rows"] > 0 and fe["stats"]["val"]["kind"] == "num"
    plan = ledger.ledger_plan_files(path, "val", 10.0, 20.0)
    assert set(plan) == {"2000", "2001"}
    total = {pv: len(m["partitions"][pv]["files"]) for pv in plan}
    for pv, kept in plan.items():
        assert kept is not None and 1 <= len(kept) < total[pv], (
            f"{pv}: kept {kept} of {total[pv]} files — no within-partition "
            "pruning happened"
        )
    got = sorted(
        r.k for r in ledger.ledger_scan(spark, path, "val", 10.0, 20.0).collect()
    )
    assert got == [k for k in range(400) if 10.0 <= float(k) <= 20.0]
    # a fully-disjoint predicate prunes EVERY file and returns empty
    assert ledger.ledger_scan(spark, path, "val", 1e6, 2e6).count() == 0


def test_delete_key_collect_bound_falls_back_to_semi_join(
    tmp_path, spark, monkeypatch
):
    """Above _BLOOM_LOCATE_MAX_KEYS distinct keys the locate phase must
    skip the driver-side bloom arithmetic and use the distributed
    semi-join scan — with an identical committed result."""
    df = spark.createDataFrame(
        [(k, float(k), str(2000 + k % 3)) for k in range(60)],
        "k long, price double, year string",
    )
    path = str(tmp_path / "mart")
    ledger.ledger_write(spark, df, path, "year", key_index_col="k")

    # the write path legitimately rebuilds partition blooms via
    # _partition_blooms; only the LOCATE phase (a direct _bloom_positions
    # call from ledger_delete) must be skipped above the bound
    import traceback

    orig = ledger._bloom_positions

    def spy(*args, **kwargs):
        frames = [f.name for f in traceback.extract_stack()]
        if "ledger_delete" in frames and "_partition_blooms" not in frames:
            raise AssertionError("bloom locate must not run above the bound")
        return orig(*args, **kwargs)

    monkeypatch.setattr(ledger, "_BLOOM_LOCATE_MAX_KEYS", 5)
    monkeypatch.setattr(ledger, "_bloom_positions", spy)
    doomed = spark.createDataFrame([(k,) for k in range(10)], "k long")
    v = ledger.ledger_delete(spark, path, doomed, "k")
    assert v == 2
    assert sorted(r.k for r in ledger.ledger_read(spark, path).collect()) == (
        list(range(10, 60))
    )


def test_bloom_probe_casts_keys_to_the_indexed_dtype(tmp_path, spark):
    """xxhash64 is representation-sensitive: a probe frame carrying the
    key at a DIFFERENT dtype (int vs the table's bigint) must still
    locate and delete the rows — the round-7 code hashed the probe
    as-is, pruned the owning partitions as false negatives, and silently
    skipped the delete."""
    df = spark.createDataFrame(
        [(k, float(k), str(2000 + k % 3)) for k in range(60)],
        "k long, price double, year string",
    )
    path = str(tmp_path / "mart")
    ledger.ledger_write(spark, df, path, "year", key_index_col="k")
    doomed = spark.createDataFrame([(1,), (4,)], "k int")  # int, not long
    v = ledger.ledger_delete(spark, path, doomed, "k")
    assert v == 2, "dtype-mismatched probe must still commit the delete"
    remaining = sorted(r.k for r in ledger.ledger_read(spark, path).collect())
    assert 1 not in remaining and 4 not in remaining
    assert len(remaining) == 58


# ---------------------------------------------------------------------------
# deletion vectors (mode="dv")
# ---------------------------------------------------------------------------


def _keys_df(spark, ks):
    return spark.createDataFrame([(k,) for k in ks], "k long")


def test_dv_delete_matches_rewrite_without_touching_data_dirs(spark, mart):
    path, df = mart
    m1 = ledger._read_manifest(path, 1)
    doomed = _keys_df(spark, [0, 3, 6])  # all live in year 2000
    v2 = ledger.ledger_delete(spark, path, doomed, "k", mode="dv")
    assert v2 == 2
    m2 = ledger._read_manifest(path, 2)
    # same data dir pointers everywhere; only a dv sidecar appeared
    for pv in m1["partitions"]:
        assert m2["partitions"][pv]["dir"] == m1["partitions"][pv]["dir"]
    assert m2["partitions"]["2000"].get("dv")
    assert not m2["partitions"]["2001"].get("dv")
    assert m2["dv_key"] == "k"
    want = sorted(
        (r.k, r.price, r.year)
        for r in df.filter(~F.col("k").isin([0, 3, 6])).collect()
    )
    assert _snapshot(spark, path) == want
    # time travel: v1 still sees every row
    assert len(_snapshot(spark, path, 1)) == 30


def test_dv_deletes_accumulate_and_compact_materializes(spark, mart):
    path, df = mart
    ledger.ledger_delete(spark, path, _keys_df(spark, [0]), "k", mode="dv")
    ledger.ledger_delete(spark, path, _keys_df(spark, [3]), "k", mode="dv")
    want = sorted(
        (r.k, r.price, r.year)
        for r in df.filter(~F.col("k").isin([0, 3])).collect()
    )
    assert _snapshot(spark, path) == want
    # default compact selection picks the DV'd partition and settles it
    v = ledger.ledger_compact(spark, path)
    m = ledger._read_manifest(path, v)
    assert not any(e.get("dv") for e in m["partitions"].values())
    assert _snapshot(spark, path) == want


def test_dv_sidecars_survive_vacuum_and_orphan_when_settled(spark, mart):
    path, df = mart
    ledger.ledger_delete(spark, path, _keys_df(spark, [0, 1]), "k", mode="dv")
    want = _snapshot(spark, path)
    ledger.ledger_vacuum(path, keep_versions=1)
    assert _snapshot(spark, path) == want  # sidecar retained: still applied
    ledger.ledger_compact(spark, path)
    deleted = ledger.ledger_vacuum(path, keep_versions=1)
    assert deleted  # settled sidecar + superseded data dirs are collectable
    assert _snapshot(spark, path) == want


def test_dv_delete_feeds_the_change_feed(spark, mart):
    path, df = mart
    ledger.ledger_delete(spark, path, _keys_df(spark, [5, 7]), "k", mode="dv")
    feed = ledger.ledger_changes(spark, path, "k", ["price"], 1, 2)
    got = sorted((r.k, r.change_type) for r in feed.collect())
    assert got == [(5, "removed"), (7, "removed")]


def test_rewrite_delete_on_dv_partition_materializes(spark, mart):
    path, df = mart
    ledger.ledger_delete(spark, path, _keys_df(spark, [0]), "k", mode="dv")
    ledger.ledger_delete(spark, path, _keys_df(spark, [3]), "k")  # rewrite
    m = ledger._read_manifest(path, 3)
    assert not m["partitions"]["2000"].get("dv")
    want = sorted(
        (r.k, r.price, r.year)
        for r in df.filter(~F.col("k").isin([0, 3])).collect()
    )
    assert _snapshot(spark, path) == want


def test_dv_merge_on_dv_partition_keeps_tombstones_correct(spark, mart):
    path, df = mart
    ledger.ledger_delete(spark, path, _keys_df(spark, [0]), "k", mode="dv")
    upd = spark.createDataFrame([(3, 999.0, "2000")], "k long, price double, year string")
    ledger.ledger_merge(spark, path, upd, "k")
    rows = dict((r.k, r.price) for r in ledger.ledger_read(spark, path).collect())
    assert 0 not in rows and rows[3] == 999.0 and len(rows) == 29


def test_dv_contracts(spark, mart):
    path, df = mart
    with pytest.raises(ValueError, match="mode must be"):
        ledger.ledger_delete(spark, path, _keys_df(spark, [0]), "k", mode="x")
    ledger.ledger_delete(spark, path, _keys_df(spark, [0]), "k", mode="dv")
    with pytest.raises(ValueError, match="deletion vectors keyed by"):
        ledger.ledger_delete(
            spark, path, spark.createDataFrame([(1.0,)], "price double"),
            "price", mode="dv",
        )


def test_dv_full_partition_tombstone_reads_empty(spark, mart):
    path, df = mart
    all_2002 = _keys_df(spark, [k for k in range(30) if k % 3 == 2])
    ledger.ledger_delete(spark, path, all_2002, "k", mode="dv")
    got = ledger.ledger_read(spark, path)
    assert got.filter(F.col("year") == "2002").count() == 0
    assert got.count() == 20


def test_zorder_compact_prunes_both_dimensions_and_keeps_state(tmp_path, spark):
    """OPTIMIZE ZORDER: a constructed (x, y) grid written in a random
    layout prunes nothing at file grain; after zorder_by=(x, y) both
    single-dimension range probes keep a strict subset of files and the
    table state is unchanged."""
    import itertools

    rows = [
        (i, float(x), float(y), "p0")
        for i, (x, y) in enumerate(itertools.product(range(32), range(32)))
    ]
    df = spark.createDataFrame(rows, "k long, x double, y double, year string")
    path = str(tmp_path / "zmart")
    ledger.ledger_write(
        spark, df.repartition(8), path, "year", stats_cols=["x", "y"]
    )
    before = sorted((r.k,) for r in ledger.ledger_read(spark, path).select("k").collect())
    v = ledger.ledger_compact(spark, path, zorder_by=("x", "y"), zorder_files=8)
    m = ledger._read_manifest(path, v)
    total = sum(len(e.get("files", {})) for e in m["partitions"].values())
    kept_x = sum(
        len(f) for f in ledger.ledger_plan_files(path, "x", 0.0, 3.0).values()
    )
    kept_y = sum(
        len(f) for f in ledger.ledger_plan_files(path, "y", 0.0, 3.0).values()
    )
    assert kept_x < total and kept_y < total, (kept_x, kept_y, total)
    after = sorted((r.k,) for r in ledger.ledger_read(spark, path).select("k").collect())
    assert after == before
    with pytest.raises(ValueError, match="exactly two columns"):
        ledger.ledger_compact(spark, path, zorder_by=("x",))


# ---------------------------------------------------------------------------
# additive schema evolution (merge_schema)
# ---------------------------------------------------------------------------


def test_merge_schema_evolves_additively_without_rewrites(spark, mart):
    path, df = mart
    m1 = ledger._read_manifest(path, 1)
    upd = spark.createDataFrame(
        [(3, 999.0, "2000", "VIP"), (100, 5.0, "2099", "NEW")],
        "k long, price double, year string, tier string",
    )
    with pytest.raises(ValueError, match="merge_schema=True"):
        ledger.ledger_merge(spark, path, upd, "k")
    v2 = ledger.ledger_merge(spark, path, upd, "k", merge_schema=True)
    m2 = ledger._read_manifest(path, v2)
    assert [f["name"] for f in m2["schema"]["fields"]][-1] == "tier"
    # untouched partitions keep their ORIGINAL files (no rewrite)
    assert (
        m2["partitions"]["2001"]["dir"] == m1["partitions"]["2001"]["dir"]
    )
    got = {
        r.k: (r.price, r.tier)
        for r in ledger.ledger_read(spark, path).collect()
    }
    assert got[3] == (999.0, "VIP") and got[100] == (5.0, "NEW")
    # pre-evolution rows materialize the new column as NULL at read time
    assert got[4] == (40.0, None) and got[1] == (10.0, None)
    assert len(got) == 31
    # a later plain merge must carry the evolved column set
    upd2 = spark.createDataFrame(
        [(5, 1.0, "2002")], "k long, price double, year string"
    )
    with pytest.raises(ValueError, match="missing existing columns"):
        ledger.ledger_merge(spark, path, upd2, "k", merge_schema=True)


def test_reads_plan_from_recorded_schema_without_inference_jobs(
    spark, mart, count_jobs, monkeypatch
):
    path, _ = mart
    jobs, _ = count_jobs(lambda: ledger.ledger_read(spark, path))
    assert jobs == 0
    # the read planned inside a merge infers nothing either
    planned = []
    read_partitions = ledger._read_partitions

    def counted(*args, **kwargs):
        n, out = count_jobs(lambda: read_partitions(*args, **kwargs))
        planned.append(n)
        return out

    monkeypatch.setattr(ledger, "_read_partitions", counted)
    upd = spark.createDataFrame(
        [(3, 999.0, "2000", 7)], "k long, price double, year string, tier int"
    )
    ledger.ledger_merge(spark, path, upd, "k", merge_schema=True)
    assert planned == [0]
    # after the evolution, directories written before it read back the new
    # column as typed NULLs, in the recorded column order
    ledger.ledger_delete(spark, path, spark.createDataFrame([(4,)], "k long"), "k", mode="dv")
    jobs, snap = count_jobs(lambda: ledger.ledger_read(spark, path))
    assert jobs == 0
    assert snap.dtypes == [
        ("k", "bigint"), ("price", "double"), ("year", "string"), ("tier", "int"),
    ]
    got = {r.k: (r.price, r.tier) for r in snap.collect()}
    assert got[3] == (999.0, 7) and got[1] == (10.0, None) and got[2] == (20.0, None)
    assert 4 not in got and len(got) == 29


def test_writes_conform_batch_types_to_recorded_schema(spark, tmp_path):
    # Python ints default to bigint: a merge or replacement into an `int`
    # table must write INT32 files, or every later read that declares the
    # recorded schema would fail to convert INT64 down to int
    path = str(tmp_path / "t")
    ledger.ledger_write(
        spark,
        spark.createDataFrame([(k, k % 2) for k in range(6)], "k int, p int"),
        path,
        "p",
    )
    ledger.ledger_merge(spark, path, spark.createDataFrame([(1, 1), (9, 1)], ["k", "p"]), "k")
    ledger.ledger_replace_partitions(
        spark, path, spark.createDataFrame([(0, 0), (20, 0)], ["k", "p"]), ["0"]
    )
    ledger.ledger_delete(spark, path, spark.createDataFrame([(3,)], ["k"]), "k", mode="dv")
    snap = ledger.ledger_read(spark, path)
    assert snap.dtypes == [("k", "int"), ("p", "int")]
    assert sorted(r.k for r in snap.collect()) == [0, 1, 5, 9, 20]
    # a value the recorded type cannot hold is refused, not wrapped
    with pytest.raises(Exception, match="cannot hold"):
        ledger.ledger_merge(
            spark, path, spark.createDataFrame([(2**40, 1)], ["k", "p"]), "k"
        )
    # re-typing a column is not evolution
    with pytest.raises(ValueError, match="re-type"):
        ledger.ledger_merge(
            spark, path, spark.createDataFrame([("x", 1)], "k string, p int"), "k"
        )
    assert sorted(r.k for r in ledger.ledger_read(spark, path).collect()) == [0, 1, 5, 9, 20]


# ---------------------------------------------------------------------------
# optimistic concurrency: disjoint-partition writers rebase, overlapping
# writers conflict (Delta VLDB 2020 §3.2 at the partition grain)
# ---------------------------------------------------------------------------


def _inject_before_commit(monkeypatch, fn):
    """Patch ledger._commit so the NEXT commit attempt first runs ``fn``
    (a competitor landing its own commit), then proceeds — the
    deterministic form of losing the CAS race."""
    real_commit = ledger._commit

    def racing_commit(path, manifest, version):
        monkeypatch.setattr(ledger, "_commit", real_commit)
        fn()
        return real_commit(path, manifest, version)

    monkeypatch.setattr(ledger, "_commit", racing_commit)


def test_disjoint_partition_writers_rebase_and_both_land(
    spark, mart, monkeypatch
):
    path, df = mart
    upd_a = spark.createDataFrame(
        [(1, 111.0, "2001")], "k long, price double, year string"
    )
    upd_b = spark.createDataFrame(
        [(2, 222.0, "2002"), (200, 9.0, "2999")],
        "k long, price double, year string",
    )

    def competitor():
        assert ledger.ledger_merge(spark, path, upd_a, "k") == 2

    _inject_before_commit(monkeypatch, competitor)
    # B computed against v1, loses the CAS at v2, rebases (its touched
    # partitions {2002, 2999} are disjoint from A's {2001}), lands at v3
    assert ledger.ledger_merge(spark, path, upd_b, "k") == 3
    m2 = ledger._read_manifest(path, 2)
    m3 = ledger._read_manifest(path, 3)
    # A's repoint survives the rebase verbatim; untouched dirs carry
    assert m3["partitions"]["2001"] == m2["partitions"]["2001"]
    assert m3["partitions"]["2000"] == m2["partitions"]["2000"]
    got = {r.k: r.price for r in ledger.ledger_read(spark, path).collect()}
    assert got[1] == 111.0 and got[2] == 222.0 and got[200] == 9.0
    assert len(got) == 31


def test_overlapping_partition_writers_raise_instead_of_lost_update(
    spark, mart, monkeypatch
):
    path, _ = mart
    upd_a = spark.createDataFrame(
        [(1, 111.0, "2001")], "k long, price double, year string"
    )
    upd_b = spark.createDataFrame(
        [(4, 444.0, "2001")], "k long, price double, year string"
    )

    def competitor():
        assert ledger.ledger_merge(spark, path, upd_a, "k") == 2

    _inject_before_commit(monkeypatch, competitor)
    with pytest.raises(
        ledger.LedgerConcurrentWriteError, match=r"2001.*superseded"
    ):
        ledger.ledger_merge(spark, path, upd_b, "k")
    # A's commit is the table's final word; B left only orphans
    got = {r.k: r.price for r in ledger.ledger_read(spark, path).collect()}
    assert got[1] == 111.0 and got[4] == 40.0
    assert ledger._manifest_versions(path) == [1, 2]


def test_rebase_merges_txn_watermarks_at_per_app_max(
    spark, mart, monkeypatch
):
    path, _ = mart
    upd_a = spark.createDataFrame(
        [(1, 111.0, "2001")], "k long, price double, year string"
    )
    upd_b = spark.createDataFrame(
        [(2, 222.0, "2002")], "k long, price double, year string"
    )

    def competitor():
        ledger.ledger_merge(spark, path, upd_a, "k", txn=("appA", 7))

    _inject_before_commit(monkeypatch, competitor)
    assert ledger.ledger_merge(spark, path, upd_b, "k", txn=("appB", 3)) == 3
    assert ledger._read_manifest(path, 3)["txn"] == {"appA": 7, "appB": 3}


def test_rebase_detects_competitor_applied_same_txn(
    spark, mart, monkeypatch
):
    """Exactly-once across the race: if the CAS winner already recorded
    OUR (app, txn_id), the retry is a pure no-op — the batch must not
    apply twice."""
    path, _ = mart
    upd = spark.createDataFrame(
        [(1, 111.0, "2001")], "k long, price double, year string"
    )

    def competitor():
        ledger.ledger_merge(spark, path, upd, "k", txn=("stream", 5))

    _inject_before_commit(monkeypatch, competitor)
    assert ledger.ledger_merge(spark, path, upd, "k", txn=("stream", 5)) == 2
    assert ledger._manifest_versions(path) == [1, 2]


def test_concurrent_delete_and_merge_on_disjoint_partitions_rebase(
    spark, mart, monkeypatch
):
    path, _ = mart
    doomed = spark.createDataFrame([(3,)], "k long")  # year 2000
    upd = spark.createDataFrame(
        [(1, 111.0, "2001")], "k long, price double, year string"
    )

    def competitor():
        ledger.ledger_merge(spark, path, upd, "k")

    _inject_before_commit(monkeypatch, competitor)
    assert ledger.ledger_delete(spark, path, doomed, "k") == 3
    got = {r.k: r.price for r in ledger.ledger_read(spark, path).collect()}
    assert 3 not in got and got[1] == 111.0
    assert len(got) == 29


def test_compact_rebases_over_a_merge_into_another_partition(
    spark, mart, tmp_path, monkeypatch
):
    """Compaction is scoped to the partitions it rewrites: a merge into
    another partition that lands while it writes rebases under it, and
    the table ends as merge-then-compact would leave it."""
    path, df = mart
    upd = spark.createDataFrame(
        [(2, 222.0, "2002"), (300, 3.0, "2999")],
        "k long, price double, year string",
    )
    twin = str(tmp_path / "twin")
    ledger.ledger_write(spark, df, twin, "year")
    ledger.ledger_merge(spark, twin, upd, "k")
    ledger.ledger_compact(spark, twin, partitions=["2000"])

    _inject_before_commit(
        monkeypatch, lambda: ledger.ledger_merge(spark, path, upd, "k")
    )
    assert ledger.ledger_compact(spark, path, partitions=["2000"]) == 3
    m2, m3 = (ledger._read_manifest(path, v) for v in (2, 3))
    assert m3["op"] == "OPTIMIZE"
    assert m3["partitions"]["2002"] == m2["partitions"]["2002"]
    assert m3["partitions"]["2999"] == m2["partitions"]["2999"]
    assert m3["partitions"]["2000"]["dir"] != m2["partitions"]["2000"]["dir"]
    assert _snapshot(spark, path) == _snapshot(spark, twin)


def test_add_check_does_not_rebase_over_a_concurrent_new_partition(
    spark, mart, monkeypatch
):
    """ADD CONSTRAINT validated the snapshot it read. A partition a
    competitor adds meanwhile was never checked, so the commit fails
    instead of rebasing over it."""
    path, _ = mart
    upd = spark.createDataFrame(
        [(300, -5.0, "2999")], "k long, price double, year string"
    )
    _inject_before_commit(
        monkeypatch, lambda: ledger.ledger_merge(spark, path, upd, "k")
    )
    with pytest.raises(RuntimeError, match="commit conflict"):
        ledger.ledger_add_check(spark, path, "price_nonneg", "price >= 0")
    assert ledger._manifest_versions(path) == [1, 2]
    assert ledger._read_manifest(path, 2)["checks"] is None


# ---------------------------------------------------------------------------
# RESTORE: metadata-only rollback as a forward commit
# ---------------------------------------------------------------------------


def test_restore_rolls_state_back_as_a_new_version(spark, mart):
    path, df = mart
    want_v1 = _snapshot(spark, path)
    upd = spark.createDataFrame(
        [(1, 999.0, "2001")], "k long, price double, year string"
    )
    ledger.ledger_merge(spark, path, upd, "k", txn=("stream", 5))
    ledger.ledger_delete(
        spark, path, spark.createDataFrame([(2,)], "k long"), "k"
    )
    assert _snapshot(spark, path) != want_v1
    v = ledger.ledger_restore(path, 1)
    assert v == 4
    assert _snapshot(spark, path) == want_v1
    # the bad versions stay time-travelable (forward commit, not rewrite)
    assert _snapshot(spark, path, version=3) != want_v1
    # exactly-once watermarks survive the rollback at per-app max
    assert ledger._read_manifest(path, 4)["txn"] == {"stream": 5}
    # restore-to-current is a no-op; vacuumed history is not restorable
    assert ledger.ledger_restore(path, 4) == 4
    assert ledger._manifest_versions(path) == [1, 2, 3, 4]
    ledger.ledger_vacuum(path, keep_versions=1)
    with pytest.raises(ValueError, match="not restorable"):
        ledger.ledger_restore(path, 2)


# ---------------------------------------------------------------------------
# SHALLOW CLONE: zero-copy fork, copy-on-write divergence
# ---------------------------------------------------------------------------


def test_shallow_clone_reads_source_and_diverges_copy_on_write(
    spark, mart, tmp_path
):
    path, df = mart
    want_src = _snapshot(spark, path)
    dst = str(tmp_path / "fork")
    assert ledger.ledger_clone(path, dst) == 1
    # zero data copied: the clone dir holds only the manifest
    assert not [n for n in os.listdir(dst) if n.startswith("data-")]
    assert _snapshot(spark, dst) == want_src
    # a write to the CLONE lands clone-local dirs and leaves the source
    upd = spark.createDataFrame(
        [(1, 999.0, "2001")], "k long, price double, year string"
    )
    ledger.ledger_merge(spark, dst, upd, "k")
    assert len([n for n in os.listdir(dst) if n.startswith("data-")]) == 1
    assert _snapshot(spark, path) == want_src  # source untouched
    got = {r.k: r.price for r in ledger.ledger_read(spark, dst).collect()}
    assert got[1] == 999.0 and len(got) == 30
    # untouched partitions still plan onto the SOURCE's directories
    m2 = ledger._read_manifest(dst, 2)
    assert m2["partitions"]["2000"]["dir"].startswith(os.path.abspath(path))
    assert not os.path.isabs(m2["partitions"]["2001"]["dir"])
    # vacuum on the clone only ever removes clone-local dirs
    ledger.ledger_vacuum(dst, keep_versions=1)
    assert _snapshot(spark, path) == want_src
    assert got == {
        r.k: r.price for r in ledger.ledger_read(spark, dst).collect()
    }


def test_clone_pins_a_version_and_rejects_existing_destination(
    spark, mart, tmp_path
):
    path, df = mart
    want_v1 = _snapshot(spark, path)
    upd = spark.createDataFrame(
        [(1, 999.0, "2001")], "k long, price double, year string"
    )
    ledger.ledger_merge(spark, path, upd, "k")
    dst = str(tmp_path / "pinned")
    ledger.ledger_clone(path, dst, version=1)
    assert _snapshot(spark, dst) == want_v1  # the PRE-merge state
    # clones are new tables: txn watermarks reset
    assert ledger._read_manifest(dst, 1)["txn"] == {}
    with pytest.raises(ValueError, match="already a ledger table"):
        ledger.ledger_clone(path, dst)


# ---------------------------------------------------------------------------
# CHECK constraints (Delta invariants): write-time enforcement
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_checks_gate_every_write_path_and_ride_the_manifest(
    spark, tmp_path
):
    df = spark.createDataFrame(
        [(k, float(k * 10), str(2000 + k % 3)) for k in range(1, 30)],
        "k long, price double, year string",
    )
    path = str(tmp_path / "checked")
    # a violating INITIAL frame is rejected before any data lands
    bad_init = df.unionByName(
        spark.createDataFrame(
            [(99, -5.0, "2001")], "k long, price double, year string"
        )
    )
    with pytest.raises(ValueError, match="price_pos.*fails 1 row"):
        ledger.ledger_write(
            spark, bad_init, path, "year", checks={"price_pos": "price > 0"}
        )
    assert not ledger._manifest_versions(path)
    ledger.ledger_write(
        spark, df, path, "year", checks={"price_pos": "price > 0"}
    )
    # merge: good batch passes, violating batch rejected atomically
    good = spark.createDataFrame(
        [(1, 999.0, "2001")], "k long, price double, year string"
    )
    assert ledger.ledger_merge(spark, path, good, "k") == 2
    bad = spark.createDataFrame(
        [(2, -1.0, "2002"), (3, -2.0, "2000")],
        "k long, price double, year string",
    )
    with pytest.raises(ValueError, match="fails 2 row"):
        ledger.ledger_merge(spark, path, bad, "k")
    assert ledger._manifest_versions(path) == [1, 2]
    # SQL CHECK semantics: NULL predicate result PASSES
    nullrow = spark.createDataFrame(
        [(50, None, "2000")], "k long, price double, year string"
    )
    assert ledger.ledger_merge(spark, path, nullrow, "k") == 3
    # checks survive delete + compact + restore commits
    ledger.ledger_delete(
        spark, path, spark.createDataFrame([(50,)], "k long"), "k"
    )
    ledger.ledger_compact(spark, path)
    ledger.ledger_restore(path, 2)
    m = ledger._read_manifest(path, ledger._manifest_versions(path)[-1])
    assert m["checks"] == {"price_pos": "price > 0"}
    with pytest.raises(ValueError, match="price_pos"):
        ledger.ledger_merge(spark, path, bad, "k")


def test_add_check_validates_existing_data_first(spark, mart):
    path, _ = mart  # prices are k*10 with k=0 present -> price 0.0 exists
    with pytest.raises(ValueError, match="fails 1 row"):
        ledger.ledger_add_check(spark, path, "price_pos", "price > 0")
    v = ledger.ledger_add_check(spark, path, "price_nonneg", "price >= 0")
    assert v == 2
    with pytest.raises(ValueError, match="already exists"):
        ledger.ledger_add_check(spark, path, "price_nonneg", "price >= 0")
    # the added constraint now gates merges
    bad = spark.createDataFrame(
        [(1, -1.0, "2001")], "k long, price double, year string"
    )
    with pytest.raises(ValueError, match="price_nonneg"):
        ledger.ledger_merge(spark, path, bad, "k")


def test_history_records_every_operation(spark, mart, tmp_path):
    path, _ = mart
    upd = spark.createDataFrame(
        [(1, 999.0, "2001")], "k long, price double, year string"
    )
    ledger.ledger_merge(spark, path, upd, "k", txn=("s", 3))
    ledger.ledger_delete(
        spark, path, spark.createDataFrame([(2,)], "k long"), "k"
    )
    ledger.ledger_compact(spark, path)
    ledger.ledger_restore(path, 2)
    ledger.ledger_add_check(spark, path, "nonneg", "price >= -1")
    dst = str(tmp_path / "fork")
    ledger.ledger_clone(path, dst)
    hist = {
        r["version"]: (r["op"], r["n_partitions"])
        for r in ledger.ledger_history(spark, path).collect()
    }
    assert [hist[v][0] for v in sorted(hist)] == [
        "WRITE", "MERGE", "DELETE", "OPTIMIZE", "RESTORE", "ADD CONSTRAINT"
    ]
    assert hist[1][1] == 3  # three year partitions live at v1
    assert (
        ledger.ledger_history(spark, dst).collect()[0]["op"] == "CLONE"
    )
    # txn watermarks surface in history
    import json as _json

    row = [
        r for r in ledger.ledger_history(spark, path).collect()
        if r["version"] == 2
    ][0]
    assert _json.loads(row["txn"]) == {"s": 3}


def test_clone_carries_checks_and_concurrent_check_change_conflicts(
    spark, tmp_path, monkeypatch
):
    df = spark.createDataFrame(
        [(k, float(k * 10 + 10), str(2000 + k % 3)) for k in range(12)],
        "k long, price double, year string",
    )
    path = str(tmp_path / "src")
    ledger.ledger_write(
        spark, df, path, "year", checks={"price_pos": "price > 0"}
    )
    # the clone inherits the table contract
    dst = str(tmp_path / "fork")
    ledger.ledger_clone(path, dst)
    bad = spark.createDataFrame(
        [(1, -1.0, "2001")], "k long, price double, year string"
    )
    with pytest.raises(ValueError, match="price_pos"):
        ledger.ledger_merge(spark, dst, bad, "k")
    # a competitor ADDing a constraint mid-flight is a rebase conflict:
    # the loser's batch was validated against the OLD contract
    upd = spark.createDataFrame(
        [(1, 111.0, "2001")], "k long, price double, year string"
    )

    def competitor():
        ledger.ledger_add_check(spark, path, "price_sane", "price < 1e9")

    real_commit = ledger._commit

    def racing_commit(p, manifest, version):
        monkeypatch.setattr(ledger, "_commit", real_commit)
        competitor()
        return real_commit(p, manifest, version)

    monkeypatch.setattr(ledger, "_commit", racing_commit)
    with pytest.raises(
        ledger.LedgerConcurrentWriteError, match="checks"
    ):
        ledger.ledger_merge(spark, path, upd, "k")


@pytest.mark.slow
def test_round10_review_fixes(spark, tmp_path):
    """Regression pins for the round-10 ledger review findings."""
    # table with tracked stats (the per-FILE skip grain)
    df = spark.createDataFrame(
        [(k, float(k * 10), str(2000 + k % 2)) for k in range(10)],
        "k long, price double, year string",
    )
    path = str(tmp_path / "m")
    ledger.ledger_write(spark, df, path, "year", stats_cols=("price",))

    # (1) a NO-MATCH delete must commit NOTHING — even when the keys
    # frame names the partition column (the old path skipped the confirm
    # scan, rewrote whole partitions byte-identically, and in dv mode
    # set dv_key on a table with zero tombstones)
    ghost = spark.createDataFrame([(999, "2000")], "k long, year string")
    assert ledger.ledger_delete(spark, path, ghost, "k") == 1
    assert ledger._manifest_versions(path) == [1]
    assert ledger.ledger_delete(spark, path, ghost, "k", mode="dv") == 1
    assert ledger._read_manifest(path, 1).get("dv_key") is None

    # (2) a delete that empties every row of a stats-tracked partition
    # set must COMMIT the emptied table (the old readback died on
    # schema inference over a file-less directory)
    everything = spark.createDataFrame(
        [(k,) for k in range(10)], "k long"
    )
    v = ledger.ledger_delete(spark, path, everything, "k")
    assert v == 2
    assert ledger.ledger_read(spark, path).count() == 0

    # (3) merge batches missing EXISTING columns raise the clear
    # additive-only error regardless of merge_schema — including against
    # brand-new partitions, which previously NULL-filled silently
    partial = spark.createDataFrame([(1, "2999")], "k long, year string")
    with pytest.raises(ValueError, match="missing existing columns"):
        ledger.ledger_merge(spark, path, partial, "k")

    # (4) OPTIMIZE ZORDER with an all-NULL clustered column treats it as
    # constant instead of raising TypeError on None min/max
    df2 = spark.createDataFrame(
        [(k, None, float(k), "2000") for k in range(6)],
        "k long, x double, y double, year string",
    )
    p2 = str(tmp_path / "m2")
    ledger.ledger_write(spark, df2, p2, "year")
    ledger.ledger_merge(
        spark,
        p2,
        spark.createDataFrame(
            [(99, None, 7.0, "2000")], "k long, x double, y double, year string"
        ),
        "k",
    )
    want = sorted((r.k, r.x, r.y) for r in ledger.ledger_read(spark, p2).collect())
    ledger.ledger_compact(spark, p2, zorder_by=("x", "y"))
    got = sorted((r.k, r.x, r.y) for r in ledger.ledger_read(spark, p2).collect())
    assert got == want


# ---------------------------------------------------------------------------
# crash-mid-vacuum / crash-mid-delete fault injection (round-10 verdict
# item 7): the ledger's two non-atomic multi-step maintenance paths must
# leave every RETAINED version readable when killed between steps, and a
# rerun must complete the interrupted work.
# ---------------------------------------------------------------------------


def test_vacuum_killed_between_data_delete_and_manifest_unlink(
    spark, mart, monkeypatch
):
    """Vacuum is two steps: rmtree collectable data dirs, then unlink
    dropped manifests. Kill it after the FIRST rmtree and prove (a) the
    retained snapshot reads byte-identically at both its versions, (b)
    the rerun finishes the cleanup idempotently."""
    path, _ = mart
    # two merges rewriting the SAME partition: v2's 2001-dir becomes
    # exclusively owned by a soon-dropped version (the init dir stays
    # live via the untouched 2000/2002 partitions)
    for price in (999.0, 777.0):
        updates = spark.createDataFrame(
            [(1, price, "2001")], "k long, price double, year string"
        )
        ledger.ledger_merge(spark, path, updates, "k")
    assert ledger._manifest_versions(path) == [1, 2, 3]
    before_v3 = _snapshot(spark, path, version=3)
    before_latest = _snapshot(spark, path)

    real_rmtree = ledger.shutil.rmtree
    calls: list[str] = []

    def dying_rmtree(p, *a, **k):
        real_rmtree(p, *a, **k)
        calls.append(p)
        raise KeyboardInterrupt("injected kill after first data delete")

    monkeypatch.setattr(ledger.shutil, "rmtree", dying_rmtree)
    with pytest.raises(KeyboardInterrupt):
        # keep only v3: v2's exclusive dir for partition 2001 is
        # collectable; the crash lands after it is gone but with the
        # v1/v2 manifests still on disk
        ledger.ledger_vacuum(path, keep_versions=1, retention_s=0.0)
    monkeypatch.setattr(ledger.shutil, "rmtree", real_rmtree)
    assert len(calls) == 1

    # the retained version reads exactly as before the crash, via both
    # the latest-resolution and the explicit-version path
    assert _snapshot(spark, path) == before_latest
    assert _snapshot(spark, path, version=3) == before_v3
    # the v1/v2 manifests survived the crash and v2 references the
    # deleted dir — the half-vacuumed state. The RERUN must complete:
    # drop the stale manifests and any remaining collectable dirs.
    ledger.ledger_vacuum(path, keep_versions=1, retention_s=0.0)
    assert ledger._manifest_versions(path) == [3]
    assert _snapshot(spark, path) == before_latest
    # third run: nothing left to do
    assert ledger.ledger_vacuum(path, keep_versions=1, retention_s=0.0) == []


def test_delete_killed_between_tombstone_and_manifest_commit(
    spark, mart, monkeypatch
):
    """DV delete is two steps: write the tombstone sidecar dir, then
    commit the manifest that points at it. Kill between them and prove
    the table reads consistently at the pre-delete version, the fresh
    orphan sidecar is protected by the in-flight retention guard, and a
    retried delete lands cleanly."""
    path, _ = mart
    before = _snapshot(spark, path)
    doomed = spark.createDataFrame([(3,), (4,)], "k long")

    real_commit = ledger._commit

    def dying_commit(*a, **k):
        raise KeyboardInterrupt("injected kill before manifest commit")

    monkeypatch.setattr(ledger, "_commit", dying_commit)
    with pytest.raises(KeyboardInterrupt):
        ledger.ledger_delete(spark, path, doomed, "k", mode="dv")
    monkeypatch.setattr(ledger, "_commit", real_commit)

    # no manifest landed: readers see the pre-delete table at every
    # retained version; the orphaned tombstone dir is invisible
    assert ledger._manifest_versions(path) == [1]
    assert _snapshot(spark, path) == before
    # the fresh orphan is indistinguishable from an in-flight writer's
    # data: default-retention vacuum must NOT reclaim it...
    assert ledger.ledger_vacuum(path, keep_versions=1) == []
    assert _snapshot(spark, path) == before
    # ...and the retried delete commits normally on the intact snapshot
    v = ledger.ledger_delete(spark, path, doomed, "k", mode="dv")
    assert v == 2
    assert _snapshot(spark, path) == [
        r for r in before if r[0] not in (3, 4)
    ]
    # time travel to the pre-delete version still reads the full table
    assert _snapshot(spark, path, version=1) == before
    # quiescent-window vacuum reclaims the crashed attempt's orphan
    # without touching the live DV sidecar the retry committed
    orphans = ledger.ledger_vacuum(path, keep_versions=2, retention_s=0.0)
    assert len(orphans) == 1
    assert _snapshot(spark, path) == [
        r for r in before if r[0] not in (3, 4)
    ]


def test_write_metadata_passes_do_not_reexecute_input(spark, tmp_path):
    """Round-12 optimization contract: ledger_write executes the input
    DAG exactly ONCE (the data write). Partition stats, the bloom key
    index, and per-file stats must come from a readback of the written
    files — re-running the input (often a full merge join upstream) once
    per metadata pass tripled the write cost. Pinned with an accumulator
    inside the input DAG: after a stats+bloom write it must equal the
    input row count exactly."""
    calls = spark.sparkContext.accumulator(0)

    def counting(it):
        for batch in it:
            calls.add(batch.num_rows)
            yield batch

    base = spark.createDataFrame(
        [(k, float(k * 10), str(2000 + k % 3)) for k in range(30)],
        "k long, price double, year string",
    ).mapInArrow(counting, "k long, price double, year string")
    path = str(tmp_path / "mart_once")
    v = ledger.ledger_write(
        spark, base, path, "year",
        stats_cols=["k", "price"], key_index_col="k",
    )
    assert v == 1
    assert calls.value == 30
    # and the readback-derived metadata is still the real table metadata
    m = ledger._read_manifest(path, 1)
    assert sorted(m["partitions"]) == ["2000", "2001", "2002"]
    assert sum(e["rows"] for e in m["partitions"].values()) == 30
    assert all("key_bloom" in e for e in m["partitions"].values())
    ks = [e["stats"]["k"] for e in m["partitions"].values()]
    assert min(s["min"] for s in ks) == 0.0
    assert max(s["max"] for s in ks) == 29.0


@pytest.mark.slow
def test_readback_stats_match_input_dag_stats_on_hostile_partitions():
    """Round-13 differential (r12 verdict item 8): the write path derives
    partition AND per-file stats from a READBACK of the written files
    (partition values re-cast off the Hive directory names), so hostile
    partition values — %XX-escaped characters, unicode, leading/trailing
    spaces, numeric casts through directory names — must round-trip to
    EXACTLY the stats the old in-DAG aggregate produced. Hypothesis
    drives the partition-value alphabet; the differential compares the
    committed manifest against a direct groupBy of the input frame."""
    import math

    from hypothesis import HealthCheck, given, settings, strategies as st

    from weather_api_automate_etl_spark.session import get_spark

    spark = get_spark("tests", master="local[4]", shuffle_partitions=4)

    hostile_chars = st.sampled_from(
        list("abz019 :%=/\\#'\"[]{}+,.-_é中")
    )
    pv_strategy = st.text(hostile_chars, min_size=1, max_size=12).filter(
        # Hive writes a trailing-space or trailing-dot dirname on some
        # filesystems ambiguously; values must also not be ALL spaces
        lambda s: s.strip() == s and s not in {"__HIVE_DEFAULT_PARTITION__"}
    )

    @given(
        pvs=st.lists(pv_strategy, min_size=1, max_size=4, unique=True),
        rows=st.lists(
            st.tuples(st.integers(0, 99), st.floats(-1e6, 1e6)),
            min_size=1,
            max_size=24,
        ),
    )
    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    def run(pvs, rows):
        data = [
            (int(k), float(v), pvs[i % len(pvs)])
            for i, (k, v) in enumerate(rows)
        ]
        df = spark.createDataFrame(data, "k long, price double, pt string")
        path = tempfile.mkdtemp(prefix="hostile_stats_")
        shutil.rmtree(path)
        try:
            ledger.ledger_write(
                spark, df, path, "pt", stats_cols=["k", "price"]
            )
            m = ledger._read_manifest(path, 1)
            # the old in-DAG form: aggregate the INPUT frame directly
            want = {
                r["pt"]: r
                for r in df.groupBy("pt")
                .agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.min("k").cast("double").alias("kmin"),
                    F.max("k").cast("double").alias("kmax"),
                    F.min("price").cast("double").alias("pmin"),
                    F.max("price").cast("double").alias("pmax"),
                )
                .collect()
            }
            assert set(m["partitions"]) == set(want)
            for pv, e in m["partitions"].items():
                w = want[pv]
                assert e["rows"] == w["rows"]
                assert math.isclose(e["stats"]["k"]["min"], w["kmin"])
                assert math.isclose(e["stats"]["k"]["max"], w["kmax"])
                assert math.isclose(e["stats"]["price"]["min"], w["pmin"])
                assert math.isclose(e["stats"]["price"]["max"], w["pmax"])
                # per-file stats fold back to the partition stats
                fs = e.get("files", {})
                assert sum(f["rows"] for f in fs.values()) == e["rows"]
                assert math.isclose(
                    min(f["stats"]["k"]["min"] for f in fs.values()),
                    e["stats"]["k"]["min"],
                )
                assert math.isclose(
                    max(f["stats"]["price"]["max"] for f in fs.values()),
                    e["stats"]["price"]["max"],
                )
        finally:
            shutil.rmtree(path, ignore_errors=True)

    run()
