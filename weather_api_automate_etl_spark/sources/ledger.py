"""Minimal snapshot-manifest table ledger — the atomicity + data-skipping
layer under partitioned-mart maintenance.

``merge_into_partitioned`` (operators/cdc.py) is the Hive-layout
primitive: correct, partition-pruned, but its dynamic overwrite swaps
files non-atomically — a crash between staging and delete can expose a
mixed partition state, which is exactly why production lakes put a
TRANSACTION LEDGER (Delta's _delta_log, Iceberg's metadata tree) between
writers and readers. This module is that model reduced to its load-bearing
core, reimplemented from the publicly documented design (Armbrust et al.,
"Delta Lake: High-Performance ACID Table Storage over Cloud Object
Stores", VLDB 2020):

- data files are IMMUTABLE: every write lands in a fresh ``data-<uuid>``
  directory; nothing is ever modified or deleted by a writer;
- the table state is a MANIFEST (``_ledger/v<N>.json``) mapping each
  partition value to an entry ``{dir, rows, stats}`` — the directory that
  owns its current files, its row count, and optional per-column min/max
  statistics — plus the partition column's dtype so readers restore types
  deterministically instead of relying on path inference;
- commits are a single atomic ``os.rename`` of a temp manifest into
  place (POSIX rename atomicity — the same primitive single-writer Delta
  relies on for its JSON commits). Readers resolve the newest manifest
  at open time: they see v<N> or v<N+1>, never a mix, and a writer crash
  before the rename leaves only unreferenced orphan files;
- a MERGE therefore rewrites only the touched partitions into a new
  directory and republishes the mapping with those keys repointed —
  untouched partitions are never read, written, or exposed to risk
  (upgrading merge_into_partitioned's best-effort checkpoint discipline
  to an actual atomic swap);
- the per-partition STATS enable manifest-level data skipping
  (``ledger_plan``/``ledger_scan``): a predicate on any stats-tracked
  column prunes every partition whose [min, max] cannot intersect it —
  the zone-map mechanism under Delta/Iceberg/Snowflake readers, and the
  reason a date-range query over a date-correlated column touches 2 of
  3000 partitions without the column being the partition key;
- ``ledger_compact`` is OPTIMIZE: rewrite chosen partitions' accumulated
  small files into one file per partition in a fresh directory and
  commit — readers never block, the small-files problem every
  append/merge-heavy table develops is fixed by a background writer;
- old versions stay readable (time travel / stale-reader safety) until
  ``vacuum`` drops manifests beyond a retention count and deletes data
  directories no retained manifest references;
- every operation but ``ledger_write`` derives its next manifest from the
  current one (``_next_manifest``) and commits by one of two rules. An
  operation scoped to partitions (merge, replace, delete, compact) commits
  through ``_commit_with_rebase`` with its touched set, so a concurrent
  commit to other partitions rebases under it. An operation whose read
  set is the whole table (write, clone, add_check, restore, repartition)
  commits with the plain CAS ``_commit`` and fails on any concurrent
  commit: a rebase would keep partitions a competitor added outside its
  read set, e.g. an unchecked partition under a new CHECK, or keys of the
  old partition spec in a repartitioned table.

Scale shape: the manifest is PARTITION-granular — O(live partitions)
JSON, metadata-scale (a 100 TB mart at daily grain is a few thousand
entries), never O(files) driver state; stats add two scalars per tracked
column per partition; data moves only for touched partitions; readers
plan directly from the manifest (no directory listing of the whole
table — the object-store win the ledger design exists for).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import tempfile
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import NullType, NumericType, StructType

_LEDGER_DIR = "_ledger"

#: ledger_delete's Bloom locate phase collects O(|keys|·hashes) probe
#: positions to the driver; beyond this many distinct keys it falls back
#: to the distributed semi-join scan (see ledger_delete's BOUND note)
_BLOOM_LOCATE_MAX_KEYS = 100_000

#: numeric Spark dtypes whose stats are stored (and compared) as floats;
#: everything else is stored stringified and compared lexicographically,
#: which is order-preserving for the types it is offered for (timestamps
#: and dates stringify as ISO-8601; plain strings compare as themselves)
_NUM_KINDS = ("int", "bigint", "smallint", "tinyint", "float", "double", "decimal")


def _manifest_versions(path: str) -> list[int]:
    d = os.path.join(path, _LEDGER_DIR)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _read_manifest(path: str, version: int) -> dict:
    with open(os.path.join(path, _LEDGER_DIR, f"v{version}.json")) as f:
        return json.load(f)


def _commit(path: str, manifest: dict, version: int) -> None:
    """Atomically publish ``manifest`` as v{version} with a true
    put-if-absent.

    Write-to-temp, then ``os.link`` the temp file to the final name:
    POSIX link(2) fails with EEXIST atomically when the target already
    exists, so two writers racing to commit the same version CANNOT both
    succeed — the loser gets a commit conflict instead of silently
    clobbering the winner (an exists-check followed by a rename leaves a
    TOCTOU window two local writers can both pass). This is the
    local-filesystem form of the CAS Delta gets from a coordinating
    LogStore on S3; readers either see the complete new manifest or none
    of it, exactly as before."""
    d = os.path.join(path, _LEDGER_DIR)
    os.makedirs(d, exist_ok=True)
    final = os.path.join(d, f"v{version}.json")
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, sort_keys=True)
        try:
            os.link(tmp, final)
        except FileExistsError:
            raise RuntimeError(
                f"ledger commit conflict: v{version} already exists at {path}"
            ) from None
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


class LedgerConcurrentWriteError(RuntimeError):
    """Two writers modified OVERLAPPING partitions from the same base
    version — the loser's merged data was computed against rows the
    winner has since replaced, so retrying the commit would publish a
    lost update. The caller must re-run the whole operation against the
    new snapshot (re-read, re-merge, re-commit); the ledger cannot rebase
    it mechanically. Disjoint-partition writers never see this — their
    commits rebase and land automatically (``_commit_with_rebase``)."""


def _changed_partitions(base_m: dict, latest_m: dict) -> set[str]:
    """Partition keys whose entry differs between two manifests —
    repointed directories, refreshed stats, added/dropped partitions, and
    deletion-vector sidecar changes all compare unequal because the entry
    dicts are value-compared wholesale."""
    base_p, latest_p = base_m["partitions"], latest_m["partitions"]
    return {
        pv
        for pv in set(base_p) | set(latest_p)
        if base_p.get(pv) != latest_p.get(pv)
    }


def _replayed(m: dict, txn: tuple[str, int] | None) -> bool:
    """Has ``m`` already applied ``txn=(app_id, txn_id)``? An id not above
    the app's recorded watermark is a replay."""
    return txn is not None and txn[1] <= m.get("txn", {}).get(txn[0], -1)


def _max_watermarks(*maps: dict[str, int]) -> dict[str, int]:
    """Per-app MAX of exactly-once watermark maps. Watermarks are
    monotone, so carrying a stale value for an app another commit
    advanced can never roll that app's floor backwards."""
    out: dict[str, int] = {}
    for wm in maps:
        for app, t in wm.items():
            out[app] = max(out.get(app, t), t)
    return out


def _next_manifest(
    m: dict,
    op: str,
    partitions: dict[str, dict],
    txn: tuple[str, int] | None = None,
    **changes,
) -> dict:
    """The manifest an operation commits on top of ``m``: every field
    carries over except ``op``, the partition mapping, the watermarks
    (``txn`` joins them at per-app max) and the fields in ``changes``."""
    return {
        **m,
        "op": op,
        "txn": _max_watermarks(m.get("txn", {}), dict([txn] if txn else [])),
        "partitions": partitions,
        **changes,
    }


def _partition_values(df: DataFrame, pcol: str) -> set[str | None]:
    """The distinct partition values ``df`` carries, in the manifest's raw
    cast-to-string key form (one Spark job)."""
    return {
        r["__pv"]
        for r in df.select(F.col(pcol).cast("string").alias("__pv"))
        .distinct()
        .collect()
    }


def _commit_with_rebase(
    path: str,
    base_version: int,
    base_m: dict,
    manifest: dict,
    touched: set[str],
    txn: tuple[str, int] | None = None,
    max_retries: int = 10,
) -> int:
    """Optimistic concurrency control over the CAS commit — the Delta
    conflict-resolution loop (Armbrust et al. VLDB 2020 §3.2) at the
    ledger's partition grain. It is the commit of every operation scoped
    to partitions (merge, replace, delete, compact, and a refresh that
    only advances a watermark, with an empty ``touched``). Operations
    whose read set is the whole table commit with the plain ``_commit``
    instead: replaying their manifest over a competitor's would keep
    partitions they never read.

    ``manifest`` was built against snapshot ``base_version``; ``touched``
    is the operation's combined read+write set (the partition values it
    re-resolved and rewrote/dropped). On a CAS loss the newer snapshot is
    inspected: if the interleaved commits changed only DISJOINT
    partitions, this writer's work is still valid verbatim — its entries
    are replayed on top of the latest manifest and the commit retries at
    the next version (two daily-partition backfills land concurrently
    without coordination). If any touched partition changed underneath,
    ``LedgerConcurrentWriteError`` — the semantic conflict OCC cannot
    rebase. Schema handling is additive-only, mirroring ledger_merge: a
    concurrent widening is adopted (this writer's files materialize the
    new columns as read-time NULLs); two DIFFERENT concurrent evolutions
    conflict. A concurrent commit that already advanced this writer's
    ``txn`` watermark turns the retry into a no-op (exactly-once is
    preserved across the rebase)."""

    def names(schema: dict | None) -> set[str]:
        return {f["name"] for f in (schema or {}).get("fields", [])}

    version = base_version + 1
    for _ in range(max_retries + 1):
        try:
            _commit(path, manifest, version)
            return version
        except RuntimeError:
            latest_v = _manifest_versions(path)[-1]
            latest_m = _read_manifest(path, latest_v)
            if _replayed(latest_m, txn):
                return latest_v  # competitor applied this very transaction
            if latest_m["partition_col"] != base_m["partition_col"] or (
                latest_m["partition_dtype"] != base_m["partition_dtype"]
            ):
                raise LedgerConcurrentWriteError(
                    f"concurrent commit changed the partitioning of {path}"
                ) from None
            for fixed in ("stats_cols", "key_index", "checks"):
                if latest_m.get(fixed) != base_m.get(fixed):
                    raise LedgerConcurrentWriteError(
                        f"concurrent commit changed {fixed!r} on {path} — "
                        f"rebase would mix indexing configurations"
                    ) from None
            overlap = sorted(touched & _changed_partitions(base_m, latest_m))
            if overlap:
                raise LedgerConcurrentWriteError(
                    f"concurrent write to partitions {overlap[:10]} of "
                    f"{path}: merged state was computed against "
                    f"v{base_version}, superseded by v{latest_v}"
                ) from None
            schema = manifest.get("schema")
            if latest_m.get("schema") != base_m.get("schema"):
                if schema != base_m.get("schema"):
                    raise LedgerConcurrentWriteError(
                        f"both writers evolved the schema of {path} from "
                        f"v{base_version} — cannot rebase"
                    ) from None
                # competitor widened; additive evolution means our files
                # simply materialize the new columns as NULLs
                if not names(base_m.get("schema")) <= names(latest_m.get("schema")):
                    raise LedgerConcurrentWriteError(
                        f"concurrent non-additive schema change on "
                        f"{path} — cannot rebase"
                    ) from None
                schema = latest_m.get("schema")
            dv_key = manifest.get("dv_key")
            if dv_key == base_m.get("dv_key"):
                dv_key = latest_m.get("dv_key")
            elif latest_m.get("dv_key") not in (base_m.get("dv_key"), dv_key):
                raise LedgerConcurrentWriteError(
                    f"concurrent deletes set different deletion-vector "
                    f"keys on {path} ({latest_m.get('dv_key')!r} vs "
                    f"{dv_key!r}) — cannot rebase"
                ) from None
            manifest = {
                **manifest,
                "schema": schema,
                "dv_key": dv_key,
                "txn": _max_watermarks(latest_m.get("txn", {}), manifest.get("txn", {})),
                "partitions": {
                    **{
                        pv: e
                        for pv, e in latest_m["partitions"].items()
                        if pv not in touched
                    },
                    **{
                        pv: e
                        for pv, e in manifest["partitions"].items()
                        if pv in touched
                    },
                },
            }
            base_version, base_m = latest_v, latest_m
            version = latest_v + 1
    raise LedgerConcurrentWriteError(
        f"commit of {path} lost the CAS race {max_retries + 1} times — "
        f"giving up"
    )


def _stats_aggs(
    df: DataFrame, stats_cols: Sequence[str]
) -> tuple[list[F.Column], dict[str, str]]:
    """The shared (rows, min/max per stats col) aggregate expressions and
    each column's stored kind. Numeric columns store floats;
    temporal/string columns store their ISO/string form (order-preserving
    for lexicographic pruning)."""
    aggs = [F.count(F.lit(1)).alias("__rows")]
    kinds: dict[str, str] = {}
    for c in stats_cols:
        dt = df.schema[c].dataType.simpleString()
        kinds[c] = "num" if dt.startswith(_NUM_KINDS) else "str"
        mn, mx = F.min(F.col(c)), F.max(F.col(c))
        if kinds[c] == "num":
            aggs += [mn.cast("double").alias(f"__mn_{c}"),
                     mx.cast("double").alias(f"__mx_{c}")]
        else:
            aggs += [mn.cast("string").alias(f"__mn_{c}"),
                     mx.cast("string").alias(f"__mx_{c}")]
    return aggs, kinds


def _rows_to_stats(r, stats_cols: Sequence[str], kinds: dict[str, str]) -> dict:
    return {
        "rows": r["__rows"],
        "stats": {
            c: {"min": r[f"__mn_{c}"], "max": r[f"__mx_{c}"], "kind": kinds[c]}
            for c in stats_cols
        },
    }


def _partition_stats(
    df: DataFrame, partition_col: str, stats_cols: Sequence[str]
) -> dict[str, dict]:
    """Per-partition (rows, min/max per stats col) in ONE batch-scale
    aggregate — the write-side cost of data skipping. Keys are the RAW
    cast-to-string partition values (the manifest's canonical key form)."""
    aggs, kinds = _stats_aggs(df, stats_cols)
    rows = (
        df.groupBy(F.col(partition_col).cast("string").alias("__pv"))
        .agg(*aggs)
        .collect()
    )
    return {r["__pv"]: _rows_to_stats(r, stats_cols, kinds) for r in rows}


def _bloom_positions(col: F.Column, num_bits: int, num_hashes: int) -> F.Column:
    """The k probe-bit positions of a key — xxhash64 with k seeds, the
    same family operators/joins.py::bloom_filter_build uses. Build and
    probe both run in Spark, so the hash needs no Python twin."""
    seeds = F.array(*[F.lit(s) for s in range(num_hashes)])
    return F.transform(seeds, lambda s: F.pmod(F.xxhash64(col, s), F.lit(num_bits)))


def _partition_blooms(
    df: DataFrame,
    partition_col: str,
    key_col: str,
    num_bits: int,
    num_hashes: int,
    key_dtype: str | None = None,
) -> dict[str, str]:
    """Per-partition Bloom bitmap over ``key_col`` as hex strings — the
    membership index ledger_delete's locate phase prunes with. One
    distributed pass (explode k positions → per-(partition, word) OR);
    the driver receives ≤ partitions·bits/64 word rows. No distinct
    before the aggregate: bit OR is idempotent, so duplicate (pv, bit)
    rows cannot change a single bit, and the partial (map-side) OR
    already collapses each task's output to ≤ partitions·bits/64 rows —
    a pre-dedup pass would add a full-width exchange of the exploded
    rows for nothing.

    The key is cast to the INDEX's recorded dtype before hashing:
    xxhash64 hashes int/long/string representations of the same value
    differently, so build and probe must hash the identical type or
    matching partitions would prune as false NEGATIVES (a silent skip
    that would break the takedown path)."""
    kc = F.col(key_col).cast(key_dtype) if key_dtype else F.col(key_col)
    words = (
        df.select(
            F.col(partition_col).cast("string").alias("__pv"),
            F.explode(
                _bloom_positions(kc, num_bits, num_hashes)
            ).alias("__bit"),
        )
        .groupBy("__pv", (F.col("__bit") / 64).cast("long").alias("__word"))
        .agg(
            F.bit_or(
                F.call_function(
                    "shiftleft",
                    F.lit(1).cast("long"),
                    (F.col("__bit") % 64).cast("int"),
                )
            ).alias("__bits")
        )
        .collect()
    )
    maps: dict[str, list[int]] = {}
    for r in words:
        maps.setdefault(r["__pv"], [0] * (num_bits // 64))[r["__word"]] = r["__bits"]
    return {
        pv: "".join(f"{w & 0xFFFFFFFFFFFFFFFF:016x}" for w in bm)
        for pv, bm in maps.items()
    }


def _write_data_dir(
    df: DataFrame,
    path: str,
    partition_col: str,
    stats_cols: Sequence[str] = (),
    key_index: dict | None = None,
    partition_dtype: str | None = None,
) -> dict[str, dict]:
    """Write one immutable partitioned data directory; return the manifest
    entries it produces: partition value → {dir, dirname, rows, stats
    [, key_bloom][, files]}.

    Entry KEYS are the raw cast-to-string partition values from the stats
    aggregate — NOT the Hive directory suffixes, which percent-escape
    special characters (space, ':', '%') and would make ledger_merge /
    ledger_delete's raw-value lookups miss (a timestamp-partitioned
    merge would repoint the escaped key and silently drop the
    partition's existing rows). Each entry
    records its actual ``dirname`` so readers never re-derive the escaped
    form. The two views are joined by unescaping the listed directory
    names (Hive escaping is plain %XX percent-encoding); any mismatch is
    a hard error rather than a silent miss, and NULL partition values are
    rejected up front (``__HIVE_DEFAULT_PARTITION__`` has no raw-value
    key to own).

    When ``stats_cols`` are tracked, the ONE readback aggregate runs at
    the (partition, file) grain: per-FILE min/max land under ``files``
    — the Delta/Iceberg skip grain that lets ``ledger_scan`` touch 1
    file instead of 200 inside a kept partition (see ledger_plan_files)
    — and the partition-grain stats are its exact driver-side fold."""
    from urllib.parse import unquote

    batch = f"data-{uuid.uuid4().hex[:12]}"
    base = os.path.join(path, batch)
    df.write.partitionBy(partition_col).parquet(base)
    # Every metadata pass below reads BACK the just-written directory
    # (schema pinned to the writer's) instead of re-executing the input
    # DAG: the input is often a full merge/anti-join pipeline, and
    # recomputing it once for stats and again for the bloom index tripled
    # the write cost (and at 100 TB would triple the scan). The readback
    # scans are column-pruned parquet reads of the freshly written files;
    # the partition column comes off the directory names cast through the
    # declared dtype, which is the same raw-string key form the input-DAG
    # aggregate produced (the per-file-stats parity argument). A NULL
    # partition value lands in __HIVE_DEFAULT_PARTITION__ and reads back
    # as NULL, so the non-null guard still fires.
    back = (
        df.sparkSession.read.schema(df.schema)
        .option("basePath", base)
        .parquet(base)
    )
    pdtype = partition_dtype or df.schema[partition_col].dataType.simpleString()
    files: dict[str, dict[str, dict]] = {}
    if stats_cols:
        # ONE readback aggregate at the (partition, file) grain serves
        # BOTH metadata grains: the per-file
        # rows are the Delta/Iceberg skip payload, and the partition
        # stats are their exact driver-side fold — sum of per-file row
        # counts, min of per-file mins, max of per-file maxs (the
        # min/max casts in _stats_aggs are monotonic, and the fold
        # ignores all-NULL files exactly like a direct aggregate), so no
        # separate partition-grain readback scan runs.
        aggs, kinds = _stats_aggs(back, stats_cols)
        rows = (
            back.groupBy(
                F.col(partition_col)
                .cast(pdtype)
                .cast("string")
                .alias("__pv"),
                F.col("_metadata.file_path").alias("__fp"),
            )
            .agg(*aggs)
            .collect()
        )
        stats: dict[str, dict] = {}
        for r in rows:
            fname = r["__fp"].rsplit("/", 1)[-1]
            fs = _rows_to_stats(r, stats_cols, kinds)
            files.setdefault(r["__pv"], {})[fname] = fs
            agg = stats.get(r["__pv"])
            if agg is None:
                stats[r["__pv"]] = {
                    "rows": fs["rows"],
                    "stats": {
                        c: dict(fs["stats"][c]) for c in stats_cols
                    },
                }
                continue
            agg["rows"] += fs["rows"]
            for c in stats_cols:
                s, t = agg["stats"][c], fs["stats"][c]
                if t["min"] is not None and (
                    s["min"] is None or t["min"] < s["min"]
                ):
                    s["min"] = t["min"]
                if t["max"] is not None and (
                    s["max"] is None or t["max"] > s["max"]
                ):
                    s["max"] = t["max"]
    else:
        stats = _partition_stats(back, partition_col, stats_cols)
    if None in stats:
        raise ValueError(
            "ledger partition values must be non-null "
            f"(null {partition_col!r} rows have no manifest key)"
        )
    blooms = (
        _partition_blooms(
            back, partition_col, key_index["col"],
            key_index["bits"], key_index["hashes"], key_index.get("dtype"),
        )
        if key_index
        else {}
    )
    prefix = f"{partition_col}="
    dirnames: dict[str, str] = {}
    for name in os.listdir(base):
        if name.startswith(prefix):
            suffix = name[len(prefix):]
            if suffix == "__HIVE_DEFAULT_PARTITION__":
                raise ValueError(
                    "ledger partition values must be non-null "
                    f"(found {name!r} under {base})"
                )
            dirnames[unquote(suffix)] = name
    if set(dirnames) != set(stats):
        raise RuntimeError(
            "ledger write inconsistency: listed partition dirs "
            f"{sorted(dirnames)} do not match aggregated values "
            f"{sorted(stats)} under {base}"
        )
    entries: dict[str, dict] = {}
    for pv, meta in stats.items():
        entries[pv] = {"dir": batch, "dirname": dirnames[pv], **meta}
        if pv in blooms:
            entries[pv]["key_bloom"] = blooms[pv]
        if pv in files:
            entries[pv]["files"] = files[pv]
    return entries


def _enforce_checks(df: DataFrame, checks: dict | None) -> None:
    """CHECK-constraint gate (Delta invariants; SQL-standard semantics:
    a row violates only when the predicate evaluates to FALSE — NULL
    passes, exactly like a table CHECK). ONE aggregate pass counts every
    named predicate's violations; any violation rejects the whole write
    BEFORE any data lands, so a committed snapshot can never hold a row
    the table's contract forbids — the storage-layer enforcement point
    for the quality tests the reference runs post-hoc in dbt."""
    if not checks:
        return
    counts = df.agg(
        *[
            F.count(F.when(~F.expr(pred), F.lit(1))).alias(name)
            for name, pred in sorted(checks.items())
        ]
    ).collect()[0]
    bad = {name: counts[name] for name in checks if counts[name]}
    if bad:
        raise ValueError(
            f"CHECK constraint violation — write rejected: "
            + ", ".join(
                f"{name!r} ({checks[name]}) fails {n} row(s)"
                for name, n in sorted(bad.items())
            )
        )


def ledger_write(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_col: str,
    stats_cols: Sequence[str] = (),
    txn: tuple[str, int] | None = None,
    key_index_col: str | None = None,
    key_index_bits: int = 1 << 15,
    key_index_hashes: int = 4,
    checks: dict[str, str] | None = None,
) -> int:
    """Initialize (or fully refresh) the table: one immutable data dir
    holding every partition, one manifest mapping all of them to it, with
    per-partition min/max stats for ``stats_cols`` (the skipping index —
    pick the columns range predicates arrive on). ``txn=(app_id, txn_id)``
    records an application transaction watermark in the manifest (the
    streaming sink's exactly-once handle — see ledger_merge).

    ``key_index_col`` adds a per-partition Bloom MEMBERSHIP index over
    that column (default 2^15 bits ≈ 8 KiB hex per partition in the
    manifest): ledger_delete's locate phase then prunes candidate
    partitions from the manifest alone instead of scanning the table.
    Sizing note: the index is manifest-resident, so bits·partitions is
    the knob — at thousands of partitions either shrink the bitmap or
    move the index to a sidecar per data dir (the Delta choice of
    per-file bloom sidecars).

    ``checks`` declares named CHECK constraints (Delta invariants):
    ``{"price_pos": "o_totalprice > 0"}``. The initial frame and every
    future merge/replace batch is validated BEFORE data lands (one
    aggregate pass, SQL CHECK semantics — NULL passes, FALSE rejects);
    the constraint set rides the manifest through every commit. Returns
    the committed version."""
    if key_index_bits % 64:
        raise ValueError(f"key_index_bits must be a multiple of 64, got {key_index_bits}")
    _enforce_checks(df, checks)
    dtype = df.schema[partition_col].dataType.simpleString()
    key_index = (
        {
            "col": key_index_col,
            "bits": key_index_bits,
            "hashes": key_index_hashes,
            # the indexed column's dtype is part of the index: probes must
            # cast to it before hashing or bit positions diverge
            "dtype": df.schema[key_index_col].dataType.simpleString(),
        }
        if key_index_col
        else None
    )
    entries = _write_data_dir(
        df, path, partition_col, stats_cols, key_index, partition_dtype=dtype
    )
    version = (_manifest_versions(path) or [0])[-1] + 1
    manifest = {
        "partition_col": partition_col,
        "partition_dtype": dtype,
        "schema": df.schema.jsonValue(),
        "stats_cols": list(stats_cols),
        "key_index": key_index,
        "dv_key": None,
        "checks": dict(checks) if checks else None,
        "op": "WRITE",
        "txn": {txn[0]: txn[1]} if txn else {},
        "partitions": entries,
    }
    _commit(path, manifest, version)
    return version


def _resolve(path: str, version: int | None) -> tuple[int, dict]:
    versions = _manifest_versions(path)
    if not versions:
        raise FileNotFoundError(f"no ledger manifest under {path}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise FileNotFoundError(f"ledger version v{v} not found (have {versions})")
    return v, _read_manifest(path, v)


def _recorded_schema(m: dict, cols: Sequence[str] | None = None) -> StructType | None:
    """The manifest's recorded table schema, narrowed to ``cols`` when
    given; None for a manifest that predates schema recording."""
    if m.get("schema") is None:
        return None
    schema = StructType.fromJson(m["schema"])
    return schema if cols is None else StructType([schema[c] for c in cols])


def _conform(df: DataFrame, m: dict) -> DataFrame:
    """Cast a write batch's columns to the manifest's recorded types, so
    every file the ledger writes matches the schema its readers declare
    (a reader declaring ``int`` over an INT64 file fails). A numeric
    column (a Python-int batch is bigint) is cast under Spark's
    store-assignment rule: a value the recorded type cannot hold fails
    the write instead of wrapping. Any other type change is re-typing,
    not evolution, and raises. The partition column (never stored in a
    file) and columns the schema lacks pass through; no Spark job runs."""
    recorded = _recorded_schema(m)
    if recorded is None:
        return df
    want = {f.name: f.dataType for f in recorded.fields}
    drift = {
        f.name: f.dataType
        for f in df.schema.fields
        if f.name != m["partition_col"]
        and f.name in want
        and f.dataType != want[f.name]
    }
    if not drift:
        return df
    for c, have in drift.items():
        if not (
            isinstance(have, NullType)
            or isinstance(have, NumericType) and isinstance(want[c], NumericType)
        ):
            raise ValueError(
                f"schema evolution is additive only: batch would re-type "
                f"column {c!r} from {want[c].simpleString()} to "
                f"{have.simpleString()}"
            )

    def fit(c: str) -> F.Column:
        cast = F.col(c).try_cast(want[c])
        overflow = F.raise_error(
            F.lit(f"column {c!r}: {want[c].simpleString()} cannot hold a batch value")
        )
        return F.when(F.col(c).isNotNull() & cast.isNull(), overflow).otherwise(cast).alias(c)

    return df.select(*[fit(c) if c in drift else F.col(c) for c in df.columns])


def _read_dirset(
    spark: SparkSession,
    path: str,
    pcol: str,
    pdtype: str,
    entry_of: dict[str, dict],
    pvals: Sequence[str],
    files: dict[str, Sequence[str]] | None = None,
    target_schema=None,
) -> DataFrame:
    """Plan a read of ``pvals`` from a pv→{dir, dirname} pointer map —
    used for both data entries and their deletion-vector sidecars.

    ``target_schema`` (a StructType, the manifest's recorded schema) is
    declared to the reader, so no Spark job infers it from a footer, and
    columns a pre-evolution writer never knew about read back as typed
    NULLs — the additive-evolution read contract (see ledger_merge's
    ``merge_schema``). Without it (a manifest that predates schema
    recording) the reader infers."""
    by_dir: dict[str, list[str]] = {}
    for pv in pvals:
        by_dir.setdefault(entry_of[pv]["dir"], []).append(pv)
    parts = []
    for d, vals in sorted(by_dir.items()):
        base = os.path.join(path, d)
        targets: list[str] = []
        for pv in sorted(vals):
            e = entry_of[pv]
            pdir = os.path.join(base, e.get("dirname", f"{pcol}={pv}"))
            if files is not None and pv in files:
                targets += [os.path.join(pdir, fn) for fn in sorted(files[pv])]
            else:
                targets.append(pdir)
        reader = spark.read if target_schema is None else spark.read.schema(target_schema)
        parts.append(reader.option("basePath", base).parquet(*targets))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if target_schema is not None:
        # the reader appends the partition column; restore the recorded order
        out = out.select(*target_schema.fieldNames())
    return out.withColumn(pcol, F.col(pcol).cast(pdtype))


def _read_partitions(
    spark: SparkSession,
    path: str,
    m: dict,
    pvals: Sequence[str],
    files: dict[str, Sequence[str]] | None = None,
) -> DataFrame:
    """Plan a read of ``pvals`` straight from the manifest. Directory names
    come from each entry's recorded ``dirname`` (never re-derived from the
    raw value — Hive escaping is one-way here). ``files`` optionally
    narrows chosen partitions to specific data files (ledger_plan_files'
    skip grain). Zero partitions yields an EMPTY frame typed from the
    manifest's recorded schema — reachable via a delete that empties the
    table — rather than failing on an empty union.

    Partitions carrying a deletion vector (``ledger_delete`` in ``dv``
    mode) are read through a (key, partition) anti-join against their
    tombstone sidecars; DV-free partitions union in untouched, so the
    merge-on-read tax is scoped to exactly the partitions that owe it."""
    pcol = m["partition_col"]
    target = _recorded_schema(m)
    if not pvals:
        if target is None:
            raise ValueError(
                "ledger snapshot has no partitions and the manifest "
                "predates schema recording — cannot type an empty frame"
            )
        return spark.createDataFrame([], target)
    pdtype = m["partition_dtype"]
    plain = [pv for pv in pvals if not m["partitions"][pv].get("dv")]
    dv_pvals = [pv for pv in pvals if m["partitions"][pv].get("dv")]
    out = (
        _read_dirset(
            spark, path, pcol, pdtype, m["partitions"], plain, files,
            target_schema=target,
        )
        if plain
        else None
    )
    if dv_pvals:
        dv_key = m["dv_key"]
        data = _read_dirset(
            spark, path, pcol, pdtype, m["partitions"], dv_pvals, files,
            target_schema=target,
        )
        tombstones = _read_dirset(
            spark, path, pcol, pdtype,
            {pv: m["partitions"][pv]["dv"] for pv in dv_pvals}, dv_pvals,
            target_schema=_recorded_schema(m, (dv_key, pcol)),
        ).select(dv_key, pcol)
        live = data.join(tombstones, [dv_key, pcol], "left_anti")
        out = live if out is None else out.unionByName(live)
    return out


def ledger_read(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Open a snapshot: the newest manifest by default, or a pinned
    ``version`` (time travel). Plans directly from the manifest — each
    owning directory is read once with ``basePath`` so the partition
    column materializes, then the partition dtype recorded at write time
    is restored explicitly (never inferred from path strings)."""
    _, m = _resolve(path, version)
    return _read_partitions(spark, path, m, list(m["partitions"]))


def ledger_plan(
    path: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> list[str]:
    """Manifest-level data skipping: the partition values whose recorded
    [min, max] for ``col`` can intersect [lo, hi] — pure driver-side JSON
    arithmetic over O(partitions) entries, no filesystem or Spark touch.
    Partitions written without stats for ``col`` are conservatively kept
    (skipping may only ever remove provably-empty work)."""
    _, m = _resolve(path, version)
    if col not in m.get("stats_cols", []):
        raise ValueError(
            f"column {col!r} carries no stats in this ledger "
            f"(stats_cols={m.get('stats_cols')})"
        )
    return sorted(
        pv
        for pv, entry in m["partitions"].items()
        if _range_intersects(entry.get("stats", {}).get(col), lo, hi)
    )


def _range_intersects(s: dict, lo, hi) -> bool:
    """Can a recorded {min, max, kind} stat intersect [lo, hi]? Missing or
    NULL-only evidence keeps the unit (skipping may only ever remove
    provably-empty work)."""
    if s is None or s["min"] is None or s["max"] is None:
        return True
    smin, smax = s["min"], s["max"]
    if s["kind"] == "num":
        return not (float(smax) < float(lo) or float(smin) > float(hi))
    return not (str(smax) < str(lo) or str(smin) > str(hi))


def ledger_plan_files(
    path: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> dict[str, list[str] | None]:
    """FILE-granular data skipping: for every partition ``ledger_plan``
    keeps, the data files whose recorded [min, max] for ``col`` can
    intersect [lo, hi] — the Delta/Iceberg skip grain. Still pure
    driver-side JSON arithmetic, now over O(files) add-entries instead of
    O(partitions). A kept partition written without per-file stats maps
    to ``None`` (read the whole directory — conservative, as ever);
    within-partition pruning is what separates touching 1 file from 200
    when a merge-heavy partition has accumulated many files whose stats
    ranges are disjoint (e.g. append batches arriving in time order)."""
    _, m = _resolve(path, version)
    keep = ledger_plan(path, col, lo, hi, version=version)
    out: dict[str, list[str] | None] = {}
    for pv in keep:
        fentries = m["partitions"][pv].get("files")
        if not fentries:
            out[pv] = None
            continue
        out[pv] = sorted(
            fn
            for fn, fe in fentries.items()
            if _range_intersects(fe.get("stats", {}).get(col), lo, hi)
        )
    return out


def ledger_scan(
    spark: SparkSession,
    path: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> DataFrame:
    """Stats-pruned range scan: read ONLY the partitions ``ledger_plan``
    keeps — and within them, only the FILES ``ledger_plan_files`` keeps —
    then apply the exact ``col BETWEEN lo AND hi`` predicate: the
    zone-map read path at the Delta/Iceberg skip grain. Bit-identical to
    filtering the full snapshot (the q_ledger_skip oracle), touching only
    the files that can match. A fully-pruned partition (every file's
    range disjoint, but the partition-level range straddling [lo, hi])
    drops out of the read entirely."""
    v, m = _resolve(path, version)
    plan = ledger_plan_files(path, col, lo, hi, version=v)
    keep = [pv for pv, fns in plan.items() if fns is None or fns]
    if not keep:
        # typed empty frame without opening ANY data directory — the old
        # fallback planned a read of every partition just to filter(False)
        return _read_partitions(spark, path, m, []).filter(F.lit(False))
    files = {pv: fns for pv, fns in plan.items() if fns is not None}
    return _read_partitions(spark, path, m, keep, files=files).filter(
        F.col(col).between(F.lit(lo), F.lit(hi))
    )


def ledger_merge(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str,
    txn: tuple[str, int] | None = None,
    merge_schema: bool = False,
) -> int:
    """Atomic partition-granular MERGE: resolve the upsert inside the
    touched partitions only (operators/cdc.py::merge_into — update rows
    win, untouched rows carry), write the merged partitions as a NEW
    immutable directory (with refreshed stats), and commit a manifest
    with exactly those keys repointed. Readers flip from v<N> to v<N+1>
    in one rename; a crash at any earlier point leaves v<N> fully intact
    plus orphans for vacuum. An update batch may introduce NEW partition
    values — they join the mapping on commit.

    ``txn=(app_id, txn_id)`` is the EXACTLY-ONCE handle (the ledger form
    of Delta's ``txn`` action): the manifest carries each application's
    highest applied transaction id, and a merge whose ``txn_id`` is not
    greater than the recorded watermark returns the current version
    WITHOUT reading, writing, or committing anything. Structured
    Streaming's checkpoint gives at-least-once batch REPLAY; recording
    the batch id in the same atomic commit as the data turns replay into
    a no-op — stronger than value-idempotence, which still pays the
    merge I/O on every redelivery. Returns the committed version (the
    previous version if the batch is empty or already applied).

    CONTRACT (inherited from merge_into_partitioned): an update row must
    carry the SAME partition value as the current row for its key — the
    merge resolves keys inside each touched partition only, so an update
    that "moves" key K to a new partition value writes K there while K's
    stale row survives untouched in its old partition, and subsequent
    reads see the key twice. Cross-partition moves must be expressed as
    ledger_delete(K) + merge, exactly as in Delta/Hudi partitioned
    upserts without a global key index.

    SCHEMA EVOLUTION: an update batch carrying columns the table does
    not have is REJECTED unless ``merge_schema=True`` (accidental drift
    must not silently widen a mart — Delta's autoMerge default). With it,
    the new columns join the recorded schema additively: current rows in
    touched partitions merge with typed NULLs, untouched partitions keep
    their old files and materialize the columns as NULLs at READ time
    from the manifest schema (no rewrite anywhere — the Delta/Iceberg
    additive-evolution contract). Dropping or re-typing a column is not
    evolution and raises; a numeric column of another width is cast to
    the recorded type (see ``_conform``)."""
    from weather_api_automate_etl_spark.operators.cdc import merge_into

    v, m = _resolve(path, None)
    if _replayed(m, txn):
        return v  # transaction already applied: replay is a pure no-op
    pcol = m["partition_col"]
    table_cols = (
        [f["name"] for f in m["schema"]["fields"]]
        if m.get("schema") is not None
        else None
    )
    new_cols = (
        [c for c in updates.columns if c not in table_cols]
        if table_cols is not None
        else []
    )
    if new_cols and not merge_schema:
        raise ValueError(
            f"update batch carries columns the table does not have: "
            f"{new_cols} — pass merge_schema=True to evolve additively"
        )
    if table_cols is not None:
        # checked regardless of merge_schema: a batch missing existing
        # columns would otherwise NULL-fill brand-new partitions silently
        # (and die with an opaque select error on existing ones)
        missing = [c for c in table_cols if c not in updates.columns]
        if missing:
            raise ValueError(
                f"schema evolution is additive only: update batch is "
                f"missing existing columns {missing}"
            )
    updates = _conform(updates, m)
    _enforce_checks(updates, m.get("checks"))
    touched = _partition_values(updates, pcol)
    if not touched:
        return v
    existing = [pv for pv in touched if pv in m["partitions"]]
    if existing:
        current = _read_partitions(spark, path, m, existing)
        for c in new_cols:
            current = current.withColumn(
                c, F.lit(None).cast(updates.schema[c].dataType)
            )
        merged = merge_into(current, updates.select(*current.columns), key)
    else:
        merged = updates
    entries = _write_data_dir(
        merged, path, pcol, m.get("stats_cols", []), m.get("key_index"),
        partition_dtype=m["partition_dtype"],
    )
    manifest = _next_manifest(
        m, "MERGE", {**m["partitions"], **entries}, txn,
        schema=merged.schema.jsonValue() if new_cols else m.get("schema"),
    )
    return _commit_with_rebase(
        path, v, m, manifest, touched | set(entries), txn=txn
    )


def ledger_replace_partitions(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    partitions: Sequence[str],
    txn: tuple[str, int] | None = None,
) -> int:
    """Atomic partition replacement — Delta's ``replaceWhere`` at the
    ledger's grain: after the commit, each partition value in
    ``partitions`` holds EXACTLY ``df``'s rows for that value (a value
    ``df`` no longer carries is dropped from the table), and every other
    partition is untouched. ``df`` must not contain partition values
    outside ``partitions`` — that would silently widen the replacement
    scope, so it raises instead.

    This is the primitive incremental materialized-view refresh rides
    (operators/matview.py): a consumer that recomputed a set of changed
    partitions swaps them in — inserts, updates, AND group disappearances
    — in one rename, without touching or even listing the others.
    ``txn=(app_id, txn_id)`` applies the same exactly-once watermark as
    ledger_merge: a replay whose txn_id is not newer than the recorded
    watermark returns the current version without writing anything.
    ``df``'s columns are cast to the recorded types as in ledger_merge
    (see ``_conform``). Returns the committed version."""
    v, m = _resolve(path, None)
    if _replayed(m, txn):
        return v  # transaction already applied: replay is a pure no-op
    pcol = m["partition_col"]
    target = {str(pv) for pv in partitions}
    out_of_scope = sorted(
        pv for pv in _partition_values(df, pcol) if pv is None or pv not in target
    )
    if out_of_scope:
        raise ValueError(
            f"replacement frame carries partition values outside the "
            f"declared scope: {out_of_scope[:10]}"
        )
    df = _conform(df, m)
    _enforce_checks(df, m.get("checks"))
    entries = _write_data_dir(
        df, path, pcol, m.get("stats_cols", []), m.get("key_index"),
        partition_dtype=m["partition_dtype"],
    )
    kept = {pv: e for pv, e in m["partitions"].items() if pv not in target}
    manifest = _next_manifest(m, "REPLACE", {**kept, **entries}, txn)
    return _commit_with_rebase(
        path, v, m, manifest, target | set(entries), txn=txn
    )


def ledger_compact(
    spark: SparkSession,
    path: str,
    partitions: Sequence[str] | None = None,
    zorder_by: Sequence[str] | None = None,
    zorder_files: int = 4,
    zorder_bits: int = 8,
) -> int:
    """OPTIMIZE: rewrite the chosen partitions (default: every partition
    whose directory holds more than one data file, plus every partition
    carrying a deletion vector) into ONE file per partition in a fresh
    directory and commit — state is bit-identical (pinned in tests),
    only the file layout changes. Runs as a background writer against
    live readers: they keep planning from v<N> until the rename. Returns
    the committed version (unchanged if nothing needs compaction).

    ``zorder_by=(x, y)`` is OPTIMIZE ZORDER: instead of one file per
    partition, each rewritten partition is split into ``zorder_files``
    files range-clustered on the Morton interleave of the two columns
    (functions/core.py::zorder_key over a linear [0, 2^bits) global
    quantization). Every file then spans a tight band of BOTH columns,
    so the per-FILE min/max the manifest already records
    (``stats_cols`` — they should include the z-ordered columns) prunes
    selective predicates on EITHER dimension via ``ledger_plan_files``;
    a single-column sort buys that for one dimension only. This is the
    Delta/Iceberg OPTIMIZE ZORDER layout move at the ledger's grain —
    the answer is untouched, the skipping index just gets sharper."""
    v, m = _resolve(path, None)
    pcol = m["partition_col"]
    if partitions is None:
        partitions = []
        for pv, entry in m["partitions"].items():
            if entry.get("dv"):
                # settle the merge-on-read debt: materialize tombstones
                partitions.append(pv)
                continue
            pdir = os.path.join(
                path, entry["dir"], entry.get("dirname", f"{pcol}={pv}")
            )
            n_files = sum(
                1 for f in os.listdir(pdir) if f.endswith(".parquet")
            )
            if n_files > 1 or zorder_by is not None:
                partitions.append(pv)
    partitions = [pv for pv in partitions if pv in m["partitions"]]
    if not partitions:
        return v
    current = _read_partitions(spark, path, m, partitions)
    if zorder_by is not None:
        if len(zorder_by) != 2:
            raise ValueError(
                f"zorder_by takes exactly two columns, got {list(zorder_by)}"
            )
        from weather_api_automate_etl_spark.functions.core import zorder_key

        # global linear quantization to [0, 2^bits): ONE metadata-scale
        # aggregate; constant columns quantize to 0 (guarded divisor)
        xc, yc = (F.col(c).cast("double") for c in zorder_by)
        b = (
            current.agg(
                F.min(xc).alias("xmn"), F.max(xc).alias("xmx"),
                F.min(yc).alias("ymn"), F.max(yc).alias("ymx"),
            ).collect()[0]
        )
        top = (1 << zorder_bits) - 1

        def q(c, mn, mx):
            if mn is None or mx is None:  # all-NULL column: constant key
                return F.lit(0).cast("long")
            span = (mx - mn) or 1.0
            return F.least(
                F.lit(top).cast("long"),
                ((c - F.lit(mn)) / F.lit(span) * top).cast("long"),
            )

        zkey = zorder_key(q(xc, b.xmn, b.xmx), q(yc, b.ymn, b.ymx), zorder_bits)
        # range-partition on (partition, z): partition groups stay
        # contiguous, each writes `zorder_files` z-contiguous files
        n_tasks = max(1, len(partitions) * zorder_files)
        compacted = current.repartitionByRange(
            n_tasks, F.col(pcol), zkey
        ).sortWithinPartitions(F.col(pcol), zkey)
    else:
        # hash-partition by the partition column: each value's rows land
        # in one task, so partitionBy emits exactly one file per dir
        compacted = current.repartition(F.col(pcol))
    entries = _write_data_dir(
        compacted, path, pcol, m.get("stats_cols", []), m.get("key_index"),
        partition_dtype=m["partition_dtype"],
    )
    manifest = _next_manifest(
        m, "OPTIMIZE ZORDER" if zorder_by else "OPTIMIZE",
        {**m["partitions"], **entries},
    )
    return _commit_with_rebase(path, v, m, manifest, set(partitions))


def ledger_vacuum(
    path: str, keep_versions: int = 2, retention_s: float = 86_400.0
) -> list[str]:
    """Drop manifests beyond the ``keep_versions`` newest and delete every
    data directory none of the retained manifests references. Returns the
    deleted directory names. Safe for stale readers pinned to any
    RETAINED version; shrinking ``keep_versions`` trades time-travel
    depth for storage, exactly Delta's retention knob.

    Dirs a DROPPED manifest referenced were committed and superseded —
    always collectable. A dir NO manifest ever referenced is ambiguous:
    crashed-writer orphan, or an IN-FLIGHT concurrent writer's
    not-yet-committed data (multi-writer OCC is supported) — deleting
    that corrupts its about-to-land version permanently, so such dirs
    are reclaimed only once older than ``retention_s`` (Delta's
    retention guard); pass 0 in a quiescent maintenance window."""
    versions = _manifest_versions(path)
    if not versions:
        return []
    keep = versions[-keep_versions:] if keep_versions > 0 else []
    live: set[str] = set()
    ever: set[str] = set()
    for v in versions:
        for e in _read_manifest(path, v)["partitions"].values():
            dirs = [e["dir"]] + ([e["dv"]["dir"]] if e.get("dv") else [])
            ever.update(dirs)
            if v in keep:
                live.update(dirs)  # tombstone sidecars are live too
    now = time.time()
    deleted = []
    for name in os.listdir(path):
        if not name.startswith("data-") or name in live:
            continue
        full = os.path.join(path, name)
        if name not in ever and now - os.path.getmtime(full) < retention_s:
            continue  # possibly an in-flight writer: age-guarded
        shutil.rmtree(full)
        deleted.append(name)
    for v in versions:
        if v not in keep:
            os.unlink(os.path.join(path, _LEDGER_DIR, f"v{v}.json"))
    return sorted(deleted)


def ledger_add_check(
    spark: SparkSession, path: str, name: str, predicate: str
) -> int:
    """ALTER TABLE ... ADD CONSTRAINT (Delta's CHECK-constraint add):
    validate the CURRENT snapshot against ``predicate`` (one aggregate
    scan — a constraint that existing rows already violate must be
    rejected, or the table's contract would lie about its own contents),
    then commit a metadata-only version whose manifest carries the new
    named check. Every subsequent write/merge/replace batch is gated on
    it before data lands. Duplicate names are rejected; the scan is the
    unavoidable cost Delta pays too (ADD CONSTRAINT scans the table)."""
    v, m = _resolve(path, None)
    checks = dict(m.get("checks") or {})
    if name in checks:
        raise ValueError(f"constraint {name!r} already exists on {path}")
    snap = _read_partitions(spark, path, m, list(m["partitions"]))
    _enforce_checks(snap, {name: predicate})
    manifest = _next_manifest(
        m, "ADD CONSTRAINT", m["partitions"], checks={**checks, name: predicate}
    )
    _commit(path, manifest, v + 1)
    return v + 1


def ledger_clone(
    src_path: str, dst_path: str, version: int | None = None
) -> int:
    """SHALLOW CLONE (Delta's ``CREATE TABLE ... SHALLOW CLONE src``): a
    new, independently-writable table whose v1 manifest REFERENCES the
    source's immutable data directories — zero data copied, O(partitions)
    driver JSON, optionally pinned to a source ``version`` (clone a
    time-travel snapshot). Entry ``dir`` pointers are absolutized into
    the source (``_read_dirset`` resolves absolute dirs as-is), so reads
    under the clone plan straight onto the source's files, while any
    WRITE to the clone (merge/delete/compact) lands new directories
    under the CLONE path and repoints only the touched partitions — the
    two tables diverge copy-on-write at partition grain, and the
    source's own history is never touched. The experimentation /
    dev-against-prod workflow: fork a 100 TB mart in milliseconds, test
    a migration on the fork, drop it.

    Caveats, exactly Delta's: VACUUM on the SOURCE can delete
    directories a shallow clone still references (retention must cover
    live clones — vacuum on the CLONE is safe, it only ever removes
    clone-local dirs); exactly-once ``txn`` watermarks are RESET (the
    clone is a new table — a stream writing to it starts its own batch
    history). The destination must not already be a ledger table."""
    if _manifest_versions(dst_path):
        raise ValueError(f"destination {dst_path} is already a ledger table")
    _, m = _resolve(src_path, version)
    src_abs = os.path.abspath(src_path)

    def _abs_dir(e: dict) -> dict:
        # os.path.join keeps an already-absolute dir as it is
        return {**e, "dir": os.path.join(src_abs, e["dir"])}

    def _abs_entry(e: dict) -> dict:
        out = _abs_dir(e)
        if e.get("dv"):
            out["dv"] = _abs_dir(e["dv"])
        return out
    manifest = {
        **m,
        "op": "CLONE",
        "txn": {},
        "partitions": {
            pv: _abs_entry(e) for pv, e in m["partitions"].items()
        },
    }
    os.makedirs(dst_path, exist_ok=True)
    _commit(dst_path, manifest, 1)
    return 1


def ledger_restore(path: str, version: int) -> int:
    """RESTORE TABLE ... TO VERSION AS OF — roll the table state back to
    ``version`` by committing a NEW version that points at the old
    version's partition mapping (Delta's RESTORE: a metadata-only
    forward commit, never a history rewrite, so the bad versions stay
    inspectable and time-travelable until vacuum). Data files are
    immutable and the target manifest still references them, so no data
    moves — the commit is O(partitions) driver JSON.

    Exactly-once ``txn`` watermarks are RETAINED at their per-app MAX
    across the rollback (Delta keeps setTransaction actions through
    RESTORE for the same reason): a restore says "this state was wrong",
    so a checkpointed stream replaying its last batches must stay a
    no-op rather than re-applying rows the operator just rolled back.
    Requires the target manifest to still exist (not vacuumed). Returns
    the new version. Restoring to the current version is a no-op that
    returns the current version without committing."""
    versions = _manifest_versions(path)
    if not versions:
        raise FileNotFoundError(f"no ledger manifest under {path}")
    if version not in versions:
        raise ValueError(
            f"version {version} is not restorable at {path} "
            f"(retained: {versions}) — vacuumed history cannot be restored"
        )
    current_v = versions[-1]
    if version == current_v:
        return current_v
    target = _read_manifest(path, version)
    current = _read_manifest(path, current_v)
    manifest = _next_manifest(target, "RESTORE", target["partitions"])
    manifest["txn"] = _max_watermarks(manifest["txn"], current.get("txn", {}))
    _commit(path, manifest, current_v + 1)
    return current_v + 1


def ledger_delete(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    key: str,
    txn: tuple[str, int] | None = None,
    mode: str = "rewrite",
) -> int:
    """Row-level DELETE through the ledger — the takedown /
    right-to-be-forgotten path a training-data corpus needs: remove every
    row matching the key set, atomically, rewriting only the partitions
    that actually contain matches.

    ``mode="dv"`` records DELETION VECTORS instead of rewriting: the hit
    keys land in per-partition tombstone sidecars (merged with any prior
    sidecar) and the commit repoints only those DV pointers — the data
    files themselves are untouched, so a takedown against a hot 10 GB
    partition writes kilobytes instead of re-encoding the partition
    (Delta's deletion-vector / Hudi merge-on-read trade, keyed by ``key``
    rather than row position so it composes with this ledger's immutable
    multi-file dirs). Readers anti-join the sidecar at scan time — the
    merge-on-read tax, scoped to exactly the partitions that owe it —
    and the debt is settled when ``ledger_compact`` or any ``rewrite``
    touching the partition materializes the net state and drops the
    sidecar. Zone-map stats and the Bloom key index become conservative
    over-approximations until then (they may retain deleted rows' ranges
    and keys), which only ever costs pruning power, never correctness.
    All DVs of a table must tombstone the same key column (enforced).

    Locating the matches is the honest cost split (the same split Delta's
    DELETE makes):

    - if ``keys`` carries the partition column, the candidate set prunes
      to those partitions with no scan at all;
    - otherwise, on a table written with ``key_index_col``, the
      manifest's per-partition Bloom bitmaps prune the candidate set with
      pure driver arithmetic — no table scan — and one semi-join scan of
      the CANDIDATES ONLY confirms exact hits (false-positive partitions
      are confirmed out here, so a no-hit partition is never rewritten);
    - without an index, ONE semi-join scan of the snapshot finds the
      (partition, hit) pairs — corpus-linear read, metadata-sized output.

    Partitions whose every row is deleted leave the mapping entirely (the
    readback simply stops planning them). Delete is idempotent by
    construction — re-deleting absent keys touches nothing — and
    ``txn`` gives it the same exactly-once replay handle as merge.
    Returns the committed version (unchanged when nothing matches).

    BOUND: the Bloom locate phase collects each doomed key's probe-bit
    positions to the driver — O(|keys|·hashes) ints, sized for takedown
    LISTS (thousands to low hundreds of thousands of keys). Above
    ``_BLOOM_LOCATE_MAX_KEYS`` distinct keys the locate phase falls back
    to the distributed semi-join scan automatically — a purge that big
    touches most partitions anyway, so the manifest arithmetic would buy
    little and cost unbounded driver memory. Probe keys are cast to the
    index's recorded dtype before hashing (xxhash64 is representation-
    sensitive; a dtype-mismatched probe would prune matching partitions
    as false negatives — the documented-impossible failure)."""
    if mode not in ("rewrite", "dv"):
        raise ValueError(f"mode must be 'rewrite' or 'dv', got {mode!r}")
    v, m = _resolve(path, None)
    if _replayed(m, txn):
        return v
    if mode == "dv" and m.get("dv_key") not in (None, key):
        raise ValueError(
            f"table already carries deletion vectors keyed by "
            f"{m['dv_key']!r}; cannot mix with {key!r}"
        )
    pcol = m["partition_col"]
    kdf = keys.select(key).distinct()
    ki = m.get("key_index")
    if pcol in keys.columns:
        # caller-named partitions narrow the scope, but the exact
        # confirm scan below still runs: a no-match delete must commit
        # NOTHING (no byte-identical partition rewrite, and in dv mode no
        # dv_key on a table with zero actual tombstones)
        scan_over = sorted(_partition_values(keys, pcol) & set(m["partitions"]))
    else:
        scan_over = list(m["partitions"])
        if (
            ki is not None
            and ki["col"] == key
            and kdf.limit(_BLOOM_LOCATE_MAX_KEYS + 1).count()
            <= _BLOOM_LOCATE_MAX_KEYS
        ):
            # manifest-resident membership index: keep only partitions
            # whose Bloom bitmap could contain at least one doomed key —
            # pure driver arithmetic, no table scan. Key sets beyond the
            # documented bound skip straight to the semi-join scan below.
            kc = (
                F.col(key).cast(ki["dtype"])
                if ki.get("dtype")
                else F.col(key)
            )
            key_rows = kdf.select(
                _bloom_positions(kc, ki["bits"], ki["hashes"]).alias("__pos")
            ).collect()
            key_positions = [tuple(r["__pos"]) for r in key_rows]
            scan_over = []
            for pv, entry in m["partitions"].items():
                hx = entry.get("key_bloom")
                if hx is None:
                    scan_over.append(pv)  # unindexed partition: keep
                    continue
                words = [
                    int(hx[i : i + 16], 16) for i in range(0, len(hx), 16)
                ]
                if any(
                    all(words[p // 64] >> (p % 64) & 1 for p in pos)
                    for pos in key_positions
                ):
                    scan_over.append(pv)
            if not scan_over:
                return v
    if not scan_over:
        return v
    # exact confirm over the (possibly narrowed) candidates only: Bloom
    # false positives and caller-named no-hit partitions are confirmed
    # OUT here, so a no-hit partition is never rewritten
    snap = _read_partitions(spark, path, m, scan_over)
    candidates = _partition_values(snap.join(kdf, key, "left_semi"), pcol)
    if not candidates:
        return v
    current = _read_partitions(spark, path, m, candidates)
    if mode == "dv":
        # deletion vectors: append the hit keys to per-partition tombstone
        # sidecars and repoint only the DV pointers — no data file is read
        # back in full or rewritten beyond the sidecar itself. `current`
        # already excludes previously tombstoned rows, so unioning the
        # existing sidecars keeps old tombstones without double-counting.
        hits = (
            current.join(kdf, key, "left_semi").select(key, pcol).distinct()
        )
        prior_dv = [
            pv for pv in candidates if m["partitions"][pv].get("dv")
        ]
        if prior_dv:
            hits = hits.unionByName(
                _read_dirset(
                    spark, path, pcol, m["partition_dtype"],
                    {pv: m["partitions"][pv]["dv"] for pv in prior_dv},
                    prior_dv,
                    target_schema=_recorded_schema(m, (key, pcol)),
                ).select(key, pcol)
            )
        dv_entries = _write_data_dir(
            hits, path, pcol, partition_dtype=m["partition_dtype"]
        )
        entries = {
            pv: {**m["partitions"][pv], "dv": dv_entries[pv]}
            for pv in dv_entries
        }
    else:
        kept = current.join(kdf, key, "left_anti")
        entries = _write_data_dir(
            kept, path, pcol, m.get("stats_cols", []), ki,
            partition_dtype=m["partition_dtype"],
        )
    # every candidate holds a hit, so dv mode writes a sidecar for each
    # and a rewrite drops the candidates it emptied
    remaining = {
        pv: e for pv, e in m["partitions"].items() if pv not in candidates
    }
    manifest = _next_manifest(
        m, "DELETE DV" if mode == "dv" else "DELETE", {**remaining, **entries},
        txn, dv_key=key if mode == "dv" else m.get("dv_key"),
    )
    return _commit_with_rebase(
        path, v, m, manifest, candidates | set(entries), txn=txn
    )


def ledger_history(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE HISTORY — the commit audit log, derived entirely from the
    retained manifests: one row per version with the OPERATION that
    produced it (WRITE / MERGE / REPLACE / OPTIMIZE [ZORDER] / DELETE
    [DV] / RESTORE / CLONE / ADD CONSTRAINT), the live-partition count,
    the FILE-RESIDENT row count (deletion-vector tombstones are not
    subtracted — compaction settles them), and the exactly-once
    watermark map it carried.
    Driver-side O(retained versions × partitions) JSON arithmetic — no
    data is touched, so the audit query costs the same on a 100 TB mart
    as on a test fixture. Versions beyond the vacuum retention are gone
    from history exactly as their data is (the Delta contract).
    Deliberately timestamp-free: manifests record only deterministic
    facts, so history is reproducible and hash-stable across reruns."""
    rows = []
    for v in _manifest_versions(path):
        m = _read_manifest(path, v)
        rows.append(
            (
                v,
                m.get("op", "UNKNOWN"),
                len(m["partitions"]),
                sum(e.get("rows", 0) for e in m["partitions"].values()),
                json.dumps(m.get("txn", {}), sort_keys=True),
            )
        )
    return spark.createDataFrame(
        rows,
        "version int, op string, n_partitions long, n_rows long, txn string",
    )


def ledger_changes(
    spark: SparkSession,
    path: str,
    key: str,
    compare_cols: Sequence[str],
    v_from: int,
    v_to: int | None = None,
) -> DataFrame:
    """Change data feed between two committed versions — the ledger form
    of Delta's CDF: every key whose tracked columns changed between
    ``v_from`` and ``v_to`` (default: newest), classified
    added/removed/changed, with the new-side values.

    The manifest diff does the heavy lifting BEFORE any data is read:
    only partitions whose owning entry differs between the two manifests
    (repointed, appeared, or vanished) can contain changes — partition-
    grain copy-on-write guarantees an untouched mapping entry means
    byte-identical data — so both snapshot slices read just those
    partitions, then one hash-compare full-outer join
    (operators/cdc.py::snapshot_diff) classifies the keys. A downstream
    consumer incrementally follows a 3000-partition mart by reading the
    handful its last sync actually touched; 'unchanged' rows inside a
    rewritten partition are filtered out, so the feed carries exactly
    the net row-level delta."""
    v_to_r, m_to = _resolve(path, v_to)
    v_from_r, m_from = _resolve(path, v_from)
    if v_from_r > v_to_r:
        raise ValueError(f"v_from={v_from_r} is newer than v_to={v_to_r}")
    from weather_api_automate_etl_spark.operators.cdc import snapshot_diff

    pf, pt = m_from["partitions"], m_to["partitions"]
    # FULL-entry compare (shared with the rebase conflict check): a
    # dv-mode delete repoints only the tombstone sidecar, and a dir-only
    # diff would silently miss those removals in the feed
    changed = sorted(_changed_partitions(m_from, m_to))
    old_pvs = [pv for pv in changed if pv in pf]
    new_pvs = [pv for pv in changed if pv in pt]
    cols = [key, *compare_cols]
    if not changed:
        # build an empty, correctly-typed frame off either snapshot
        any_m = m_to if pt else m_from
        base = _read_partitions(spark, path, any_m, list(any_m["partitions"]))
        return (
            snapshot_diff(base.select(*cols), base.select(*cols), key, compare_cols)
            .filter(F.lit(False))
        )
    old_slice = (
        _read_partitions(spark, path, m_from, old_pvs).select(*cols)
        if old_pvs
        else None
    )
    new_slice = (
        _read_partitions(spark, path, m_to, new_pvs).select(*cols)
        if new_pvs
        else None
    )
    if old_slice is None:
        old_slice = new_slice.filter(F.lit(False))
    if new_slice is None:
        new_slice = old_slice.filter(F.lit(False))
    return snapshot_diff(old_slice, new_slice, key, compare_cols).filter(
        F.col("change_type") != "unchanged"
    )


def ledger_repartition(
    spark: SparkSession,
    path: str,
    new_partition_col: str,
    stats_cols: Sequence[str] | None = None,
    key_index_col: str | None = None,
) -> int:
    """Change the table's PARTITION SPEC — Iceberg's partition evolution,
    expressed the only way a Hive-layout table can express it: one full
    rewrite of the current snapshot under the new partition column,
    committed atomically as the next version ("REPARTITION"). Readers on
    v<N> keep the old layout; v<N+1> plans, prunes, merges, and skips on
    the NEW column — the operation every mart eventually needs when the
    query pattern shifts (daily grain -> region grain) and the original
    partition choice starts forcing full scans.

    What carries across the rewrite: the schema, the CHECK constraints,
    and the exactly-once txn watermarks (a spec change must not make a
    replayed streaming batch re-apply). What resets: per-partition
    stats/Bloom indexes are REBUILT for the new layout (pass
    ``stats_cols`` / ``key_index_col`` to re-point them — they default
    to the previous manifest's choices where the columns still exist),
    and deletion-vector tombstones are MATERIALIZED (the rewrite reads
    through DVs, so the new files are clean — repartition doubles as a
    full compaction, same as OPTIMIZE).

    Honest cost note: this rewrites every byte once — O(table), the same
    price Iceberg pays when a spec change is followed by a compaction
    that rewrites old-spec files (Iceberg can also leave old files under
    the old spec and split-plan; a manifest with one partition_col cannot,
    and mixed-spec planning is complexity this engine does not need).
    At 100 TB you schedule it like any OPTIMIZE: once, off-peak, and the
    atomic commit means zero reader downtime. Returns the new version."""
    cur_v, m = _resolve(path, None)
    snap = _read_partitions(spark, path, m, list(m["partitions"]))
    if new_partition_col not in snap.columns:
        raise ValueError(
            f"repartition column {new_partition_col!r} is not in the table "
            f"schema ({snap.columns})"
        )
    stats = list(
        stats_cols
        if stats_cols is not None
        else [c for c in m.get("stats_cols", []) if c in snap.columns]
    )
    ki_col = key_index_col or (m.get("key_index") or {}).get("col")
    key_index = None
    if ki_col and ki_col in snap.columns:
        prev = m.get("key_index") or {}
        key_index = {
            "col": ki_col,
            "bits": prev.get("bits", 1 << 15),
            "hashes": prev.get("hashes", 4),
            "dtype": snap.schema[ki_col].dataType.simpleString(),
        }
    dtype = snap.schema[new_partition_col].dataType.simpleString()
    entries = _write_data_dir(
        snap, path, new_partition_col, stats, key_index, partition_dtype=dtype
    )
    manifest = _next_manifest(
        m, "REPARTITION", entries, partition_col=new_partition_col,
        partition_dtype=dtype, stats_cols=stats, key_index=key_index,
        dv_key=None,
    )
    _commit(path, manifest, cur_v + 1)
    return cur_v + 1
