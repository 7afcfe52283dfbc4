"""Snapshot diff / change-data-capture operators.

The reference's dbt ecosystem ships snapshots (type-2 change tracking) even
though its project never declares one (/root/reference/dbt — no snapshots/
dir); an engine replacing it needs the primitive. ``snapshot_diff``
classifies rows between two table versions; composed with
``plans/incremental.py`` it gives incremental CDC materialization.

Scale shape: one full-outer equi-join on the key (single shuffle each
side, or zero when both snapshots are bucket-written on the key via
joins.write_bucketed); change detection compares md5 over the tracked
columns, computed map-side before the join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F


def _row_hash(cols: Sequence[str]):
    """md5 of per-column md5 digests — engine-portable (never Spark hash())
    and free of separator/sentinel ambiguity: hashing each column FIRST
    means no value can fabricate a column boundary (a raw concat_ws with a
    separator char misclassifies values containing that char), and the NULL
    sentinel lives in digest space ('NULL' is not hex, so it cannot collide
    with any real digest). NULL therefore compares distinct from every
    value, matching IS DISTINCT FROM semantics."""
    digests = [
        F.coalesce(F.md5(F.col(c).cast("string")), F.lit("NULL")) for c in cols
    ]
    return F.md5(F.concat_ws("|", *digests))


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    compare_cols: Sequence[str],
) -> DataFrame:
    """Classify every key across two snapshots: 'added' (new only),
    'removed' (old only), 'changed' (both, tracked columns differ),
    'unchanged'. Returns (key, change_type) plus the new-side tracked
    columns for added/changed rows (null for removed)."""
    o = old.select(
        F.col(key).alias("__k"), _row_hash(compare_cols).alias("__old_h")
    )
    n = new.select(
        F.col(key), _row_hash(compare_cols).alias("__new_h"), *compare_cols
    )
    joined = o.join(n, o["__k"] == n[key], "full_outer")
    change = (
        F.when(F.col("__old_h").isNull(), F.lit("added"))
        .when(F.col("__new_h").isNull(), F.lit("removed"))
        .when(F.col("__old_h") != F.col("__new_h"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(
        F.coalesce(F.col(key), F.col("__k")).alias(key),
        change.alias("change_type"),
        *compare_cols,
    )


def merge_into(
    mart: DataFrame,
    updates: DataFrame,
    key: str,
    with_provenance: bool = False,
) -> DataFrame:
    """MERGE / upsert (update-else-insert): every ``updates`` row wins over
    the mart row with the same key; mart keys absent from the updates pass
    through untouched. The production alternative to the reference's
    full-refresh materialization (/root/reference/dbt/dbt_project.yml:29-32
    rebuilds the whole mart per run) — at 100 TB the mart is maintained by
    key-upsert, not rebuilt.

    Shape: ONE left-anti join of the mart against the update keys, then a
    union — the updates side of a continuous pipeline is orders of
    magnitude smaller than the mart, so the anti-join broadcasts (AQE picks
    this up from the update batch's runtime size); no shuffle ever touches
    the full mart. Composed with ``merge_into_partitioned`` the anti-join
    additionally runs only over the partitions the batch touches.

    ``with_provenance=True`` appends a ``merge_action`` column
    ('updated' / 'inserted' / 'carried'): updates are classified by one
    broadcast-able semi/anti pass over the mart's key column. Column sets
    of both inputs must match (enforced by unionByName).

    The key frames feed ONLY semi/anti joins, whose results are
    insensitive to duplicate build-side rows (the hash relation dedupes
    keys by construction) — so neither side pays a pre-join
    ``distinct()``: that extra exchange+aggregate per merge would buy
    nothing, and on the provenance path it would be MART-scale. Result rows for duplicate-keyed updates are identical
    either way: every duplicate still lands via the union arm.
    """
    upd_keys = updates.select(F.col(key))
    carried = mart.join(upd_keys, key, "left_anti")
    if not with_provenance:
        return carried.unionByName(updates)
    mart_keys = mart.select(F.col(key))
    updated = updates.join(mart_keys, key, "left_semi").withColumn(
        "merge_action", F.lit("updated")
    )
    inserted = updates.join(mart_keys, key, "left_anti").withColumn(
        "merge_action", F.lit("inserted")
    )
    return (
        carried.withColumn("merge_action", F.lit("carried"))
        .unionByName(updated)
        .unionByName(inserted)
    )


def merge_into_partitioned(
    spark,
    mart_path: str,
    updates: DataFrame,
    key: str,
    partition_col: str,
) -> list:
    """Physical MERGE into a partitioned parquet mart, rewriting ONLY the
    partitions the update batch touches.

    1. the batch's partition values (metadata-scale — a daily batch touches
       a handful of dates) prune the mart scan;
    2. ``merge_into`` resolves the upsert inside those partitions only;
    3. dynamic partition overwrite replaces exactly those partitions — the
       untouched ones are never read or written.

    Updates must land in their OWN partition (an update may not move a row
    across partitions — same contract as Hive/Delta dynamic overwrite).
    Returns the touched partition values (driver-side, metadata-scale).

    The merged frame is MATERIALIZED (localCheckpoint) before the write:
    the merge reads ``mart_path`` and the dynamic overwrite rewrites the
    same path, and a lazy plan would make the write's input depend on the
    files it is deleting — safe only by the accident of staging order and
    Spark-version-sensitive. Checkpointing decouples the
    read from the overwrite: the touched partitions are fully read and
    pinned to executor-local storage before the first byte is staged. The
    checkpointed slice is batch-scale (touched partitions only), not
    mart-scale. The swap itself stays non-atomic at the filesystem level —
    the table-format ledger is the production answer; this operator is the
    Hive-layout primitive underneath, and ``sources/ledger.py`` provides
    the atomic manifest-swap upgrade (immutable data dirs + rename-
    committed partition mapping, q_ledger_merge)."""
    touched = [r[0] for r in updates.select(partition_col).distinct().collect()]
    if not touched:
        return []  # empty batch: touch nothing (streaming replay edge)
    current = spark.read.parquet(mart_path).filter(
        F.col(partition_col).isin(touched)
    )
    merged = merge_into(
        current, updates.select(*current.columns), key
    ).localCheckpoint(eager=True)
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(mart_path)
    )
    return touched


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    key: str,
    compare_cols: Sequence[str],
    batch_ts,
) -> DataFrame:
    """Type-2 SCD merge (the dbt snapshot `timestamp`/`check` strategy): fold
    one batch of updates into a slowly-changing dimension.

    ``dim`` carries (key, compare_cols, valid_from, valid_to) with
    ``valid_to IS NULL`` marking current rows; ``updates`` carries
    (key, compare_cols). Per key:

    - changed current row  → closed (valid_to = batch_ts) + new current row
    - vanished current row → closed (a hard delete in the source)
    - new / re-appearing key → new current row (valid_from = batch_ts)
    - unchanged current row and all history rows → pass through untouched

    One full-outer hash-compare join between the CURRENT slice and the
    updates (history never joins — it is union'd back untouched), i.e. the
    same single-shuffle shape as snapshot_diff; at scale both sides bucket
    on the key. NULL-safe via the per-column digest hash above.
    """
    ts = F.lit(batch_ts).cast("timestamp_ntz")
    history = dim.filter(F.col("valid_to").isNotNull())
    current = dim.filter(F.col("valid_to").isNull())

    c = current.select(
        F.col(key).alias("__k"),
        *[F.col(col).alias(f"__c_{col}") for col in compare_cols],
        F.col("valid_from").alias("__c_from"),
        _row_hash(compare_cols).alias("__c_h"),
    )
    u = updates.select(
        F.col(key), *compare_cols, _row_hash(compare_cols).alias("__u_h")
    )
    j = c.join(u, c["__k"] == u[key], "full_outer")

    keep_current = j.filter(
        F.col("__u_h").isNotNull() & (F.col("__c_h") == F.col("__u_h"))
    ).select(
        F.col(key),
        *compare_cols,
        F.col("__c_from").alias("valid_from"),
        F.lit(None).cast("timestamp_ntz").alias("valid_to"),
    )
    closed = j.filter(
        F.col("__c_h").isNotNull()
        & (F.col("__u_h").isNull() | (F.col("__c_h") != F.col("__u_h")))
    ).select(
        F.col("__k").alias(key),
        *[F.col(f"__c_{col}").alias(col) for col in compare_cols],
        F.col("__c_from").alias("valid_from"),
        ts.alias("valid_to"),
    )
    opened = j.filter(
        F.col("__u_h").isNotNull()
        & (F.col("__c_h").isNull() | (F.col("__c_h") != F.col("__u_h")))
    ).select(
        F.col(key),
        *compare_cols,
        ts.alias("valid_from"),
        F.lit(None).cast("timestamp_ntz").alias("valid_to"),
    )
    return history.select(
        key, *compare_cols, "valid_from", "valid_to"
    ).unionByName(keep_current).unionByName(closed).unionByName(opened)


def scd2_asof(dim: DataFrame, at_ts) -> DataFrame:
    """Point-in-time lookup over a type-2 dimension: the rows that were
    current AS OF ``at_ts`` — ``valid_from <= t`` and (open, or closed
    strictly after t). The query that makes SCD2 history worth storing
    (reproduce any past report / join facts against the dimension state
    of their own day). A pure filter: partition-prunable when the dim is
    stored partitioned on valid_from months, no join, no window."""
    ts = F.lit(at_ts).cast("timestamp_ntz")
    return dim.filter(
        (F.col("valid_from") <= ts)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > ts))
    )


def apply_cdc(
    log: DataFrame,
    key: str,
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """APPLY CHANGES INTO — collapse an insert/update/delete change log
    (Debezium/DLT AUTO CDC shape: one row per change event carrying a
    key, a monotone sequence, and an op code) into the table's FINAL
    state: per key, the row with the highest ``seq_col`` wins, and a
    winning ``delete_op`` removes the key entirely. Inserts and updates
    need no distinction — both simply win by recency (SCD type 1; the
    type-2 path is ``scd2_apply``).

    Out-of-order delivery is handled by the sequence column, not arrival
    order — exactly DLT's ``sequence_by`` contract. ``seq_col`` must be
    unique per key (true for log offsets / LSNs); equal sequence values
    would make the winner nondeterministic, so ties break on the op code
    descending ('U' > 'I' > 'D' lexicographically is NOT assumed — the
    tie-break is documented as arbitrary-but-deterministic) purely to
    keep replays stable.

    Shape: one hash-shuffle on the key into a window row_number — the
    same single-shuffle keep-latest as dedup_keep_latest; at 100 TB the
    log partitions by key with no skew beyond the key distribution
    itself, and Spark's WindowGroupLimit pushes the rn=1 filter into the
    sort. No join against the existing table is needed for full-log
    replay; incremental application composes with ledger_merge /
    ledger_delete (apply upserts, then the delete set).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(key).orderBy(
        F.col(seq_col).desc(), F.col(op_col).desc()
    )
    return (
        log.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col(op_col) != delete_op))
        .drop("__rn")
    )


def merge_when(
    mart: DataFrame,
    source: DataFrame,
    key: str,
    matched_update: str | None = None,
    matched_delete: str | None = None,
    not_matched_insert: str | None = None,
    validate_unique: bool = True,
) -> DataFrame:
    """The full conditional MERGE grammar (Delta/SQL:2003 MERGE INTO):

        WHEN MATCHED [AND <matched_delete>]  THEN DELETE
        WHEN MATCHED [AND <matched_update>]  THEN UPDATE SET * (source wins)
        WHEN NOT MATCHED [AND <not_matched_insert>] THEN INSERT *

    Conditions are SQL strings over ``t.<col>`` (target) and ``s.<col>``
    (source). Clause order follows Delta's evaluation contract: for a
    matched pair the DELETE condition is tested first, then UPDATE
    (``matched_update=None`` means unconditional update — plain upsert);
    a matched row passing neither clause CARRIES unchanged. Unmatched
    target rows always carry; unmatched source rows insert iff their
    condition holds (``None`` = always).

    ``validate_unique`` enforces Delta's runtime error: a source with
    two rows for one key would make the merge nondeterministic, so it
    raises instead (one map-side-combined count — skip it only when the
    source is unique by construction).

    Shape: ONE equi-join on the key carrying both sides as structs
    (t/s), then a single CASE projection — no per-clause passes. The
    join is full-outer in general; when every clause ships (the common
    case) AQE still broadcasts a small source side. Composes with the
    ledger exactly like merge_into: resolve inside touched partitions,
    commit the swap.
    """
    if validate_unique:
        dup = (
            source.groupBy(key)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"MERGE source is not unique on {key!r} "
                f"(e.g. {dup[0][key]!r}) — the merge would be "
                f"nondeterministic; dedupe the source first"
            )
    t_cols = mart.columns
    s_cols = source.columns
    joined = (
        mart.select(F.col(key).alias("__tk"), F.struct(*t_cols).alias("t"))
        .join(
            source.select(
                F.col(key).alias("__sk"), F.struct(*s_cols).alias("s")
            ),
            F.col("__tk") == F.col("__sk"),
            "full_outer",
        )
    )
    matched = F.col("t").isNotNull() & F.col("s").isNotNull()
    always = F.lit(True)
    delete_c = F.expr(matched_delete) if matched_delete else F.lit(False)
    update_c = F.expr(matched_update) if matched_update else always
    insert_c = F.expr(not_matched_insert) if not_matched_insert else always
    pick = (
        F.when(matched & delete_c, F.lit(None).cast(joined.schema["s"].dataType))
        .when(matched & update_c, F.col("s"))
        .when(matched, F.col("t"))
        .when(F.col("t").isNotNull(), F.col("t"))
        .when(insert_c, F.col("s"))
        .otherwise(F.lit(None).cast(joined.schema["s"].dataType))
    )
    return (
        joined.select(pick.alias("__row"))
        .filter(F.col("__row").isNotNull())
        .select("__row.*")
    )
