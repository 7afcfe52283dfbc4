"""Streaming → table sinks: the production pattern for landing streams.

``foreachBatch`` hands each micro-batch to a normal batch writer, which is
where exactly-once lands in practice: the checkpoint gives at-least-once
batch REPLAY, so the batch write must be idempotent per ``batch_id``.

- ``complete`` (aggregate tables): each batch holds the full updated
  result — overwrite the table; a replayed batch rewrites identical bytes.
- ``append`` (event streams): each batch writes its own
  ``batch_id=<id>`` partition with overwrite — a replayed batch replaces
  its exact previous output instead of duplicating it. Readers see the
  union via normal partition discovery (and can prune on batch_id).

Same discipline as the batch side's per-interval dynamic overwrite
(sources/json_ingest.py::append_raw): retries need idempotent sinks.

Every sink here is a ``foreachBatch`` body handed to ``run_foreach_batch``,
which drains through streaming/events.py::drain. The upserting bodies
share two steps: ``_latest_per_key`` reduces a batch to one row per key,
and ``_write_or_merge`` bootstraps a missing ledger from the first batch
or merges into it, with the batch's ``txn`` either way.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window, functions as F

from weather_api_automate_etl_spark.operators import cdc, matview
from weather_api_automate_etl_spark.sources import ledger
from weather_api_automate_etl_spark.streaming import events


def batch_writer(path: str, output_mode: str = "append"):
    """The per-micro-batch writer ``stream_to_table`` installs — exposed so
    the replay contract (same batch_id written twice ⇒ identical table, no
    duplicates) is directly testable; Spark 4's checkpoint tamper-detection
    makes forcing a real replay from a doctored commit log impossible."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if output_mode == "complete":
            batch_df.write.mode("overwrite").parquet(path)
        else:
            # one subdir per micro-batch: replay overwrites, never duplicates
            batch_df.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")

    return write_batch


def stream_to_table(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    query_name: str,
    output_mode: str = "append",
    timeout_s: float = 120.0,
) -> None:
    """Drain ``stream_df`` into a parquet table at ``path`` with
    availableNow, via an idempotent per-batch ``foreachBatch`` writer.
    Raises on timeout rather than silently returning a partial table.

    Only ``append`` and ``complete`` are supported: ``update`` emits
    changed-rows-per-key deltas, which the per-batch-partition scheme would
    land as stale duplicates across batches — rejected loudly instead."""
    if output_mode not in ("append", "complete"):
        raise ValueError(
            f"stream_to_table supports append/complete, not {output_mode!r} "
            "(update-mode deltas would duplicate keys across batch partitions)"
        )
    run_foreach_batch(
        stream_df,
        batch_writer(path, output_mode),
        checkpoint_dir,
        query_name,
        output_mode=output_mode,
        timeout_s=timeout_s,
    )


def run_foreach_batch(
    stream_df: DataFrame,
    write_batch,
    checkpoint_dir: str,
    query_name: str,
    output_mode: str = "append",
    timeout_s: float = 120.0,
) -> None:
    """The shared foreachBatch drain: a checkpointed ``write_batch`` sink
    run through streaming/events.py::drain (stale same-name stop,
    availableNow, raise on timeout rather than return a partial sink)."""
    writer = (
        stream_df.writeStream.foreachBatch(write_batch)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
    )
    events.drain(stream_df.sparkSession, writer, query_name, timeout_s)


def _latest_per_key(
    df: DataFrame, key: str, order_cols: tuple[str, ...]
) -> DataFrame:
    """Each key's latest row, ``order_cols`` descending — a merge needs
    unique update keys, so every upserting batch body reduces to this."""
    w = Window.partitionBy(key).orderBy(*[F.desc(c) for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _write_or_merge(
    df: DataFrame,
    path: str,
    key: str,
    partition_col: str,
    txn: tuple[str, int],
    stats_cols: tuple[str, ...] = (),
) -> None:
    """Write the ledger at ``path`` if it is missing (the sink bootstraps
    its table from the first batch), else merge ``df`` into it — both
    carrying the same exactly-once ``txn`` watermark."""
    if not ledger._manifest_versions(path):
        ledger.ledger_write(
            df.sparkSession, df, path, partition_col,
            stats_cols=stats_cols, txn=txn,
        )
    else:
        ledger.ledger_merge(df.sparkSession, path, df, key, txn=txn)


def stream_merge_into_mart(
    stream_df: DataFrame,
    mart_path: str,
    checkpoint_dir: str,
    query_name: str,
    key: str,
    partition_col: str,
    order_cols: tuple[str, ...],
    timeout_s: float = 120.0,
) -> None:
    """Streaming MERGE: every micro-batch upserts into a partitioned
    parquet mart — the continuously-maintained-mart production pattern
    (foreachBatch + operators/cdc.py::merge_into_partitioned), and the
    streaming twin of the batch q_merge_upsert.

    Each batch is first reduced to its latest row per key (``order_cols``
    descending — merge_into requires unique update keys), then merged
    partition-pruned: only the partitions the batch touches are read or
    rewritten. The merge is IDEMPOTENT — re-upserting the same rows
    rewrites identical content — which is exactly what makes checkpoint
    replay after a crash safe (the at-least-once batch redelivery lands
    the same mart state, the streaming/sinks.py module contract)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        latest = _latest_per_key(batch_df, key, order_cols)
        if not os.path.exists(mart_path):
            latest.write.partitionBy(partition_col).parquet(mart_path)
        else:
            cdc.merge_into_partitioned(
                batch_df.sparkSession, mart_path, latest, key, partition_col
            )

    run_foreach_batch(
        stream_df, write_batch, checkpoint_dir, query_name,
        output_mode="update", timeout_s=timeout_s,
    )


def stream_merge_into_ledger(
    stream_df: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    query_name: str,
    key: str,
    partition_col: str,
    order_cols: tuple[str, ...],
    stats_cols: tuple[str, ...] = (),
    timeout_s: float = 120.0,
) -> None:
    """Streaming MERGE with EXACTLY-ONCE batch application: every
    micro-batch upserts into the atomic snapshot ledger
    (sources/ledger.py), carrying ``(query_name, batch_id)`` as the
    transaction watermark in the same atomic manifest commit as the data.

    This is one rung above ``stream_merge_into_mart``'s value-idempotence:
    there a replayed batch RE-RUNS the merge and lands identical bytes;
    here the ledger sees the already-applied batch id and the replay is a
    pure no-op — no read, no write, no new version. That is the
    ``foreachBatch`` + transactional-sink pattern Structured Streaming's
    own docs prescribe for exactly-once (and the ledger form of Delta's
    ``txn`` action). Crash safety composes from the two atomic pieces:
    the checkpoint replays any batch whose manifest commit didn't land,
    and the manifest commit dedupes any batch whose checkpoint mark
    didn't."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        _write_or_merge(
            _latest_per_key(batch_df, key, order_cols), table_path, key,
            partition_col, (query_name, batch_id), stats_cols,
        )

    run_foreach_batch(
        stream_df, write_batch, checkpoint_dir, query_name,
        output_mode="update", timeout_s=timeout_s,
    )


def stream_merge_with_mv(
    stream_df: DataFrame,
    table_path: str,
    mv_path: str,
    checkpoint_dir: str,
    query_name: str,
    key: str,
    partition_col: str,
    order_cols: tuple[str, ...],
    group_cols: tuple[str, ...],
    aggs_fn,
    timeout_s: float = 120.0,
) -> None:
    """The full continuously-maintained-mart loop in one sink: each
    micro-batch (a) upserts exactly-once into the base ledger — the
    ``stream_merge_into_ledger`` contract, (query_name, batch_id) in the
    same atomic commit as the data — then (b) brings the aggregate view
    at ``mv_path`` back in sync via incremental refresh
    (operators/matview.py): manifest-diff of the base picks out the
    partitions this batch touched, only those re-aggregate, and the MV
    swap commits with the base VERSION as its own transaction watermark.

    Exactly-once composes independently at both rungs: a replayed batch
    is a no-op at the base (txn id not newer), which leaves the base
    version unchanged, which makes the chained refresh a no-op too — so
    crash/replay at ANY point between the two commits converges without
    double-applying either. This is the Delta Live Tables
    streaming-table → materialized-view topology on the ledger
    primitives. ``aggs_fn`` is a zero-arg callable returning the
    aggregate Columns (the view definition lives in code, only the sync
    watermark in state)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _write_or_merge(
            _latest_per_key(batch_df, key, order_cols), table_path, key,
            partition_col, (query_name, batch_id),
        )
        if not ledger._manifest_versions(mv_path):
            matview.mv_build(
                spark, table_path, mv_path, list(group_cols), aggs_fn()
            )
        else:
            matview.mv_refresh(
                spark, table_path, mv_path, list(group_cols), aggs_fn()
            )

    run_foreach_batch(
        stream_df, write_batch, checkpoint_dir, query_name,
        output_mode="update", timeout_s=timeout_s,
    )


def stream_apply_cdc_into_ledger(
    stream_df: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    query_name: str,
    key: str,
    seq_col: str,
    partition_col: str,
    op_col: str = "op",
    delete_op: str = "D",
    stats_cols: tuple[str, ...] = (),
    timeout_s: float = 120.0,
) -> None:
    """The streaming CDC CONSUMER — Debezium/DLT ``APPLY CHANGES INTO``
    as a foreachBatch sink over the atomic snapshot ledger: every
    micro-batch of insert/update/delete events collapses to its latest
    event per key (``sequence_by`` recency, the operators/cdc.py::
    apply_cdc discipline with the delete rows RETAINED), stale events
    are discarded against the table's current sequence, and the batch
    lands as a ledger MERGE of the upserts plus a ledger DELETE of the
    keys whose winning event is ``delete_op`` — each half carrying its
    own exactly-once ``txn`` watermark (``query_name`` and
    ``query_name#del``) in the same atomic manifest commit as its data,
    so a checkpoint-replayed batch re-applies NEITHER half.

    The sequence guard (keep an event only if its ``seq_col`` beats the
    CURRENT row's) is what makes delivery semantics composable: an
    at-least-once upstream that re-ships a suffix of the log under NEW
    batch ids (where the txn watermark cannot dedupe) converges to the
    same final state, because every re-delivered event loses to the
    sequence it already produced. Tombstones are not retained beyond the
    delete itself, so the upstream must ship ranges in sequence order
    (a lower-seq update arriving AFTER its key's higher-seq delete
    would re-insert) — the Kafka-topic/WAL-shipping contract, stated
    rather than assumed. The guard reads the current snapshot once per
    batch; at scale it prunes to the batch's touched partitions exactly
    like the merge itself (both plan from the manifest).

    ``stream_df`` must carry ``partition_col`` (the same stable
    key→partition contract as ledger_merge: a key's partition value
    never changes across events)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        latest = _latest_per_key(batch_df, key, (seq_col, op_col))
        exists = bool(ledger._manifest_versions(table_path))
        if exists:
            current = ledger.ledger_read(spark, table_path).select(
                key, F.col(seq_col).alias("__cur_seq")
            )
            latest = (
                latest.join(current, key, "left")
                .filter(
                    F.col("__cur_seq").isNull()
                    | (F.col(seq_col) > F.col("__cur_seq"))
                )
                .drop("__cur_seq")
            )
        latest = latest.localCheckpoint(eager=True)  # branch once, not twice
        ups = latest.filter(F.col(op_col) != delete_op)
        dels = latest.filter(F.col(op_col) == delete_op).select(key)
        _write_or_merge(
            ups, table_path, key, partition_col, (query_name, batch_id),
            stats_cols,
        )
        if not exists:
            return  # nothing to delete from a table that just bootstrapped
        ledger.ledger_delete(
            spark, table_path, dels, key, txn=(f"{query_name}#del", batch_id)
        )

    run_foreach_batch(
        stream_df, write_batch, checkpoint_dir, query_name,
        output_mode="update", timeout_s=timeout_s,
    )
