"""Structured Streaming twins of the batch event-time operators.

The reference's "streaming" is a daily scheduled micro-batch
(/root/reference/dags/weatherstack_full_pipeline.py:124-125). This module
gives the genuine streaming story: the same tumbling-window aggregation as
operators/windows.py::tumbling_window_agg, expressed over ``readStream``
with a watermark for late data, plus a stateful per-user running aggregate
via ``applyInPandasWithState`` — the custom-stateful-operator escape hatch.

At scale these run unchanged: watermark state is bounded per window ×
event_type; the stateful operator keys by user_id (state ∝ active users).

It also owns the two mechanics every streaming query shares: ``stage``
puts one input file into a file-stream source directory, and ``drain``
runs a configured writer with availableNow to completion (stale
same-name stop, timeout). The memory and file sinks here and the
``foreachBatch`` sinks in streaming/sinks.py all drain through it.
"""

from __future__ import annotations

import os
import time
from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source event stream (one file per micro-batch in tests; at scale
    a Kafka/file-drop source with the same schema)."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def windowed_counts(
    events: DataFrame,
    duration: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Watermarked windowed aggregate — the streaming twin of
    operators/windows.py::tumbling_window_agg (late rows beyond the
    watermark are dropped; state is evictable). Pass ``slide`` shorter
    than ``duration`` for hopping windows: the window() generator expands
    each row into its hops before the same combinable agg, so state is
    (duration/slide)x, still watermark-bounded — the streaming twin of
    q_hopping_windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration, slide or duration).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            # same ntz cast as the batch twin (operators/windows.py) —
            # without it, non-UTC drivers see window keys shifted by the
            # session offset and batch/stream results stop aligning
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def session_counts(
    events: DataFrame, gap: str = "10 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming sessionization via ``session_window``: events of a user
    whose gap-extended windows overlap merge into one session
    [min ts, max ts + gap). The NATIVE stateful-session operator — unlike
    the batch lag/cumsum formulation (operators/windows.py::sessionize),
    Spark maintains open sessions as mergeable state and finalizes each
    one once the watermark passes its close, so state ∝ concurrently-open
    sessions, never history. On a batch DataFrame the same code is the
    exact batch twin (withWatermark is a no-op there).

    Split semantics: a new session starts when ts_next − ts_prev ≥ gap
    (the previous window is half-open). The DuckDB oracle reproduces this
    as a gaps-and-islands cumulative sum."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


RUNNING_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running event count + value sum via
    ``applyInPandasWithState`` (arbitrary state, processing-time timeout —
    the pattern for operators watermarked windows can't express)."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator["pd.DataFrame"],  # noqa: F821
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=RUNNING_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup on event_id with BOUNDED state.

    Plain ``dropDuplicates`` on a stream keeps every key forever (state grows
    without bound — fatal at 100 TB/day); ``dropDuplicatesWithinWatermark``
    evicts keys once the watermark passes, so state ∝ (arrival rate ×
    watermark), matching the at-least-once-source dedup window a real
    ingest pipeline needs."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stage(stage_dir: str, name: str, src: str | DataFrame) -> None:
    """Stage one file, ``{name}.parquet``, into the file-stream source
    directory ``stage_dir`` (made if missing) — every staged stream input
    in the package comes through here. ``src`` is a fixture file, a
    write job's output directory holding one part file, or a frame,
    which is written as one file (``coalesce(1)``) into the hidden
    ``_{name}`` subdirectory first. The staged name is a symlink, so a
    fixture is never copied and staging the same file under N names
    streams genuine duplicate rows. A file source skips ``_``-prefixed
    entries, so each staged file is exactly one new input for the next
    drain and the written subdirectory is never read."""
    os.makedirs(stage_dir, exist_ok=True)
    if isinstance(src, DataFrame):
        written = os.path.join(stage_dir, f"_{name}")
        src.coalesce(1).write.parquet(written)
        src = written
    if os.path.isdir(src):
        src = next(
            os.path.join(src, n) for n in os.listdir(src) if n.endswith(".parquet")
        )
    os.symlink(src, os.path.join(stage_dir, f"{name}.parquet"))


def drain(
    spark: SparkSession,
    writer: DataStreamWriter,
    query_name: str | None = None,
    timeout_s: float = 120.0,
) -> None:
    """Run ``writer`` with availableNow until the source is drained — the
    one start/await/timeout owner behind every sink in the package. A
    named query first stops any active query of the same name and waits
    (up to 10 s) until Spark deregisters it: deregistration is
    asynchronous after ``awaitTermination``, and racing it trips Spark's
    duplicate-name and concurrent-checkpoint guards. The wait sleeps only
    while such a query is still active. Raises on timeout instead of
    returning a partially drained sink."""
    if query_name is not None:
        deadline = time.monotonic() + 10.0
        while time.monotonic() < deadline:
            same = [a for a in spark.streams.active if a.name == query_name]
            if not same:
                break
            for a in same:
                a.stop()
            time.sleep(0.2)
        writer = writer.queryName(query_name)
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"stream {query_name or str(q.id)!r} did not drain within {timeout_s}s"
        )


def run_to_memory_sink(
    stream_df: DataFrame, query_name: str, timeout_s: float = 120.0,
    output_mode: str = "complete",
) -> None:
    """Drain a stream into the memory table ``query_name``."""
    writer = stream_df.writeStream.format("memory").outputMode(output_mode)
    drain(stream_df.sparkSession, writer, query_name, timeout_s)


def run_to_file_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    timeout_s: float = 120.0,
    fmt: str = "parquet",
) -> None:
    """Drain a stream into a DURABLE file sink (append mode + checkpoint)
    — the production landing-zone shape. The checkpoint gives
    exactly-once file commits: a restarted query replays from the offset
    log and never double-writes a batch, which is the property the
    memory-sink drains can't demonstrate."""
    writer = (
        stream_df.writeStream.format(fmt)
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    drain(stream_df.sparkSession, writer, timeout_s=timeout_s)


def clicks_with_recent_purchase(
    events: DataFrame, lookback_hours: int = 1, watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream interval join: each click paired with the same user's
    purchases in the preceding ``lookback_hours``.

    Both sides are watermarked, and the join condition bounds event-time
    distance, so Spark can evict buffered rows once the watermark passes
    ``click_ts - lookback`` — state ∝ (arrival rate × (watermark + lookback)),
    never total history. Inner-join matches emit immediately (no watermark
    latency); the watermark exists purely to bound state. On a batch
    DataFrame ``withWatermark`` is a no-op and the same code is the exact
    batch twin — the equivalence the tests and the driver oracle pin."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
            "user_id",
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    cond = F.expr(
        "user_id = p_user_id "
        f"AND purchase_ts >= click_ts - INTERVAL {int(lookback_hours)} HOUR "
        "AND purchase_ts <= click_ts"
    )
    return clicks.join(purchases, cond).select(
        "click_id", "click_ts", "user_id", "purchase_ts", "purchase_value"
    )


def clicks_with_optional_purchase(
    events: DataFrame, lookback_hours: int = 1, watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the semantics inner joins
    dodge: a click with no purchase in its lookback window must STILL be
    emitted (null-padded), but only once the watermark proves no matching
    purchase can arrive. Matches emit immediately; unmatched clicks are
    held in state and flushed null-padded when the watermark passes the
    click's window close — which means outer results are inherently
    LATENT by (watermark delay + lookback), the documented Spark
    contract, and the reason the drain needs later batches to advance
    the watermark before the last unmatched clicks appear.

    The watermark is declared once on the PARENT stream, but Catalyst
    pushes each side's event_type filter BELOW the EventTimeWatermark
    node, so in the physical plan each side's watermark advances only
    with its OWN traffic and the join watermark is their MIN — verified
    empirically (a neither-side sentinel advances nothing; the commit
    log's batchWatermarkMs tracked max(click_ts)−delay). Closing the
    join's windows therefore requires later traffic on BOTH sides,
    exactly Spark's documented multi-watermark policy. State stays
    ∝ (arrival rate × (watermark + lookback)); on a batch frame the
    same code is the exact batch LEFT JOIN twin."""
    wm = events.withWatermark("ts", watermark)
    clicks = wm.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        "user_id",
    )
    purchases = wm.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    cond = F.expr(
        "user_id = p_user_id "
        f"AND purchase_ts >= click_ts - INTERVAL {int(lookback_hours)} HOUR "
        "AND purchase_ts <= click_ts"
    )
    return clicks.join(purchases, cond, "left_outer").select(
        "click_id", "click_ts", "user_id", "purchase_ts", "purchase_value"
    )
