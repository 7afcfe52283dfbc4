"""Structured Streaming twins: streaming result ≡ batch result."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from weather_api_automate_etl_spark.operators.windows import tumbling_window_agg
from weather_api_automate_etl_spark.sources.tables import load_table
from weather_api_automate_etl_spark.streaming import events as stream_events

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    # stage the fixture events as a file-source dir (µs timestamps)
    path = str(tmp_path_factory.mktemp("events_stream"))
    (
        load_table(spark, SF, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .repartition(3)  # 3 files → 3 micro-batches under maxFilesPerTrigger=1
        .write.mode("overwrite").parquet(path)
    )
    return path


def test_windowed_counts_match_batch(spark, event_dir):
    stream = stream_events.read_event_stream(spark, event_dir)
    stream_events.run_to_memory_sink(
        stream_events.windowed_counts(stream), "win_counts"
    )
    got = {
        (r.window_start, r.event_type): (r.n, r.total_value)
        for r in spark.table("win_counts").collect()
    }
    batch = {
        (r.window_start, r.event_type): (r.n, r.total_value)
        for r in tumbling_window_agg(load_table(spark, SF, "events")).collect()
    }
    # exact parity: same window keys, same counts, same sums
    assert got == batch


@pytest.mark.slow
def test_running_user_totals_stateful(spark, event_dir):
    stream = stream_events.read_event_stream(spark, event_dir)
    q = (
        stream_events.running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("user_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table("user_totals")
    # update-mode emits one row per user per micro-batch; the max n_events
    # per user must equal the batch count
    final = out.groupBy("user_id").agg(F.max("n_events").alias("n"))
    batch = load_table(spark, SF, "events").groupBy("user_id").count()
    joined = final.join(batch, "user_id")
    assert joined.filter("n != count").count() == 0


def test_dedup_within_watermark_drops_replays(spark, tmp_path):
    # replay the same batch twice: an at-least-once source. One file per
    # pass — a replay is a re-delivered micro-batch, not a shuffled tail
    # (rows older than the watermark in later batches are dropped as late,
    # which is exactly the bounded-state contract).
    import shutil, glob
    staged = tmp_path / "staged"
    (
        load_table(spark, SF, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .coalesce(1)
        .write.mode("overwrite").parquet(str(staged))
    )
    src = glob.glob(f"{staged}/*.parquet")[0]
    replay = tmp_path / "replayed"
    replay.mkdir()
    shutil.copy(src, replay / "a0.parquet")
    shutil.copy(src, replay / "b0.parquet")
    stream = stream_events.read_event_stream(spark, str(replay))
    deduped = stream_events.dedup_within_watermark(stream)
    stream_events.run_to_memory_sink(deduped, "dedup_sink", output_mode="append")
    got = spark.table("dedup_sink")
    n_unique = load_table(spark, SF, "events").count()
    assert got.count() == n_unique
    assert got.select("event_id").distinct().count() == n_unique


@pytest.mark.slow
def test_stream_stream_join_matches_batch(spark, event_dir):
    # big watermark: the 3 unordered micro-batches must not evict state
    # mid-run, or stream != batch on this bounded input
    stream = stream_events.read_event_stream(spark, event_dir)
    stream_events.run_to_memory_sink(
        stream_events.clicks_with_recent_purchase(
            stream, lookback_hours=1, watermark="365 days"
        ),
        "ss_join_sink",
        output_mode="append",
    )
    got = sorted(
        (r.click_id, r.purchase_ts, r.purchase_value)
        for r in spark.table("ss_join_sink").collect()
    )
    batch = spark.read.parquet(event_dir)
    want = sorted(
        (r.click_id, r.purchase_ts, r.purchase_value)
        for r in stream_events.clicks_with_recent_purchase(
            batch, lookback_hours=1
        ).collect()
    )
    assert got == want and len(want) > 0


def test_hopping_windowed_counts_match_batch(spark, event_dir):
    stream = stream_events.read_event_stream(spark, event_dir)
    stream_events.run_to_memory_sink(
        stream_events.windowed_counts(
            stream, duration="10 minutes", watermark="365 days", slide="5 minutes"
        ),
        "hop_sink",
    )
    got = sorted(
        (r.window_start, r.event_type, r.n, r.total_value)
        for r in spark.table("hop_sink").collect()
    )
    batch = spark.read.parquet(event_dir)
    want = sorted(
        (r.window_start, r.event_type, r.n, r.total_value)
        for r in stream_events.windowed_counts(
            batch, duration="10 minutes", slide="5 minutes"
        ).collect()
    )
    assert got == want and len(want) > 0
    # hop invariant: each event lands in exactly duration/slide = 2 windows
    assert sum(n for _, _, n, _ in want) == 2 * batch.count()


def test_session_counts_multibatch_matches_batch(spark, event_dir):
    # 3 unordered micro-batches; fixture-huge watermark so no mid-drain
    # eviction — streaming session merge must still equal the batch result
    stream = stream_events.read_event_stream(spark, event_dir)
    stream_events.run_to_memory_sink(
        stream_events.session_counts(stream, watermark="365 days"),
        "session_counts_t",
    )
    got = {
        (r.user_id, r.session_start): (r.session_end, r.n_events, r.total_value)
        for r in spark.table("session_counts_t").collect()
    }
    batch_src = (
        load_table(spark, SF, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    )
    batch = {
        (r.user_id, r.session_start): (r.session_end, r.n_events, r.total_value)
        for r in stream_events.session_counts(batch_src).collect()
    }
    assert got == batch and len(got) > 0


@pytest.mark.slow
def test_stream_to_table_idempotent_append(spark, event_dir, tmp_path):
    # dedup'd event stream -> per-batch-partition parquet; draining the SAME
    # checkpoint twice must not duplicate anything (batch replay overwrites)
    from weather_api_automate_etl_spark.streaming import sinks

    out = str(tmp_path / "events_table")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = stream_events.read_event_stream(spark, event_dir)
        sinks.stream_to_table(
            stream_events.dedup_within_watermark(stream, watermark="365 days"),
            out, ckpt, "events_to_table",
        )

    drain()
    first = spark.read.parquet(out)
    n_events = load_table(spark, SF, "events").select("event_id").distinct().count()
    assert first.select("event_id").distinct().count() == n_events
    assert first.count() == n_events
    drain()  # no new input, same checkpoint: nothing changes
    assert spark.read.parquet(out).count() == n_events
    # replay contract, tested directly on the installed writer (Spark 4's
    # checkpoint tamper-detection forbids forcing a replay by doctoring the
    # commit log): re-writing an already-written batch_id must REPLACE that
    # batch's partition, not append to it
    writer = sinks.batch_writer(out)
    some_batch = spark.read.parquet(out).select("batch_id").head().batch_id
    src = (
        spark.read.parquet(out)
        .filter(F.col("batch_id") == some_batch)
        .drop("batch_id")
    )
    # materialize before writing: the replay source must not lazily read the
    # files the overwrite is about to replace
    replayed = spark.createDataFrame(src.collect(), src.schema)
    writer(replayed, int(some_batch))
    assert spark.read.parquet(out).count() == n_events


@pytest.mark.slow
def test_stream_to_table_complete_overwrites(spark, event_dir, tmp_path):
    from weather_api_automate_etl_spark.streaming import sinks

    out = str(tmp_path / "win_table")
    stream = stream_events.read_event_stream(spark, event_dir)
    sinks.stream_to_table(
        stream_events.windowed_counts(stream),
        out, str(tmp_path / "ckpt2"), "win_to_table", output_mode="complete",
    )
    got = {
        (r.window_start, r.event_type): (r.n, r.total_value)
        for r in spark.read.parquet(out).collect()
    }
    batch = {
        (r.window_start, r.event_type): (r.n, r.total_value)
        for r in tumbling_window_agg(load_table(spark, SF, "events")).collect()
    }
    assert got == batch


@pytest.mark.slow
def test_stream_to_table_complete_replay_is_identical(spark, event_dir, tmp_path):
    # complete-mode replay contract (mirror of the append-mode test): each
    # batch holds the FULL aggregate, so re-writing any batch must leave
    # the table content-identical — no duplication, no partial state
    from weather_api_automate_etl_spark.streaming import sinks

    out = str(tmp_path / "win_table")
    stream = stream_events.read_event_stream(spark, event_dir)
    sinks.stream_to_table(
        stream_events.windowed_counts(stream),
        out, str(tmp_path / "ckpt"), "win_replay", output_mode="complete",
    )
    first = sorted(
        (r.window_start, r.event_type, r.n, r.total_value)
        for r in spark.read.parquet(out).collect()
    )
    assert first
    # replay the final batch through the installed writer (Spark 4's
    # checkpoint tamper-detection forbids forcing a real replay): the
    # overwrite must reproduce the identical table
    replayed = spark.createDataFrame(
        spark.read.parquet(out).collect(), spark.read.parquet(out).schema
    )
    sinks.batch_writer(out, "complete")(replayed, 0)
    again = sorted(
        (r.window_start, r.event_type, r.n, r.total_value)
        for r in spark.read.parquet(out).collect()
    )
    assert again == first
    # update mode stays loudly rejected — the mode guard, not a silent fallback
    import pytest as _pytest

    with _pytest.raises(ValueError, match="update"):
        sinks.stream_to_table(
            stream_events.windowed_counts(stream),
            out, str(tmp_path / "ckpt3"), "win_update", output_mode="update",
        )


def test_file_sink_restart_is_exactly_once(spark, event_dir, tmp_path):
    """Draining the same bounded source twice against the same checkpoint
    must not double-write: the offset log records the consumed files, so
    the restarted query commits nothing new — the exactly-once property
    run_to_file_sink claims."""
    sink = str(tmp_path / "data")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = stream_events.read_event_stream(spark, event_dir)
        stream_events.run_to_file_sink(
            stream.filter(F.col("event_type") == "purchase").select(
                "event_id", "user_id", "value"
            ),
            sink,
            ckpt,
        )

    drain()
    n1 = spark.read.parquet(sink).count()
    drain()  # restart with the same checkpoint: replays offsets, adds nothing
    n2 = spark.read.parquet(sink).count()
    expected = (
        load_table(spark, SF, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert n1 == expected
    assert n2 == n1


@pytest.mark.slow
def test_stream_merge_with_mv_syncs_and_replays_as_noop(spark, event_dir, tmp_path):
    """The combined base-upsert + MV-refresh sink (sinks.py::
    stream_merge_with_mv): after the drain, the MV equals the
    declarative keep-latest-per-user aggregate; a second drain with no
    new files replays nothing and commits nothing at either rung."""
    from weather_api_automate_etl_spark.sources import ledger
    from weather_api_automate_etl_spark.streaming import sinks

    stream = stream_events.read_event_stream(spark, event_dir).select(
        "user_id", "event_id", "ts", "value",
        (F.col("user_id") % 4).cast("long").alias("p"),
    )
    table, mv = str(tmp_path / "base"), str(tmp_path / "mv")
    ckpt = str(tmp_path / "ckpt")
    aggs_fn = lambda: [  # noqa: E731
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    ]
    kwargs = dict(
        key="user_id", partition_col="p", order_cols=("ts", "event_id"),
        group_cols=("p",), aggs_fn=aggs_fn,
    )
    sinks.stream_merge_with_mv(stream, table, mv, ckpt, "t_smv", **kwargs)
    base_v = ledger._manifest_versions(table)[-1]
    mv_v = ledger._manifest_versions(mv)[-1]
    want = sorted(
        (r.p, r.n_users, r.sum_value)
        for r in (
            ledger.ledger_read(spark, table)
            .groupBy("p")
            .agg(*aggs_fn())
            .collect()
        )
    )
    got = sorted(
        (r.p, r.n_users, r.sum_value)
        for r in ledger.ledger_read(spark, mv).collect()
    )
    assert got == want
    # drained checkpoint + txn watermarks: nothing new at either rung
    sinks.stream_merge_with_mv(stream, table, mv, ckpt, "t_smv", **kwargs)
    assert ledger._manifest_versions(table)[-1] == base_v
    assert ledger._manifest_versions(mv)[-1] == mv_v


def test_ledger_sink_bootstraps_over_an_empty_ledger_dir(spark, tmp_path):
    """A crash between creating ``_ledger/`` and linking ``v1.json``
    leaves the directory empty. The sink decides by manifest, so the
    next batch bootstraps the table instead of merging into a table
    that has no manifest."""
    from weather_api_automate_etl_spark.sources import ledger
    from weather_api_automate_etl_spark.streaming import sinks

    path = str(tmp_path / "table")
    os.makedirs(os.path.join(path, "_ledger"))
    df = spark.createDataFrame(
        [(1, 10.0, 0), (2, 20.0, 1)], "k long, v double, p long"
    )
    sinks._write_or_merge(df, path, "k", "p", ("q", 0))
    assert ledger._manifest_versions(path) == [1]
    got = ledger.ledger_read(spark, path).select("k", "v", "p").collect()
    assert sorted(tuple(r) for r in got) == [(1, 10.0, 0), (2, 20.0, 1)]
