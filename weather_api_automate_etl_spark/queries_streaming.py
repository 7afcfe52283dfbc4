"""Structured Streaming queries: event-time windows, sessions,
stateful aggregation, file, dedup, merge and ledger sinks, stream-static
and stream-stream joins, streaming materialized views and corpus
cleaning. Every stream is staged and drained through
``streaming/events.py`` under ``queries.scratch``.

Registry and oracle conventions: queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.operators import textops
from weather_api_automate_etl_spark.queries import _TOKENS_SQL, query, scratch, t
from weather_api_automate_etl_spark.streaming import events as stream_events


#: declared schema of the staged events stream, modulo the ts type — the
#: fixture has shipped ts as TIMESTAMP(NANOS) (a raw ns-epoch long under
#: nanosAsLong) in some generations and TIMESTAMP(MICROS) in others, so the
#: stager takes ts's type from the file's cached batch schema
#: (tables.read_fixture) instead of hard-coding either precision.
_EVENT_STREAM_SCHEMA_FMT = (
    "event_id long, ts {ts_type}, user_id long, event_type string, "
    "value double, props string"
)


def _staged_table_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    schema: str,
    stage_dir: str,
    copies: int = 1,
) -> DataFrame:
    """File stream over the fixture ``table`` under its declared
    ``schema``, staged into ``stage_dir`` by streaming/events.py::stage
    (file streams need a directory; ``copies`` > 1 symlinks the same
    file N times, a zero-copy way to stream genuine duplicate rows).
    Self-heals the engine confs like every read path: the driver builds
    its own, possibly hostile, session."""
    from weather_api_automate_etl_spark.sources.tables import _ensure_engine_confs

    _ensure_engine_confs(spark)
    for i in range(copies):
        stream_events.stage(stage_dir, f"{table}_{i}", f"{sf_dir}/{table}.parquet")
    return spark.readStream.schema(schema).parquet(stage_dir)


def _staged_event_stream(
    spark: SparkSession, sf_dir: str, stage_dir: str, copies: int = 1
) -> DataFrame:
    """``_staged_table_stream`` over the events fixture, with ``ts``
    normalized to a µs timestamp.

    File streams need a user-declared schema, and declaring the wrong ts
    precision silently corrupts every event time (a µs long divided as ns
    lands in 1970). Take ts's type from the file's batch schema, which
    ``tables.read_fixture`` infers once per process (a Spark job on the
    first read of the file only), and stage accordingly: ns generations
    arrive as bigint and take the integer-div path (ns epochs exceed
    double's mantissa, so never float-divide); µs generations arrive as a
    native timestamp type."""
    from weather_api_automate_etl_spark.sources.tables import read_fixture

    batch_ts = dict(read_fixture(spark, f"{sf_dir}/events.parquet").dtypes)["ts"]
    if batch_ts == "bigint":
        schema = _EVENT_STREAM_SCHEMA_FMT.format(ts_type="long")
        ts = F.timestamp_micros(F.expr("ts div 1000"))
    else:
        schema = _EVENT_STREAM_SCHEMA_FMT.format(ts_type=batch_ts)
        ts = F.col("ts").cast("timestamp")
    stream = _staged_table_stream(spark, sf_dir, "events", schema, stage_dir, copies)
    return stream.withColumn("ts", ts)


def _drain_stream(
    spark: SparkSession,
    sf_dir: str,
    sink: str,
    build,
    table: str = "events",
    schema: str | None = None,
    **drain_kwargs,
) -> DataFrame:
    """Shared recipe for every memory-sink streaming query: stage the
    events fixture (``_staged_event_stream``) — or another fixture
    ``table`` under its static ``schema`` — apply ``build(stream)``,
    drain into the memory sink ``sink``, return the sink table. The
    stage lives in a ``scratch`` dir removed before returning; the
    memory sink does not read from it."""
    with scratch(sink) as base:
        stage_dir = f"{base}/stage"
        if schema is None:
            stream = _staged_event_stream(spark, sf_dir, stage_dir)
        else:
            stream = _staged_table_stream(spark, sf_dir, table, schema, stage_dir)
        stream_events.run_to_memory_sink(build(stream), sink, **drain_kwargs)
    return spark.table(sink)


def _drain_event_stream_to_files(
    spark: SparkSession, sf_dir: str, name: str, build, copies: int = 1
) -> DataFrame:
    """File-sink twin of ``_drain_stream``: drain into a parquet append
    sink with a checkpoint (streaming/events.py::run_to_file_sink — the
    exactly-once landing-zone path), batch-read the sink back and
    materialize it (localCheckpoint) before the scratch dir goes. The
    returned frame is what a downstream batch consumer of the landing
    zone would see — which is exactly what the driver hashes."""
    with scratch(name) as base:
        stream = _staged_event_stream(spark, sf_dir, f"{base}/stage", copies)
        stream_events.run_to_file_sink(
            build(stream), f"{base}/sink/data", f"{base}/sink/ckpt"
        )
        return spark.read.parquet(f"{base}/sink/data").localCheckpoint(eager=True)


@query("q_streaming_event_windows", oracle="""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """)
def q_streaming_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The *streaming* twin of q_event_windows, run for real: file-source
    readStream over the events fixture → watermarked tumbling windows →
    availableNow drain into a memory sink. Must hash-match the same batch
    oracle — streaming and batch semantics agree on bounded input."""
    return _drain_stream(
        spark, sf_dir, "q_streaming_event_windows_sink",
        stream_events.windowed_counts, timeout_s=120,
    )


@query("q_streaming_sessions", oracle="""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
    ),
    m AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 10 MINUTE AS session_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM s GROUP BY user_id, sid
    """)
def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native stateful sessionization run as a REAL stream: readStream over
    the events fixture → watermarked session_window aggregation
    (streaming/events.py::session_counts) → availableNow drain. The DuckDB
    oracle computes the identical sessions via gaps-and-islands — an
    independent algorithm for the same semantics. Watermark is bounded-
    fixture-huge so no state is evicted mid-drain."""
    return _drain_stream(
        spark, sf_dir, "q_streaming_sessions_sink",
        lambda st: stream_events.session_counts(st, watermark="365 days"),
        timeout_s=120,
    )


@query("q_streaming_stateful", oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY user_id
    """)
def q_streaming_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful operator (applyInPandasWithState running
    per-user totals) driven as a real stream and reduced to its FINAL
    state: the update-mode sink holds one row per (user, micro-batch);
    n_events grows monotonically, so max_by(total_value, n_events) +
    max(n_events) recovers the last update per user — which must equal
    the plain batch aggregate the oracle computes."""
    return (
        _drain_stream(
            spark, sf_dir, "q_streaming_stateful_sink",
            stream_events.running_user_totals,
            output_mode="update", timeout_s=120,
        )
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
    )


@query("q_streaming_file_sink", oracle="""
    SELECT event_id, user_id,
           CAST(ts AS TIMESTAMP) AS ts,
           ROUND(value, 2) AS value
    FROM events WHERE event_type = 'purchase'
    """)
def q_streaming_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateless stream → DURABLE parquet sink, verified by reading the
    landing zone back: purchases filtered/projected on the stream, drained
    availableNow through streaming/events.py::run_to_file_sink (append
    mode + checkpoint = exactly-once file commits), then batch-read. A
    stateless transform is the right file-sink demonstrator: append mode
    emits every row immediately, so the landing zone equals the batch
    filter — no watermark-finalization holdback to reason away."""
    return _drain_event_stream_to_files(
        spark, sf_dir, "q_streaming_file_sink",
        lambda st: st.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts", F.round("value", 2).alias("value")
        ),
    )


@query("q_streaming_dedup_sink", oracle="""
    SELECT DISTINCT event_id, user_id, event_type FROM events
    """)
def q_streaming_dedup_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming bounded-state dedup (dropDuplicatesWithinWatermark) fed
    GENUINE duplicates — the fixture staged twice (two symlinks, zero
    copy; maxFilesPerTrigger=1 puts the copies in separate micro-batches,
    so the second batch dedups against watermark state, not within-batch)
    — drained into a durable parquet sink and read back. Projected to
    columns identical across duplicate copies, so which copy survives is
    immaterial and the result hashes deterministically against the
    DISTINCT oracle."""
    return _drain_event_stream_to_files(
        spark, sf_dir, "q_streaming_dedup_sink",
        lambda st: (
            st.withWatermark("ts", "365 days")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id", "user_id", "event_type")
        ),
        copies=2,
    )


@query("q_streaming_join", oracle="""
    SELECT c.event_id AS click_id, CAST(c.ts AS TIMESTAMP) AS click_ts,
           c.user_id,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts,
           p.value AS purchase_value
    FROM events c JOIN events p
      ON c.event_type = 'click' AND p.event_type = 'purchase'
     AND c.user_id = p.user_id
     AND CAST(p.ts AS TIMESTAMP)
         BETWEEN CAST(c.ts AS TIMESTAMP) - INTERVAL 1 HOUR
             AND CAST(c.ts AS TIMESTAMP)
    """)
def q_streaming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join run for real (streaming/events.py::
    clicks_with_recent_purchase): clicks x purchases within a 1-hour
    lookback, both sides watermarked, drained availableNow into a memory
    sink. Hash-matches the batch inequality join the DuckDB oracle runs —
    on bounded input, stream-stream and batch join semantics agree."""
    # one staged file -> one micro-batch, but keep the watermark wide
    # anyway: state eviction must never race the bounded drain
    return _drain_stream(
        spark, sf_dir, "q_streaming_join_sink",
        lambda st: stream_events.clicks_with_recent_purchase(
            st, lookback_hours=1, watermark="365 days"
        ),
        output_mode="append",
    )


_DOCS_STREAM_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


@query(
    "q_streaming_corpus_clean",
    oracle=f"""
    WITH m AS (SELECT doc_id, trim(text) AS tt, {_TOKENS_SQL} AS w FROM documents),
    x AS (
      SELECT doc_id,
             CAST(length(tt) AS BIGINT) AS L,
             CAST(len(regexp_extract_all(tt, '[^A-Za-z0-9\\s]')) AS DOUBLE) AS P,
             CAST(len(list_filter(w, tok -> tok IN ('the','a','of','and','to','in','is'))) AS DOUBLE) AS SW,
             CAST(len(w) AS DOUBLE) AS NT,
             CASE WHEN len(w) > 0
                  THEN CAST(list_max(list_transform(list_distinct(w),
                       d -> len(list_filter(w, x -> x = d)))) AS DOUBLE) / len(w)
                  ELSE 0.0e0 END AS TF
      FROM m
    ),
    v AS (
      SELECT doc_id,
        CASE WHEN L < 200 THEN 'too_short'
             WHEN TF > 0.12e0 THEN 'repetitive'
             WHEN 0.4e0 * least(L / 500.0e0, 1.0e0)
                  + 0.3e0 * (1.0e0 - CASE WHEN L > 0 THEN P / L ELSE 0.0e0 END)
                  + 0.3e0 * (1.0e0 - abs((CASE WHEN NT > 0 THEN SW / NT ELSE 0.0e0 END) - 0.4e0))
                  < 0.7e0 THEN 'low_quality'
        END AS violation
      FROM x
    ),
    keepers AS (
      SELECT d.doc_id, d.text, d.lang FROM documents d JOIN v USING (doc_id)
      WHERE v.violation IS NULL
    ),
    base AS (
      SELECT doc_id, lang, lower(trim(text)) AS txt, {_TOKENS_SQL} AS tk
      FROM keepers
    ),
    sh AS (
      SELECT doc_id, lang, txt,
             CASE WHEN len(tk) >= 4
                  THEN [array_to_string(tk[i:i+3], ' ') FOR i IN range(1, len(tk) - 2)]
                  ELSE NULL END AS shingles
      FROM base
    )
    SELECT doc_id, lang,
           COALESCE(list_aggregate(list_transform(shingles, s -> md5(s)), 'min'),
                    md5(txt)) AS fingerprint
    FROM sh
    """,
)
def q_streaming_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of the stateless corpus-cleaning stage: documents
    arrive as a file stream (landing zone), pass the quality gate
    (passthrough filter), and emit (doc_id, lang, fingerprint) — the
    dedup-ready stream a continuous ingestion pipeline hands to
    dedup_incremental. Every transform is a stateless projection, so the
    stream needs no watermark and the batch oracle is exact (same rows,
    any trigger). Drained availableNow into a memory sink, like every
    q_streaming_* twin."""
    from weather_api_automate_etl_spark.functions.text import (
        document_fingerprint,
    )

    def build(stream: DataFrame) -> DataFrame:
        return (
            textops.quality_gate(stream, passthrough=True)
            .filter(F.col("keep"))
            .select(
                "doc_id",
                "lang",
                document_fingerprint("text", 4).alias("fingerprint"),
            )
        )

    return _drain_stream(
        spark,
        sf_dir,
        "q_streaming_corpus_clean",
        build,
        table="documents",
        schema=_DOCS_STREAM_SCHEMA,
        output_mode="append",
    )


@query(
    "q_streaming_merge_sink",
    oracle="""
    SELECT user_id, event_id,
           CAST(ts AS TIMESTAMP) AS ts,
           value,
           CAST(user_id % 16 AS BIGINT) AS p
    FROM events
    QUALIFY row_number() OVER (
      PARTITION BY user_id
      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC
    ) = 1
    """,
)
def q_streaming_merge_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE into a partitioned parquet mart
    (streaming/sinks.py::stream_merge_into_mart + operators/cdc.py::
    merge_into_partitioned): each micro-batch keeps its latest row per
    user and upserts it, rewriting only the touched partitions. The drain
    runs TWICE — the second run stages the same fixture as a new file, so
    a real second merge re-upserts every key — and because the merge is
    idempotent the mart still equals keep-latest-per-user over the whole
    stream, which is exactly what the oracle computes. This is the
    streaming twin of q_merge_upsert and the crash-replay-safety
    demonstration: at-least-once batch redelivery lands identical mart
    state."""
    from weather_api_automate_etl_spark.streaming import sinks

    name = "q_streaming_merge_sink"
    kwargs = dict(key="user_id", partition_col="p", order_cols=("ts", "event_id"))
    with scratch(name) as base:
        stage, mart, ckpt = f"{base}/stage", f"{base}/mart", f"{base}/ckpt"
        projected = _staged_event_stream(spark, sf_dir, stage).select(
            "user_id", "event_id", "ts", "value",
            (F.col("user_id") % 16).cast("long").alias("p"),
        )
        sinks.stream_merge_into_mart(projected, mart, ckpt, name, **kwargs)
        # phase 2: the same fixture arrives as a NEW file — the checkpoint
        # resumes past batch 0, so this is a genuine incremental merge run
        stream_events.stage(stage, "events_1", f"{sf_dir}/events.parquet")
        sinks.stream_merge_into_mart(projected, mart, ckpt, name, **kwargs)
        out = spark.read.parquet(mart).select(
            "user_id", "event_id", "ts", "value", F.col("p").cast("long").alias("p")
        )
        return out.localCheckpoint(eager=True)


@query(
    "q_streaming_ledger_sink",
    oracle="""
    SELECT user_id, event_id,
           CAST(ts AS TIMESTAMP) AS ts,
           value,
           CAST(user_id % 16 AS BIGINT) AS p
    FROM events
    QUALIFY row_number() OVER (
      PARTITION BY user_id
      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC
    ) = 1
    """,
)
def q_streaming_ledger_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE with exactly-once batch application
    (streaming/sinks.py::stream_merge_into_ledger): each micro-batch
    upserts its latest-row-per-user into the atomic snapshot ledger,
    recording (query, batch_id) in the SAME manifest commit as the data —
    a replayed batch is a pure no-op, not merely value-idempotent (the
    txn skip itself is unit-pinned in test_ledger; Spark won't redeliver
    a checkpoint-committed batch on demand). The drain runs TWICE — the
    second run stages the fixture as a new file, a genuinely incremental
    merge under a HIGHER batch id — and the final snapshot must equal
    keep-latest-per-user over the whole stream, exactly the
    q_streaming_merge_sink contract upgraded from Hive-layout dynamic
    overwrite to atomic manifest swap."""
    from weather_api_automate_etl_spark.sources import ledger
    from weather_api_automate_etl_spark.streaming import sinks

    name = "q_streaming_ledger_sink"
    kwargs = dict(key="user_id", partition_col="p", order_cols=("ts", "event_id"))
    with scratch(name) as base:
        stage, table, ckpt = f"{base}/stage", f"{base}/table", f"{base}/ckpt"
        projected = _staged_event_stream(spark, sf_dir, stage).select(
            "user_id", "event_id", "ts", "value",
            (F.col("user_id") % 16).cast("long").alias("p"),
        )
        sinks.stream_merge_into_ledger(projected, table, ckpt, name, **kwargs)
        stream_events.stage(stage, "events_1", f"{sf_dir}/events.parquet")
        sinks.stream_merge_into_ledger(projected, table, ckpt, name, **kwargs)
        out = ledger.ledger_read(spark, table).select(
            "user_id", "event_id", "ts", "value",
            F.col("p").cast("long").alias("p"),
        )
        return out.localCheckpoint(eager=True)


@query(
    "q_streaming_mv",
    oracle="""
    WITH latest AS (
      SELECT user_id, value, CAST(user_id % 16 AS BIGINT) AS p
      FROM events
      QUALIFY row_number() OVER (
        PARTITION BY user_id
        ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC
      ) = 1
    )
    SELECT p,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(SUM(value), 6) AS sum_value,
           ROUND(MAX(value), 6) AS max_value
    FROM latest GROUP BY p
    """,
)
def q_streaming_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Delta-Live-Tables topology on the ledger primitives
    (streaming/sinks.py::stream_merge_with_mv): each micro-batch upserts
    its latest-row-per-user exactly-once into the base ledger, then the
    per-partition aggregate VIEW re-syncs incrementally — manifest diff
    picks the touched partitions, only those re-aggregate, and the MV
    swap carries the base version as its own transaction watermark, so
    replay at any point between the two commits converges without
    double-applying either. The drain runs TWICE (the second stages the
    fixture as a new file — a real incremental batch under a higher
    batch id); the final VIEW must equal the declarative
    keep-latest-per-user → group-by over the whole stream, which is
    exactly the oracle. The reference's closest shape is a full dbt
    rebuild per schedule; this is the 100 TB replacement: the mart AND
    its rollup stay in sync touching only what each batch changed."""
    from weather_api_automate_etl_spark.sources import ledger
    from weather_api_automate_etl_spark.streaming import sinks

    name = "q_streaming_mv"
    aggs_fn = lambda: [  # noqa: E731 — the view definition, restated per sync
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.round(F.sum("value"), 6).alias("sum_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    ]
    kwargs = dict(
        key="user_id", partition_col="p", order_cols=("ts", "event_id"),
        group_cols=("p",), aggs_fn=aggs_fn,
    )
    with scratch(name) as base:
        stage, table, mv, ckpt = (
            f"{base}/stage", f"{base}/table", f"{base}/mv", f"{base}/ckpt"
        )
        projected = _staged_event_stream(spark, sf_dir, stage).select(
            "user_id", "event_id", "ts", "value",
            (F.col("user_id") % 16).cast("long").alias("p"),
        )
        sinks.stream_merge_with_mv(projected, table, mv, ckpt, name, **kwargs)
        stream_events.stage(stage, "events_1", f"{sf_dir}/events.parquet")
        sinks.stream_merge_with_mv(projected, table, mv, ckpt, name, **kwargs)
        out = ledger.ledger_read(spark, mv).select(
            F.col("p").cast("long").alias("p"),
            "n_users", "sum_value", "max_value",
        )
        return out.localCheckpoint(eager=True)


@query(
    "q_streaming_left_join",
    oracle="""
    WITH ev AS (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
             event_type, value
      FROM events
    ),
    cut AS (SELECT MIN(ts) + INTERVAL 14 DAY AS c FROM ev),
    clicks AS (
      SELECT event_id AS click_id, ts AS click_ts, user_id
      FROM ev, cut WHERE event_type = 'click' AND ts <= cut.c
    ),
    purch AS (
      SELECT user_id AS p_user_id, ts AS purchase_ts,
             value AS purchase_value
      FROM ev, cut WHERE event_type = 'purchase' AND ts <= cut.c
    )
    SELECT c.click_id, c.click_ts, c.user_id,
           p.purchase_ts, p.purchase_value
    FROM clicks c LEFT JOIN purch p
      ON c.user_id = p.p_user_id
     AND p.purchase_ts BETWEEN c.click_ts - INTERVAL 1 HOUR AND c.click_ts
    """,
)
def q_streaming_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join run for real
    (streaming/events.py::clicks_with_optional_purchase): the first 14
    days of events drain as batch 1 (matches emit immediately;
    unmatched clicks park in state), then sentinel-only shipments at
    +30 and +60 days drain as a RESTARTED second batch whose only job
    is to ADVANCE THE WATERMARK — the sentinels match neither side,
    exactly like unrelated topic traffic; the restart applies batch 1's
    committed watermark and its own no-data batch applies the advanced
    one, flushing the parked clicks null-padded. The file sink + shared
    checkpoint across the two drains gives exactly-once appends, so the
    final landing zone must hash as the batch LEFT JOIN twin: every
    click exactly once, matched or null-padded, none dropped, none
    doubled. This is the operator whose correctness people distrust in
    Structured Streaming — emission latency gated on watermark proof —
    demonstrated equal to its batch semantics on bounded input."""
    import datetime as dt
    import os

    name = "q_streaming_left_join"
    ev = t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    mn = ev.agg(F.min("ts")).collect()[0][0]
    cutoff = mn + dt.timedelta(days=14)
    # a stream-stream join keeps 4 state stores per shuffle partition per
    # side, and every RESTART reloads all of them — at the session's 32
    # partitions the three drains spend their time in state-store churn,
    # not data. 8 partitions is plenty for the bounded drain; the setting
    # freezes into the checkpoint at first run (restore it after).
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        with scratch(name) as base:
            stage, sink = f"{base}/stage", f"{base}/sink"
            stream_events.stage(
                stage, "ship_0", ev.filter(F.col("ts") <= F.lit(cutoff))
            )
            stream = spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, "
                "event_type string, value double"
            ).parquet(stage)
            joined = stream_events.clicks_with_optional_purchase(
                stream, lookback_hours=1, watermark="1 hour"
            )
            # drain 1: matches emit immediately; unmatched clicks park in
            # state under the watermark this batch sets
            stream_events.run_to_file_sink(joined, f"{sink}/data", f"{sink}/ckpt")
            # late traffic on BOTH sides: each side's watermark advances
            # only with its own rows (the per-side filters push below the
            # watermark node — see the operator docstring), so the window
            # close needs a late click AND a late purchase. Negative ids
            # mark them synthetic; the readback filters them out. Written
            # with pyarrow directly — a 2-row sentinel does not need a
            # Spark write job. Both sentinel shipments land BEFORE the one
            # restarted drain (the former per-shipment drain added
            # a full micro-batch lifecycle whose only output was the +30
            # sentinel click, which the readback filters; collapsing it is
            # result-identical, oracle-verified at 3 SFs).
            import pyarrow as pa
            import pyarrow.parquet as pq

            for i, days in enumerate((30, 60), start=1):
                late_ts = mn + dt.timedelta(days=days)
                pq.write_table(
                    pa.table(
                        {
                            "event_id": pa.array([-i, -100 - i], pa.int64()),
                            "ts": pa.array([late_ts, late_ts],
                                           pa.timestamp("us")),
                            "user_id": pa.array([-1, -2], pa.int64()),
                            "event_type": pa.array(["click", "purchase"]),
                            "value": pa.array([None, 0.0], pa.float64()),
                        }
                    ),
                    os.path.join(stage, f"ship_{i}.parquet"),
                )
            # drain 2 (a RESTART against the shared checkpoint): opens by
            # applying drain 1's committed watermark, processes the late
            # sentinels, and its no-data batch applies the advanced
            # watermark, flushing every parked click null-padded —
            # exactly-once across the restart is what the shared
            # checkpoint + file-sink log demonstrate.
            stream_events.run_to_file_sink(joined, f"{sink}/data", f"{sink}/ckpt")
            out = spark.read.parquet(f"{sink}/data").filter(
                F.col("click_id") >= 0
            )
            return out.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
