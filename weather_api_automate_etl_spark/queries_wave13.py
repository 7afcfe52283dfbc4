"""Round-8 thirteenth-wave queries: file-granular ledger
skipping plus the round-8 operator additions.

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.queries import query, scratch, t

# ---------------------------------------------------------------------------
# file-granular zone-map skipping
# ---------------------------------------------------------------------------


@query(
    "q_ledger_skip_files",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1996-04-01 00:00:00'
                          AND TIMESTAMP '1996-05-31 23:59:59'
    GROUP BY o_month
    """,
    tags=("cdc", "ledger", "layout"),
)
def q_ledger_skip_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILE-granular data skipping through the ledger (sources/ledger.py::
    ledger_plan_files) — the Delta/Iceberg skip grain q_ledger_skip's
    partition-level zone maps cannot reach: the year-partitioned orders
    mart is written range-partitioned by (year, date), so each year
    directory holds several files covering DISJOINT date bands, and the
    manifest records each file's min/max o_orderdate. A two-month
    predicate then (a) prunes every non-1996 partition from the
    partition-level stats, and (b) prunes 1996's own files down to the
    band(s) that can intersect — pure driver-side JSON arithmetic either
    way; the in-query assert pins that strictly fewer files than the kept
    partitions own are read. The oracle is the unpruned declarative
    filter, so over-pruning (dropping a matching file) breaks the hash.
    At 100 TB this is the difference between touching 1 file and 200
    inside a hot daily partition that merges have fragmented."""
    from weather_api_automate_etl_spark.sources import ledger

    orders = t(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_totalprice",
        "o_orderdate",
        F.date_format("o_orderdate", "yyyy").alias("o_year"),
    )
    with scratch("ledger_skip_files") as path:
        # range-partition by (year, date): each year dir gets several
        # parquet files whose o_orderdate stats bands are disjoint —
        # the fragmented-partition shape file skipping exists for
        ledger.ledger_write(
            spark,
            base.repartitionByRange(28, "o_year", "o_orderdate"),
            path,
            "o_year",
            stats_cols=["o_orderdate"],
        )
        lo, hi = "1996-04-01 00:00:00", "1996-05-31 23:59:59"
        plan = ledger.ledger_plan_files(path, "o_orderdate", lo, hi)
        assert set(plan) == {"1996"}, (
            f"partition stats must keep exactly 1996, kept {sorted(plan)}"
        )
        m = ledger._read_manifest(path, 1)
        kept = sum(len(f) for f in plan.values() if f is not None)
        total = sum(
            len(m["partitions"][pv].get("files", {})) for pv in plan
        )
        assert 0 < kept < total, (
            f"file stats must prune within the partition: kept {kept} of "
            f"{total}"
        )
        out = (
            ledger.ledger_scan(spark, path, "o_orderdate", lo, hi)
            .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("o_month"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            )
        )
        return out.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# incremental materialized-view maintenance
# ---------------------------------------------------------------------------


@query(
    "q_mv_incremental",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority,
             strftime(o_orderdate, '%Y') AS o_year
      FROM orders
    ),
    merged AS (
      SELECT o_orderkey, o_totalprice + 100.0 AS o_totalprice,
             o_orderpriority, o_year
      FROM base WHERE o_orderkey % 10 = 3 AND o_year = '1996'
      UNION ALL
      SELECT o_orderkey, o_totalprice, o_orderpriority, o_year
      FROM base WHERE NOT (o_orderkey % 10 = 3 AND o_year = '1996')
      UNION ALL
      SELECT o_orderkey + 6000000, o_totalprice * 0.5, o_orderpriority, '2999'
      FROM base WHERE o_orderkey % 100 = 7
    )
    SELECT o_year, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,3))), 2)
                AS DOUBLE) AS sum_price,
           MAX(o_totalprice) AS max_price
    FROM merged GROUP BY o_year, o_orderpriority
    """,
    tags=("cdc", "ledger", "matview"),
)
def q_mv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance (operators/matview.py):
    a (year × priority) aggregate mart over a year-partitioned orders
    ledger is built once, the base then takes a two-partition merge
    (every 10th key in 1996 repriced +100, every 100th key re-inserted
    into a brand-new '2999' partition), and ``mv_refresh`` brings the
    view back in sync by manifest-diffing the base (driver-side JSON,
    no data read), re-aggregating ONLY the two changed partitions, and
    atomically swapping the matching MV partitions via
    ``ledger_replace_partitions`` (Delta replaceWhere). The in-query
    assert pins the incrementality — exactly {1996, 2999} MV entries
    repointed — and the oracle is the FULL recompute over the merged
    state, so the headline invariant (incremental ≡ full refresh,
    min/max included) is what the hash checks. The reference rebuilds
    every mart with a full CTAS per run (dbt `materialized='table'`,
    models/marts — SURVEY.md §2.10); at 100 TB with ~3000 daily
    partitions this path re-reads two partitions instead of the corpus.
    The +100.0/*0.5 arithmetic is IEEE-exact; the per-group SUM runs in
    decimal(18,3) (order-independent) because one group's true total
    sits exactly on a cent-rounding boundary at sf0.1; MAX is exact."""
    from weather_api_automate_etl_spark.operators import matview
    from weather_api_automate_etl_spark.sources import ledger

    orders = t(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_totalprice",
        "o_orderpriority",
        F.date_format("o_orderdate", "yyyy").alias("o_year"),
    )
    updates = (
        base.filter(
            (F.col("o_orderkey") % 10 == 3) & (F.col("o_year") == "1996")
        )
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(100.0))
        .unionByName(
            base.filter(F.col("o_orderkey") % 100 == 7).select(
                (F.col("o_orderkey") + F.lit(6000000)).alias("o_orderkey"),
                (F.col("o_totalprice") * F.lit(0.5)).alias("o_totalprice"),
                "o_orderpriority",
                F.lit("2999").alias("o_year"),
            )
        )
    )
    group_cols = ["o_year", "o_orderpriority"]
    # the '2999' group's true sum lands exactly on a .005 rounding
    # boundary at sf0.1, where double addition order flips the cent —
    # sum in decimal(18,3) (exact, order-independent; 3 decimals covers
    # the *0.5 halves) and round once, identically in the oracle
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,3)")), 2)
        .cast("double")
        .alias("sum_price"),
        F.max("o_totalprice").alias("max_price"),
    ]
    with scratch("q_mv_incremental") as work:
        bp, mp = f"{work}/base", f"{work}/view"
        ledger.ledger_write(spark, base, bp, "o_year")
        v1 = matview.mv_build(spark, bp, mp, group_cols, aggs)
        ledger.ledger_merge(spark, bp, updates, "o_orderkey")
        v2 = matview.mv_refresh(spark, bp, mp, group_cols, aggs)
        m1 = ledger._read_manifest(mp, v1)
        m2 = ledger._read_manifest(mp, v2)
        touched = {
            pv
            for pv in set(m1["partitions"]) | set(m2["partitions"])
            if m1["partitions"].get(pv, {}).get("dir")
            != m2["partitions"].get(pv, {}).get("dir")
        }
        assert touched == {"1996", "2999"}, (
            f"refresh must repoint exactly the changed partitions, got "
            f"{sorted(touched)}"
        )
        out = ledger.ledger_read(spark, mp).select(
            "o_year", "o_orderpriority", "n_orders", "sum_price", "max_price"
        )
        return out.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# deletion vectors: takedown without rewriting data files
# ---------------------------------------------------------------------------


@query(
    "q_ledger_delete_dv",
    oracle="""
    SELECT strftime(o_orderdate, '%Y') AS o_year,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM orders
    WHERE o_orderkey % 7 != 0
    GROUP BY o_year
    """,
    tags=("cdc", "ledger", "privacy"),
)
def q_ledger_delete_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector takedown (sources/ledger.py::ledger_delete with
    ``mode="dv"``) — q_ledger_delete's sweep without the rewrite: every
    7th order key is tombstoned into per-partition key sidecars and the
    commit repoints ONLY the DV pointers (the in-query assert pins that
    every data-dir pointer is byte-identical to v1 — a takedown against
    a hot 10 GB partition writes kilobytes, Delta's deletion-vector /
    Hudi merge-on-read trade). The first readback pays the scoped
    anti-join (merge-on-read); ``ledger_compact`` then settles the debt
    — materializes the net state, drops every sidecar — and the SAME
    aggregate over the compacted table is what this query returns, so
    the oracle (the declarative complement) checks the entire
    tombstone → read-time-apply → materialize chain end to end."""
    from weather_api_automate_etl_spark.sources import ledger

    orders = t(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_totalprice",
        "o_orderdate",
        F.date_format("o_orderdate", "yyyy").alias("o_year"),
    )
    doomed = base.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey")
    with scratch("ledger_delete_dv") as path:
        ledger.ledger_write(spark, base, path, "o_year")
        v2 = ledger.ledger_delete(
            spark, path, doomed, "o_orderkey", mode="dv"
        )
        m1 = ledger._read_manifest(path, 1)
        m2 = ledger._read_manifest(path, v2)
        assert all(
            m2["partitions"][pv]["dir"] == m1["partitions"][pv]["dir"]
            for pv in m1["partitions"]
        ), "dv delete must not repoint any data directory"
        assert any(
            e.get("dv") for e in m2["partitions"].values()
        ), "dv delete must record tombstone sidecars"
        v3 = ledger.ledger_compact(spark, path)
        m3 = ledger._read_manifest(path, v3)
        assert not any(
            e.get("dv") for e in m3["partitions"].values()
        ), "compact must materialize and drop every sidecar"
        out = (
            ledger.ledger_read(spark, path)
            .groupBy("o_year")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            )
        )
        return out.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# streaming upserts feeding a continuously-maintained aggregate view
# ---------------------------------------------------------------------------


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
    tags=("streaming", "cdc", "ledger", "matview"),
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
    from weather_api_automate_etl_spark.queries_ext import _staged_event_stream
    from weather_api_automate_etl_spark.sources import ledger
    from weather_api_automate_etl_spark.streaming import events as stream_events
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


# ---------------------------------------------------------------------------
# OPTIMIZE ZORDER: multi-dimensional file clustering
# ---------------------------------------------------------------------------


@query(
    "q_ledger_zorder",
    oracle="""
    SELECT strftime(o_orderdate, '%Y') AS o_year,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM orders
    WHERE o_totalprice BETWEEN 1000.0 AND 20000.0
      AND o_custkey % 3 = 0
    GROUP BY o_year
    """,
    tags=("cdc", "ledger", "layout"),
)
def q_ledger_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER through the ledger (sources/ledger.py::
    ledger_compact(zorder_by=...)): the year-partitioned orders mart is
    written with a random row layout — per-file min/max stats on
    (o_totalprice, o_custkey) exist but prune NOTHING because every file
    spans the whole domain of both columns — then compacted into files
    range-clustered on the Morton interleave of the two columns
    (functions/core.py::zorder_key over a global [0, 2^8) quantization).
    After the rewrite each file covers a tight band of BOTH dimensions,
    and the in-query asserts pin that a selective predicate on EITHER
    column now keeps strictly fewer files than the table holds — the
    multi-dimensional skipping a single-column sort cannot give. The
    readback answers through ``ledger_scan`` (file-pruned on the price
    band) plus the exact residual filter, and the oracle is the unpruned
    declarative filter, so over-pruning breaks the hash. This is
    Delta/Iceberg OPTIMIZE ZORDER at the ledger's grain: layout changes,
    answers don't, the skipping index gets a second dimension."""
    from weather_api_automate_etl_spark.sources import ledger

    orders = t(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_totalprice",
        "o_custkey",
        F.date_format("o_orderdate", "yyyy").alias("o_year"),
    )
    with scratch("ledger_zorder") as path:
        # random layout: repartition(6) scatters rows, so every file's
        # min/max band covers ~the full domain of both columns
        ledger.ledger_write(
            spark, base.repartition(6), path, "o_year",
            stats_cols=["o_totalprice", "o_custkey"],
        )
        lo_p, hi_p = 1000.0, 20000.0
        before = ledger.ledger_plan_files(path, "o_totalprice", lo_p, hi_p)
        m1 = ledger._read_manifest(path, 1)
        total1 = sum(len(e.get("files", {})) for e in m1["partitions"].values())
        kept1 = sum(len(f) for f in before.values())
        v = ledger.ledger_compact(
            spark, path, zorder_by=("o_totalprice", "o_custkey")
        )
        m2 = ledger._read_manifest(path, v)
        total2 = sum(len(e.get("files", {})) for e in m2["partitions"].values())
        kept_p = sum(
            len(f)
            for f in ledger.ledger_plan_files(
                path, "o_totalprice", lo_p, hi_p
            ).values()
        )
        # probe band for the SECOND dimension: lowest 10% of the custkey
        # domain (data-derived so the band stays selective at every SF;
        # the probe only feeds the assert, never the output/oracle)
        c_hi = base.agg(F.max("o_custkey")).collect()[0][0] * 0.1
        kept_c = sum(
            len(f)
            for f in ledger.ledger_plan_files(
                path, "o_custkey", 0.0, c_hi
            ).values()
        )
        assert kept_p < kept1, (
            f"z-order must improve price-band file pruning "
            f"({kept_p} after vs {kept1}/{total1} before)"
        )
        assert kept_c < total2, (
            f"z-order must also prune on the second dimension: cust "
            f"{kept_c}/{total2}"
        )
        out = (
            ledger.ledger_scan(spark, path, "o_totalprice", lo_p, hi_p)
            .filter(F.col("o_custkey") % 3 == 0)
            .groupBy("o_year")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            )
        )
        return out.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# product quantization: compressed-code ANN scan
# ---------------------------------------------------------------------------


@query(
    "q_ann_pq",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    cb AS (
      SELECT row_number() OVER (ORDER BY vec_id) AS j, e
      FROM v ORDER BY vec_id LIMIT 8
    ),
    q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
    ms AS (SELECT UNNEST([0, 1, 2, 3]) AS m),
    dists AS (
      SELECT v.vec_id, ms.m, cb.j,
             CAST(floor(list_sum(list_transform(range(1, 17),
                  i -> (v.e[ms.m * 16 + i] - cb.e[ms.m * 16 + i])
                     * (v.e[ms.m * 16 + i] - cb.e[ms.m * 16 + i])))
                  * 1e9 + 0.5) AS BIGINT) AS dist9
      FROM v CROSS JOIN ms CROSS JOIN cb
    ),
    codes AS (
      SELECT vec_id, m, j AS code
      FROM dists
      QUALIFY row_number() OVER (
        PARTITION BY vec_id, m ORDER BY dist9, j
      ) = 1
    ),
    codes_w AS (
      SELECT vec_id,
             CAST(MAX(CASE WHEN m = 0 THEN code END) AS INTEGER) AS c1,
             CAST(MAX(CASE WHEN m = 1 THEN code END) AS INTEGER) AS c2,
             CAST(MAX(CASE WHEN m = 2 THEN code END) AS INTEGER) AS c3,
             CAST(MAX(CASE WHEN m = 3 THEN code END) AS INTEGER) AS c4
      FROM codes GROUP BY vec_id
    ),
    qd AS (
      SELECT ms.m, cb.j,
             list_sum(list_transform(range(1, 17),
                  i -> (q.qe[ms.m * 16 + i] - cb.e[ms.m * 16 + i])
                     * (q.qe[ms.m * 16 + i] - cb.e[ms.m * 16 + i]))) AS qdist
      FROM q CROSS JOIN ms CROSS JOIN cb
    )
    SELECT w.vec_id, w.c1, w.c2, w.c3, w.c4,
           floor((((t0.qdist + t1.qdist) + t2.qdist) + t3.qdist)
                 * 1e9 + 0.5) / 1e9 AS adc_dist
    FROM codes_w w
    JOIN qd t0 ON t0.m = 0 AND t0.j = w.c1
    JOIN qd t1 ON t1.m = 1 AND t1.j = w.c2
    JOIN qd t2 ON t2.m = 2 AND t2.j = w.c3
    JOIN qd t3 ON t3.m = 3 AND t3.j = w.c4
    ORDER BY adc_dist, w.vec_id LIMIT 10
    """,
    tags=("similarity",),
)
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/embeddings.py::pq_*): the
    64-dim corpus splits into 4 subspaces, each vector encodes to 4
    small codes against a deterministic sampled codebook (Jégou et al.
    TPAMI 2011 — the production path swaps in per-subspace kmeans_fit),
    and the query scans CODES, not vectors: per-row distance is a sum of
    4 literal-table lookups (asymmetric distance) inside whole-stage
    codegen, then a shuffle-free TakeOrdered top-10. At d=64 float32 the
    codes are 16-64x smaller than the vectors — the compression that
    keeps a 100 TB corpus's ANN index scannable — and encode/scan are
    map-only (zero Python, zero shuffle; codebook and distance tables
    are driver-side filter metadata, k·d floats). Every distance is
    clamped to integer nanos before any comparison (argmin AND ranking),
    so the DuckDB twin reproduces codes, ADC values, and the top-10 set
    exactly — encode, table build, lookup, and rank all hash-checked."""
    from weather_api_automate_etl_spark.operators import embeddings as emb_ops

    emb = t(spark, sf_dir, "embeddings")
    cbs = emb_ops.pq_sampled_codebooks(emb, "vec_id", "embedding", 4, 8)
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    codes = emb_ops.pq_encode(emb, "vec_id", "embedding", cbs, clamp_digits=9)
    top = emb_ops.pq_adc_topk(
        codes, "vec_id", qvec, cbs, 10, clamp_digits=9
    )
    return top.join(codes, "vec_id").select(
        "vec_id",
        F.element_at("pq_codes", 1).alias("c1"),
        F.element_at("pq_codes", 2).alias("c2"),
        F.element_at("pq_codes", 3).alias("c3"),
        F.element_at("pq_codes", 4).alias("c4"),
        "adc_dist",
    )


# ---------------------------------------------------------------------------
# additive schema evolution through the ledger
# ---------------------------------------------------------------------------


@query(
    "q_ledger_evolve",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_totalprice,
             strftime(o_orderdate, '%Y') AS o_year
      FROM orders
    ),
    merged AS (
      SELECT o_orderkey, o_totalprice + 100.0 AS o_totalprice, o_year,
             'REPRICED' AS o_status
      FROM base WHERE o_orderkey % 10 = 3 AND o_year = '1996'
      UNION ALL
      SELECT o_orderkey, o_totalprice, o_year, NULL
      FROM base WHERE NOT (o_orderkey % 10 = 3 AND o_year = '1996')
      UNION ALL
      SELECT o_orderkey + 6000000, o_totalprice * 0.5, '2999', 'NEW'
      FROM base WHERE o_orderkey % 100 = 7
    )
    SELECT o_year,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(o_status) AS BIGINT) AS n_status,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,3))), 2)
                AS DOUBLE) AS sum_price
    FROM merged GROUP BY o_year
    """,
    tags=("cdc", "ledger"),
)
def q_ledger_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution through the ledger (sources/ledger.py::
    ledger_merge(merge_schema=True)): the year-partitioned orders mart
    takes an update batch carrying a column the table never had
    (o_status) — repriced 1996 rows plus a brand-new '2999' partition —
    and the merge widens the RECORDED schema while rewriting only the
    touched partitions. Untouched partitions keep their original files
    (pinned by the in-query assert on the data-dir pointers) and
    materialize the new column as typed NULLs at READ time from the
    manifest schema — the Delta/Iceberg additive-evolution contract, no
    table rewrite anywhere. Without merge_schema the same batch is rejected
    (accidental drift must not silently widen a mart). The oracle is the
    declarative merged state with NULL status everywhere the batch
    didn't reach; per-year counts of the evolved column pin the NULL
    materialization exactly. Sums run in decimal(18,3) (the
    cent-boundary discipline)."""
    from weather_api_automate_etl_spark.sources import ledger

    orders = t(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy").alias("o_year"),
    )
    updates = (
        base.filter(
            (F.col("o_orderkey") % 10 == 3) & (F.col("o_year") == "1996")
        )
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(100.0))
        .withColumn("o_status", F.lit("REPRICED"))
        .unionByName(
            base.filter(F.col("o_orderkey") % 100 == 7).select(
                (F.col("o_orderkey") + F.lit(6000000)).alias("o_orderkey"),
                (F.col("o_totalprice") * F.lit(0.5)).alias("o_totalprice"),
                F.lit("2999").alias("o_year"),
                F.lit("NEW").alias("o_status"),
            )
        )
    )
    with scratch("ledger_evolve") as path:
        ledger.ledger_write(spark, base, path, "o_year")
        m1 = ledger._read_manifest(path, 1)
        v2 = ledger.ledger_merge(
            spark, path, updates, "o_orderkey", merge_schema=True
        )
        m2 = ledger._read_manifest(path, v2)
        untouched = [
            pv for pv in m1["partitions"] if pv not in ("1996", "2999")
        ]
        assert untouched and all(
            m2["partitions"][pv]["dir"] == m1["partitions"][pv]["dir"]
            for pv in untouched
        ), "evolution must not rewrite untouched partitions"
        out = (
            ledger.ledger_read(spark, path)
            .groupBy("o_year")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.count("o_status").cast("long").alias("n_status"),
                F.round(
                    F.sum(F.col("o_totalprice").cast("decimal(18,3)")), 2
                )
                .cast("double")
                .alias("sum_price"),
            )
        )
        return out.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Jensen-Shannon drift gate (bounded, symmetric sibling of PSI)
# ---------------------------------------------------------------------------

_JS_EDGES = (50_000.0, 100_000.0, 150_000.0, 200_000.0, 300_000.0)


@query(
    "q_js_drift",
    oracle=f"""
    WITH old_side AS (
      SELECT o_totalprice AS v FROM orders WHERE o_orderkey % 2 = 0
    ),
    new_side AS (
      SELECT o_totalprice * 1.25 AS v FROM orders WHERE o_orderkey % 2 = 1
    ),
    edges(e) AS (VALUES {", ".join(f"({e!r})" for e in _JS_EDGES)}),
    ob AS (
      SELECT (SELECT COUNT(*) FROM edges WHERE v >= e) AS bin_id,
             COUNT(*) AS n_old
      FROM old_side WHERE v IS NOT NULL GROUP BY 1
    ),
    nb AS (
      SELECT (SELECT COUNT(*) FROM edges WHERE v >= e) AS bin_id,
             COUNT(*) AS n_new
      FROM new_side WHERE v IS NOT NULL GROUP BY 1
    ),
    grid AS (SELECT unnest(range({len(_JS_EDGES) + 1})) AS bin_id),
    j AS (
      SELECT CAST(g.bin_id AS INTEGER) AS bin_id,
             CAST(COALESCE(ob.n_old, 0) AS BIGINT) AS n_old,
             CAST(COALESCE(nb.n_new, 0) AS BIGINT) AS n_new
      FROM grid g LEFT JOIN ob ON ob.bin_id = g.bin_id
                  LEFT JOIN nb ON nb.bin_id = g.bin_id
    ),
    tot AS (SELECT SUM(n_old) AS t_o, SUM(n_new) AS t_n FROM j),
    pq AS (
      SELECT bin_id, n_old, n_new,
             GREATEST(n_old / t_o, 1e-6) AS p,
             GREATEST(n_new / t_n, 1e-6) AS q
      FROM j CROSS JOIN tot
    )
    SELECT bin_id, n_old, n_new,
           ROUND(p, 6) AS p_old,
           ROUND(q, 6) AS p_new,
           ROUND(0.5 * p * ln(p / ((p + q) / 2))
                 + 0.5 * q * ln(q / ((p + q) / 2)), 6) AS js_term
    FROM pq
    """,
    tags=("agg", "quality", "analytics"),
)
def q_js_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon drift gate (operators/stats.py::js_divergence) —
    the bounded, symmetric sibling of q_psi_drift over the same fixed
    bins and the same deliberate +25% reprice drift: JSD lives in
    [0, ln 2], never blows up on one-sided empty bins (the mixture M is
    never empty), and is what corpus-mix monitors threshold when
    tracking source proportions between crawls. Emits the full per-bin
    decomposition; Σjs_term is the headline divergence. Same
    scan-rate shape as PSI: two count aggregates + a bins-sized grid."""
    from weather_api_automate_etl_spark.operators import stats

    orders = t(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_totalprice")
    )
    new = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        (F.col("o_totalprice") * F.lit(1.25)).alias("o_totalprice")
    )
    return stats.js_divergence(old, new, "o_totalprice", list(_JS_EDGES))


# ---------------------------------------------------------------------------
# BPE encode: apply the learned merge table to the corpus
# ---------------------------------------------------------------------------


def _bpe_encode_oracle(n_rounds: int = 3) -> str:
    from weather_api_automate_etl_spark.queries_ext import _TOKENS_SQL
    from weather_api_automate_etl_spark.queries_wave9 import _BPE_PAIRS_SQL
    from weather_api_automate_etl_spark.queries_wave11 import _BPE_SYMBOLS

    ctes = [_BPE_PAIRS_SQL.rstrip()]
    prev_tok = "tok"
    for r in range(n_rounds):
        src_pairs = (
            "pairs" if r == 0
            else f"""(
      SELECT unnest([substr(tok, i, 2) FOR i IN range(1, len(tok))]) AS pair
      FROM {prev_tok} WHERE len(tok) >= 2
    )"""
        )
        ctes.append(f"""
    w{r} AS (
      SELECT pair FROM (
        SELECT pair, COUNT(*) AS n FROM {src_pairs} GROUP BY pair
      ) ORDER BY n DESC, pair LIMIT 1
    )""")
        ctes.append(f"""
    m{r} AS (
      SELECT replace(tok, (SELECT pair FROM w{r}),
                     chr({ord(_BPE_SYMBOLS[r])})) AS tok
      FROM {prev_tok}
    )""")
        prev_tok = f"m{r}"
    enc_expr = "tok"
    for r in range(n_rounds):
        enc_expr = (
            f"replace({enc_expr}, (SELECT pair FROM w{r}), "
            f"chr({ord(_BPE_SYMBOLS[r])}))"
        )
    return (
        ",".join(ctes)
        + f""",
    dtok AS (
      SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
    ),
    enc AS (
      -- the '' pseudo-token of empty docs is not a token (the Spark
      -- twin filters it; empty docs fall through the LEFT JOIN below)
      SELECT doc_id, tok, {enc_expr} AS etok FROM dtok WHERE tok <> ''
    ),
    agg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(len(tok)) AS BIGINT) AS n_chars,
             CAST(SUM(len(etok)) AS BIGINT) AS n_symbols,
             CASE WHEN SUM(len(tok)) > 0
                  THEN ROUND(SUM(len(etok)) / SUM(len(tok)), 6)
                  ELSE 1.0 END AS ratio
      FROM enc GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(a.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
           COALESCE(a.n_chars, CAST(0 AS BIGINT)) AS n_chars,
           COALESCE(a.n_symbols, CAST(0 AS BIGINT)) AS n_symbols,
           COALESCE(a.ratio, 1.0) AS ratio
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """
    )


@query("q_bpe_encode", oracle=_bpe_encode_oracle(), tags=("text",))
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE (operators/textops.py::bpe_encode) — the inference
    side of the tokenizer family: three merge rounds are learned with
    bpe_merge_rounds (the q_bpe_merge_table artifact), then the merge
    table applies corpus-wide as a single broadcast row driving a
    per-token substitution chain inside one array-transform expression.
    Output is the per-document tokenizer accounting a pipeline consumes
    (token count, raw chars, encoded symbols, compression ratio — the
    inputs to length-based cost models and sequence packing). Training
    AND encoding compose into one declarative plan: the winners never
    leave the cluster as anything but a 1-row broadcast. The oracle
    re-learns the same three winners in unrolled CTEs and re-encodes
    with nested replace(), so a drift in either phase breaks the hash."""
    from weather_api_automate_etl_spark.operators import textops
    from weather_api_automate_etl_spark.queries_wave11 import _BPE_SYMBOLS

    docs = t(spark, sf_dir, "documents")
    table = textops.bpe_merge_rounds(
        docs, n_rounds=3, placeholders=_BPE_SYMBOLS
    )
    return textops.bpe_encode(docs, table, _BPE_SYMBOLS, n_rounds=3)
