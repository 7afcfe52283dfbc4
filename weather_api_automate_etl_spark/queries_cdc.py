"""Change-data-capture and ledger queries: snapshot diffs, SCD2 and
as-of SCD2, MERGE/upsert, schema evolution, incremental materialized
views, and the transactional ledger's commit paths — merge, skip,
delete and deletion vectors, change feed, file skipping, z-order,
time travel, restore, clone, vacuum, constraints, concurrent writers,
history and repartition. Each writes under ``queries.scratch``.

Registry and oracle conventions: queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.queries import query, scratch, t


@query(
    "q_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 7 <> 0
    ),
    new AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 3 = 0
                  THEN ROUND(o_totalprice + 10, 2)
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 5 <> 0
    )
    SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                     OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
                  THEN 'changed'
                ELSE 'unchanged' END AS change_type,
           n.o_orderstatus, n.o_totalprice
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt-snapshot-style CDC diff between two deterministic versions of
    orders (old drops every 7th key; new drops every 5th and bumps every
    3rd price): added / removed / changed / unchanged per key via one
    full-outer join on md5 row-hashes computed map-side
    (operators/cdc.py::snapshot_diff). The oracle classifies by direct
    column comparison — hash-vs-compare equivalence is the point."""
    from weather_api_automate_etl_spark.operators import cdc

    orders = t(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = orders.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 3 == 0, F.round(F.col("o_totalprice") + 10, 2)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    return cdc.snapshot_diff(
        old, new, key="o_orderkey", compare_cols=["o_orderstatus", "o_totalprice"]
    )


@query(
    "q_scd2",
    oracle="""
    WITH oldv AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 7 <> 0
    ),
    newv AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 3 = 0
                  THEN ROUND(o_totalprice + 10, 2)
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 5 <> 0
    ),
    j AS (
      SELECT o.o_orderkey AS ck, o.o_orderstatus AS cs, o.o_totalprice AS cp,
             n.o_orderkey AS uk, n.o_orderstatus AS us, n.o_totalprice AS up
      FROM oldv o FULL OUTER JOIN newv n ON o.o_orderkey = n.o_orderkey
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           TIMESTAMP '2023-01-01' AS valid_from,
           TIMESTAMP '2024-01-01' AS valid_to
    FROM oldv WHERE o_orderkey % 11 = 0
    UNION ALL
    SELECT ck, cs, cp, TIMESTAMP '2024-01-01', CAST(NULL AS TIMESTAMP)
    FROM j WHERE ck IS NOT NULL AND uk IS NOT NULL
      AND NOT (cs IS DISTINCT FROM us OR cp IS DISTINCT FROM up)
    UNION ALL
    SELECT ck, cs, cp, TIMESTAMP '2024-01-01', TIMESTAMP '2024-06-01'
    FROM j WHERE ck IS NOT NULL
      AND (uk IS NULL OR cs IS DISTINCT FROM us OR cp IS DISTINCT FROM up)
    UNION ALL
    SELECT uk, us, up, TIMESTAMP '2024-06-01', CAST(NULL AS TIMESTAMP)
    FROM j WHERE uk IS NOT NULL
      AND (ck IS NULL OR cs IS DISTINCT FROM us OR cp IS DISTINCT FROM up)
    """,
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD merge (dbt snapshot semantics, operators/cdc.py::
    scd2_apply): a seeded dimension (current slice = the q_snapshot_diff
    'old' version, plus closed history rows for every 11th key) folds in
    one update batch — changed keys close + reopen, vanished keys close,
    new keys open, history passes through untouched. The oracle derives
    the same four row classes with IS DISTINCT FROM comparisons."""
    from weather_api_automate_etl_spark.operators import cdc

    orders = t(spark, sf_dir, "orders")
    oldv = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    newv = orders.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 3 == 0, F.round(F.col("o_totalprice") + 10, 2)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    hist = oldv.filter(F.col("o_orderkey") % 11 == 0).select(
        "*",
        F.lit("2023-01-01").cast("timestamp_ntz").alias("valid_from"),
        F.lit("2024-01-01").cast("timestamp_ntz").alias("valid_to"),
    )
    cur = oldv.select(
        "*",
        F.lit("2024-01-01").cast("timestamp_ntz").alias("valid_from"),
        F.lit(None).cast("timestamp_ntz").alias("valid_to"),
    )
    return cdc.scd2_apply(
        hist.unionByName(cur),
        newv,
        key="o_orderkey",
        compare_cols=["o_orderstatus", "o_totalprice"],
        batch_ts="2024-06-01",
    )


@query(
    "q_merge_upsert",
    oracle="""
    WITH mart AS (
      SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
    ),
    upd AS (
      SELECT o_orderkey, o_totalprice + 100.0 AS o_totalprice, o_orderdate
      FROM orders WHERE o_orderkey % 10 = 3
      UNION ALL
      SELECT o_orderkey + 6000000, o_totalprice * 0.5, o_orderdate
      FROM orders WHERE o_orderkey % 100 = 7
    )
    SELECT m.o_orderkey, m.o_totalprice, m.o_orderdate,
           'carried' AS merge_action
    FROM mart m
    WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = m.o_orderkey)
    UNION ALL
    SELECT u.o_orderkey, u.o_totalprice, u.o_orderdate,
           CASE WHEN EXISTS (SELECT 1 FROM mart m
                             WHERE m.o_orderkey = u.o_orderkey)
                THEN 'updated' ELSE 'inserted' END
    FROM upd u
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE / update-else-insert (operators/cdc.py::merge_into) — the
    production alternative to the reference's full-refresh materialization
    (/root/reference/dbt/dbt_project.yml:29-32): a deterministic update
    batch (every 10th key repriced +100, every 100th key re-inserted under
    a fresh key at half price) folds into the orders mart; update rows win,
    untouched mart rows carry through, provenance is classified per row.
    One left-anti join of the mart against the (small, broadcastable)
    update keys plus a semi/anti pass for provenance — no shuffle touches
    the full mart. The partition-pruned ON-DISK variant
    (merge_into_partitioned: a 1-day batch rewrites exactly 1 partition)
    is pinned in tests/test_joins_sampling.py. The value arithmetic
    (+100.0, *0.5) is IEEE-exact, so the hashes match without rounding."""
    from weather_api_automate_etl_spark.operators import cdc

    orders = t(spark, sf_dir, "orders")
    mart = orders.select("o_orderkey", "o_totalprice", "o_orderdate")
    updates = (
        orders.filter(F.col("o_orderkey") % 10 == 3)
        .select(
            "o_orderkey",
            (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
            "o_orderdate",
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 100 == 7).select(
                (F.col("o_orderkey") + F.lit(6000000)).alias("o_orderkey"),
                (F.col("o_totalprice") * F.lit(0.5)).alias("o_totalprice"),
                "o_orderdate",
            )
        )
    )
    return cdc.merge_into(mart, updates, "o_orderkey", with_provenance=True)


@query(
    "q_scd2_asof",
    oracle="""
    WITH oldv AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 7 <> 0
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM oldv
    """,
)
def q_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF lookup over the q_scd2 dimension at 2024-03-01 — BETWEEN the
    seed batch (2024-01-01) and the update batch (2024-06-01), so every
    row of the seed's current slice is returned (including rows the later
    batch closed: time travel must see through subsequent changes) while
    the 2023 history rows, closed before the probe instant, are excluded.
    That makes the expected state exactly the 'oldv' slice — an oracle an
    independent reader can verify by inspection. operators/cdc.py::
    scd2_asof is a pure filter: partition-prunable, no join."""
    from weather_api_automate_etl_spark.operators import cdc

    dim = q_scd2(spark, sf_dir)
    return cdc.scd2_asof(dim, "2024-03-01").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


@query(
    "q_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderstatus
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderkey % 2 = 1
    """,
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the lake: a v1 writer lands (key, price), a
    later v2 writer adds o_orderstatus; ``mergeSchema`` reads both
    generations as ONE table with NULLs where v1 predates the column —
    the append-only evolution contract every long-lived dataset relies
    on. The footer-merge cost is why production tables pin the schema in
    the catalog instead (sources/catalog.py) — this query pins that the
    read path itself is correct when they don't."""
    orders = t(spark, sf_dir, "orders")
    with scratch("schema_evo") as base:
        orders.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        ).write.mode("overwrite").parquet(f"{base}/gen=1")
        orders.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderstatus"
        ).write.mode("overwrite").parquet(f"{base}/gen=2")
        out = (
            spark.read.option("mergeSchema", "true")
            .parquet(f"{base}/gen=1", f"{base}/gen=2")
            .select("o_orderkey", "o_totalprice", "o_orderstatus")
        )
        return out.localCheckpoint(eager=True)


@query(
    "q_ledger_merge",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_totalprice,
             strftime(o_orderdate, '%Y') AS o_year
      FROM orders
    ),
    merged AS (
      SELECT o_orderkey, o_totalprice + 100.0 AS o_totalprice, o_year
      FROM base WHERE o_orderkey % 10 = 3
      UNION ALL
      SELECT o_orderkey, o_totalprice, o_year
      FROM base WHERE o_orderkey % 10 != 3
      UNION ALL
      SELECT o_orderkey + 6000000, o_totalprice * 0.5, '2999'
      FROM base WHERE o_orderkey % 100 = 7
    )
    SELECT o_year,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM merged GROUP BY o_year
    """,
)
def q_ledger_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned MERGE through the atomic snapshot ledger
    (sources/ledger.py): init writes the year-partitioned orders mart as
    an immutable data dir + manifest v1; a deterministic update batch
    (every 10th key repriced +100 in its own partition, every 100th key
    re-inserted under a fresh key into the brand-new '2999' partition)
    commits v2 by REWRITING ONLY THE TOUCHED PARTITIONS into a new dir
    and atomically republishing the partition→dir mapping; the readback
    plans from the v2 manifest and aggregates per partition. Upgrades
    merge_into_partitioned's in-place dynamic overwrite (checkpoint-
    guarded but non-atomic) to the Delta-model swap: readers see v1 or
    v2, never a mix — crash-wedge and time-travel proofs live in
    tests/test_ledger.py. The +100.0/*0.5 arithmetic is IEEE-exact; only
    the per-partition SUM needs round(2)."""
    from weather_api_automate_etl_spark.sources import ledger

    orders = t(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy").alias("o_year"),
    )
    updates = (
        base.filter(F.col("o_orderkey") % 10 == 3)
        .select(
            "o_orderkey",
            (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
            "o_year",
        )
        .unionByName(
            base.filter(F.col("o_orderkey") % 100 == 7).select(
                (F.col("o_orderkey") + F.lit(6000000)).alias("o_orderkey"),
                (F.col("o_totalprice") * F.lit(0.5)).alias("o_totalprice"),
                F.lit("2999").alias("o_year"),
            )
        )
    )
    with scratch("ledger_mart") as path:
        ledger.ledger_write(spark, base, path, "o_year")
        ledger.ledger_merge(spark, path, updates, "o_orderkey")
        out = (
            ledger.ledger_read(spark, path)
            .groupBy("o_year")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            )
        )
        return out.localCheckpoint(eager=True)


@query(
    "q_ledger_skip",
    oracle="""
    SELECT strftime(o_orderdate, '%Y') AS o_year,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1996-03-01 00:00:00'
                          AND TIMESTAMP '1997-06-30 23:59:59'
    GROUP BY o_year
    """,
)
def q_ledger_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data skipping through the ledger (sources/ledger.py::
    ledger_plan/ledger_scan): the year-partitioned orders mart records
    per-partition min/max of o_orderdate (a NON-partition column) in its
    manifest at write time; a date-range scan then prunes every partition
    whose recorded range cannot intersect the predicate — pure driver-side
    JSON arithmetic, no directory listing, no Spark job — and reads only
    the survivors (1996/1997 here) before applying the exact filter. The
    oracle is the unpruned declarative filter, so any skipping defect
    (over-pruning a matching partition, boundary comparison) breaks the
    hash; pruning exactness on crafted disjoint bands is pinned in
    tests/test_ledger.py. This is the mechanism that lets a 2-day query
    touch 2 of ~3000 daily partitions at 100 TB when the predicate column
    correlates with, but is not, the partition key."""
    from weather_api_automate_etl_spark.sources import ledger

    orders = t(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_totalprice",
        "o_orderdate",
        F.date_format("o_orderdate", "yyyy").alias("o_year"),
    )
    with scratch("ledger_skip") as path:
        ledger.ledger_write(
            spark, base, path, "o_year", stats_cols=["o_orderdate"]
        )
        lo, hi = "1996-03-01 00:00:00", "1997-06-30 23:59:59"
        assert ledger.ledger_plan(path, "o_orderdate", lo, hi) == [
            "1996", "1997",
        ], "stats pruning must keep exactly the two intersecting years"
        out = (
            ledger.ledger_scan(spark, path, "o_orderdate", lo, hi)
            .groupBy("o_year")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            )
        )
        return out.localCheckpoint(eager=True)


@query(
    "q_ledger_delete",
    oracle="""
    SELECT strftime(o_orderdate, '%Y') AS o_year,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM orders
    WHERE o_orderkey % 7 != 0
    GROUP BY o_year
    """,
)
def q_ledger_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE through the ledger (sources/ledger.py::
    ledger_delete) — the takedown / right-to-be-forgotten sweep a
    training corpus needs: every 7th order key is removed from the
    year-partitioned mart by bare key set (no partition hint). The table
    is written with the manifest-resident Bloom membership index
    (``key_index_col``), so the locate phase runs the full scale path:
    per-partition bitmap probe driver-side → semi-join confirm over the
    candidates only → anti-join rewrite of exactly the hit partitions →
    atomic manifest commit. The readback must equal the declarative
    complement, which is exactly the oracle; index pruning arithmetic,
    undersized-index correctness, partition-hint and unindexed scan
    paths, full-partition removal, replay idempotence, and txn dedup are
    pinned in tests/test_ledger.py."""
    from weather_api_automate_etl_spark.sources import ledger

    orders = t(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_totalprice",
        "o_orderdate",
        F.date_format("o_orderdate", "yyyy").alias("o_year"),
    )
    doomed = base.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey")
    with scratch("ledger_delete") as path:
        ledger.ledger_write(
            spark, base, path, "o_year", key_index_col="o_orderkey"
        )
        ledger.ledger_delete(spark, path, doomed, "o_orderkey")
        out = (
            ledger.ledger_read(spark, path)
            .groupBy("o_year")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            )
        )
        return out.localCheckpoint(eager=True)


@query(
    "q_ledger_cdf",
    oracle="""
    SELECT o_orderkey, 'changed' AS change_type,
           o_totalprice + 100.0 AS o_totalprice
    FROM orders WHERE o_orderkey % 10 = 3
    UNION ALL
    SELECT o_orderkey + 6000000, 'added', o_totalprice * 0.5
    FROM orders WHERE o_orderkey % 100 = 7
    """,
)
def q_ledger_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between ledger versions (sources/ledger.py::
    ledger_changes — the CDF a downstream incremental consumer reads
    instead of re-scanning the mart): after the deterministic merge
    batch (every 10th key repriced +100, every 100th re-keyed into the
    new '2999' partition at half price), changes(v1→v2) must be exactly
    the net row-level delta with the right classification — which is
    what the oracle declares. The manifest diff scopes the read to the
    repointed partitions only before the hash-compare join runs; delete
    feeds, multi-version composition, and empty self-diffs are pinned in
    tests/test_ledger.py. The +100.0/*0.5 arithmetic is IEEE-exact, so
    the doubles hash without rounding."""
    from weather_api_automate_etl_spark.sources import ledger

    orders = t(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy").alias("o_year"),
    )
    updates = (
        base.filter(F.col("o_orderkey") % 10 == 3)
        .select(
            "o_orderkey",
            (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
            "o_year",
        )
        .unionByName(
            base.filter(F.col("o_orderkey") % 100 == 7).select(
                (F.col("o_orderkey") + F.lit(6000000)).alias("o_orderkey"),
                (F.col("o_totalprice") * F.lit(0.5)).alias("o_totalprice"),
                F.lit("2999").alias("o_year"),
            )
        )
    )
    with scratch("ledger_cdf") as path:
        ledger.ledger_write(spark, base, path, "o_year")
        ledger.ledger_merge(spark, path, updates, "o_orderkey")
        out = ledger.ledger_changes(
            spark, path, "o_orderkey", ["o_totalprice"], v_from=1, v_to=2
        ).select("o_orderkey", "change_type", "o_totalprice")
        return out.localCheckpoint(eager=True)


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


@query(
    "q_ledger_timetravel",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_totalprice,
             strftime(o_orderdate, '%Y') AS o_year
      FROM orders
    ),
    merged AS (
      SELECT o_orderkey, o_totalprice + 100.0 AS o_totalprice, o_year
      FROM base WHERE o_orderkey % 10 = 3
      UNION ALL
      SELECT o_orderkey, o_totalprice, o_year
      FROM base WHERE o_orderkey % 10 != 3
      UNION ALL
      SELECT o_orderkey + 6000000, o_totalprice * 0.5, '2999'
      FROM base WHERE o_orderkey % 100 = 7
    )
    SELECT 1 AS version, o_year,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM base GROUP BY o_year
    UNION ALL
    SELECT 2 AS version, o_year,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM merged GROUP BY o_year
    """,
)
def q_ledger_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT ... VERSION AS OF through the snapshot ledger
    (sources/ledger.py::ledger_read(version=...)): the year-partitioned
    orders mart commits v1, a merge commits v2, and ONE result carries
    both versions' per-partition aggregates side by side — the audit /
    reproducibility read every lakehouse ships (Delta VLDB 2020 §4.2).
    Data files are immutable and the v1 manifest still references them,
    so the pinned read costs nothing extra: both plans prune straight
    from their own manifest, no copy-on-write, no log replay. The
    oracle recomputes both states declaratively — a time-travel reader
    that leaked post-merge rows into v1 (or vice versa) breaks the
    hash."""
    from weather_api_automate_etl_spark.sources import ledger

    orders = t(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy").alias("o_year"),
    )
    updates = (
        base.filter(F.col("o_orderkey") % 10 == 3)
        .select(
            "o_orderkey",
            (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
            "o_year",
        )
        .unionByName(
            base.filter(F.col("o_orderkey") % 100 == 7).select(
                (F.col("o_orderkey") + F.lit(6000000)).alias("o_orderkey"),
                (F.col("o_totalprice") * F.lit(0.5)).alias("o_totalprice"),
                F.lit("2999").alias("o_year"),
            )
        )
    )
    with scratch("ledger_tt") as path:
        ledger.ledger_write(spark, base, path, "o_year")
        ledger.ledger_merge(spark, path, updates, "o_orderkey")

        def agg(df: DataFrame, version: int) -> DataFrame:
            return df.groupBy("o_year").agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            ).select(
                F.lit(version).cast("int").alias("version"),
                "o_year",
                "n_rows",
                "sum_price",
            )

        out = agg(ledger.ledger_read(spark, path, version=1), 1).unionByName(
            agg(ledger.ledger_read(spark, path, version=2), 2)
        )
        return out.localCheckpoint(eager=True)


@query(
    "q_ledger_restore",
    oracle="""
    SELECT strftime(o_orderdate, '%Y') AS o_year,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY o_year
    """,
)
def q_ledger_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE ... TO VERSION AS OF (sources/ledger.py::
    ledger_restore): after a bad merge (v2) AND a bad delete (v3), one
    metadata-only FORWARD commit repoints the table at v1's immutable
    files — no data moves, history stays inspectable (the in-query
    asserts pin versions [1,2,3,4] and that v3 still differs), and the
    readback must hash-match the untouched base state, proving the
    rollback reversed both the upsert and the delete exactly. The
    watermark-retention and vacuumed-history error contracts are pinned
    in tests/test_ledger.py."""
    from weather_api_automate_etl_spark.sources import ledger

    orders = t(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy").alias("o_year"),
    )
    updates = base.filter(F.col("o_orderkey") % 10 == 3).select(
        "o_orderkey",
        (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
        "o_year",
    )
    doomed = base.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey")
    with scratch("ledger_restore") as path:
        ledger.ledger_write(spark, base, path, "o_year")
        ledger.ledger_merge(spark, path, updates, "o_orderkey")
        ledger.ledger_delete(spark, path, doomed, "o_orderkey")
        v = ledger.ledger_restore(path, 1)
        assert v == 4, f"restore must be a forward commit, got v{v}"
        assert ledger._manifest_versions(path) == [1, 2, 3, 4]
        n_v3 = ledger.ledger_read(spark, path, version=3).count()
        n_v4 = ledger.ledger_read(spark, path).count()
        assert n_v3 < n_v4, "v3 (post-delete) must stay time-travelable"
        out = (
            ledger.ledger_read(spark, path)
            .groupBy("o_year")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            )
        )
        return out.localCheckpoint(eager=True)


@query(
    "q_ledger_concurrent",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_totalprice,
             strftime(o_orderdate, '%Y') AS o_year
      FROM orders
    ),
    merged AS (
      SELECT o_orderkey,
             CASE WHEN o_year = '1996' AND o_orderkey % 10 = 3
                    THEN o_totalprice + 100.0
                  WHEN o_year = '1997' AND o_orderkey % 10 = 3
                    THEN o_totalprice * 2.0
                  ELSE o_totalprice END AS o_totalprice,
             o_year
      FROM base
    )
    SELECT o_year,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM merged GROUP BY o_year
    """,
)
def q_ledger_concurrent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two UNCOORDINATED writers merge into the same ledger table
    concurrently — writer A reprices inside partition '1996', writer B
    inside '1997' — from real threads released by a barrier, no lock
    anywhere. The optimistic-concurrency commit loop
    (sources/ledger.py::_commit_with_rebase — Delta VLDB 2020 §3.2 at
    the partition grain) lets the CAS loser verify the interleaved
    commit touched only DISJOINT partitions, replay its entries on top,
    and land at the next version; both updates survive regardless of
    which writer wins the race, so the final state is order-invariant
    and the oracle is exact. The in-query asserts pin that BOTH commits
    landed (versions [1,2,3]). Deterministic forced-interleave proofs
    (CAS loss injection, overlap conflict, exactly-once across the
    rebase) live in tests/test_ledger.py."""
    import threading

    from weather_api_automate_etl_spark.sources import ledger

    orders = t(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy").alias("o_year"),
    )
    upd_a = base.filter(
        (F.col("o_year") == "1996") & (F.col("o_orderkey") % 10 == 3)
    ).select(
        "o_orderkey",
        (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
        "o_year",
    )
    upd_b = base.filter(
        (F.col("o_year") == "1997") & (F.col("o_orderkey") % 10 == 3)
    ).select(
        "o_orderkey",
        (F.col("o_totalprice") * F.lit(2.0)).alias("o_totalprice"),
        "o_year",
    )
    with scratch("ledger_occ") as path:
        ledger.ledger_write(spark, base, path, "o_year")
        barrier = threading.Barrier(2)
        errors: list[BaseException] = []

        def writer(upd: DataFrame) -> None:
            try:
                barrier.wait(timeout=120)
                ledger.ledger_merge(spark, path, upd, "o_orderkey")
            except BaseException as e:  # surfaced below — never swallowed
                errors.append(e)

        threads = [
            threading.Thread(target=writer, args=(u,), daemon=True)
            for u in (upd_a, upd_b)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=600)
        if errors:
            raise errors[0]
        assert ledger._manifest_versions(path) == [1, 2, 3], (
            "both concurrent merges must commit"
        )
        out = (
            ledger.ledger_read(spark, path)
            .groupBy("o_year")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            )
        )
        return out.localCheckpoint(eager=True)


@query(
    "q_ledger_vacuum",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_totalprice,
             strftime(o_orderdate, '%Y') AS o_year
      FROM orders
    ),
    merged AS (
      SELECT o_orderkey, o_totalprice + 100.0 AS o_totalprice, o_year
      FROM base WHERE o_orderkey % 10 = 3
      UNION ALL
      SELECT o_orderkey, o_totalprice, o_year
      FROM base WHERE o_orderkey % 10 != 3
    )
    SELECT o_year,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM merged GROUP BY o_year
    """,
)
def q_ledger_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM (sources/ledger.py::ledger_vacuum): after a merge
    supersedes every touched partition's original directory, retention
    ``keep_versions=1`` drops the v1 manifest and physically deletes
    every data directory only v1 referenced — the storage-reclaim half
    of the immutable-files design (files are never deleted by WRITERS,
    only by retention). The in-query asserts pin that orphans were
    actually removed and time travel to v1 is gone; the readback of the
    surviving version must still hash-match the declarative merged
    state — vacuum reclaims space, never rows. At 100 TB this is the
    same O(live-dirs) listing + O(retained-manifests) JSON walk: driver
    metadata arithmetic, no table scan."""
    import os

    from weather_api_automate_etl_spark.sources import ledger

    orders = t(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy").alias("o_year"),
    )
    updates = base.filter(F.col("o_orderkey") % 10 == 3).select(
        "o_orderkey",
        (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
        "o_year",
    )
    with scratch("ledger_vac") as path:
        ledger.ledger_write(spark, base, path, "o_year")
        ledger.ledger_merge(spark, path, updates, "o_orderkey")
        dirs_before = {
            n for n in os.listdir(path) if n.startswith("data-")
        }
        deleted = ledger.ledger_vacuum(path, keep_versions=1)
        assert deleted, "the superseded v1 directory must be reclaimed"
        assert set(deleted) <= dirs_before
        assert ledger._manifest_versions(path) == [2], (
            "retention must drop the superseded manifest"
        )
        out = (
            ledger.ledger_read(spark, path)
            .groupBy("o_year")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            )
        )
        return out.localCheckpoint(eager=True)


@query(
    "q_cdc_apply",
    oracle="""
    WITH log AS (
      SELECT o_custkey AS cust_id,
             o_orderkey AS seq,
             o_totalprice AS price,
             CASE WHEN o_orderkey % 7 = 0 THEN 'D'
                  WHEN o_orderkey % 3 = 0 THEN 'I'
                  ELSE 'U' END AS op
      FROM orders
    )
    SELECT cust_id, seq, price, op
    FROM log
    QUALIFY row_number() OVER (
      PARTITION BY cust_id ORDER BY seq DESC, op DESC
    ) = 1 AND op != 'D'
    """,
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY CHANGES INTO (operators/cdc.py::apply_cdc — the DLT AUTO
    CDC / Debezium-consumer contract): the orders table plays a change
    log (key = customer, sequence = order key, op derived
    deterministically: every 7th event a DELETE, every 3rd an INSERT,
    the rest UPDATEs), and the operator collapses it to final state —
    per key the HIGHEST sequence wins, a winning 'D' drops the key
    entirely, arrival order is irrelevant because recency is defined by
    ``sequence_by``, not delivery. One key-hash shuffle into a
    WindowGroupLimit-pushed row_number: the keep-latest shape that holds
    at any log size. Composes with the ledger for incremental
    application (upserts → ledger_merge, deletes → ledger_delete)."""
    from weather_api_automate_etl_spark.operators.cdc import apply_cdc

    log = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust_id"),
        F.col("o_orderkey").alias("seq"),
        F.col("o_totalprice").alias("price"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("D"))
        .when(F.col("o_orderkey") % 3 == 0, F.lit("I"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    return apply_cdc(log, "cust_id", "seq", "op")


@query(
    "q_streaming_cdc_apply",
    oracle="""
    WITH log AS (
      SELECT o_custkey AS cust_id,
             o_orderkey AS seq,
             o_totalprice AS price,
             CASE WHEN o_orderkey % 7 = 0 THEN 'D'
                  WHEN o_orderkey % 3 = 0 THEN 'I'
                  ELSE 'U' END AS op,
             CAST(o_custkey % 8 AS VARCHAR) AS pt
      FROM orders
    )
    SELECT cust_id, seq, price, op, pt
    FROM log
    QUALIFY row_number() OVER (
      PARTITION BY cust_id ORDER BY seq DESC, op DESC
    ) = 1 AND op != 'D'
    """,
)
def q_streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming CDC CONSUMER (streaming/sinks.py::
    stream_apply_cdc_into_ledger): the orders-derived I/U/D log ships as
    THREE seq-range parquet files whose ranges OVERLAP (each shipment
    re-delivers the tail of the previous one — at-least-once delivery
    under NEW batch ids, where the txn watermark cannot dedupe), drained
    one file per run through a checkpointed availableNow stream. Each
    micro-batch collapses to its winning event per key, discards events
    that do not beat the table's CURRENT sequence (the guard that makes
    re-delivery converge), then lands as an exactly-once ledger MERGE of
    the upserts plus a ledger DELETE of the delete-winning keys. The
    final snapshot must equal the GLOBAL apply_cdc collapse over the
    whole log — batching, overlap, and delete interleaving must all be
    invisible — which is exactly the oracle."""
    import os

    from weather_api_automate_etl_spark.sources import ledger
    from weather_api_automate_etl_spark.streaming import events as stream_events
    from weather_api_automate_etl_spark.streaming import sinks

    name = "q_streaming_cdc_apply"
    log = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust_id"),
        F.col("o_orderkey").alias("seq"),
        F.col("o_totalprice").alias("price"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("D"))
        .when(F.col("o_orderkey") % 3 == 0, F.lit("I"))
        .otherwise(F.lit("U"))
        .alias("op"),
        (F.col("o_custkey") % 8).cast("string").alias("pt"),
    )
    mx = log.agg(F.max("seq")).collect()[0][0]
    # seq-ordered shipments with re-delivered tails: [0, .4], (.35, .75],
    # (.7, max] — the WAL/Kafka shipping contract the sink documents
    ranges = [
        (0, int(mx * 0.40)),
        (int(mx * 0.35), int(mx * 0.75)),
        (int(mx * 0.70), mx),
    ]
    with scratch(name) as base:
        stage, table, ckpt, ships = (
            f"{base}/stage", f"{base}/table", f"{base}/ckpt", f"{base}/ships"
        )
        os.makedirs(stage)
        stream = spark.readStream.schema(
            "cust_id long, seq long, price double, op string, pt string"
        ).parquet(stage)
        # Stage ALL THREE shipments in one scan + one partitioned write:
        # a row lands in every range that covers
        # it (the overlap IS the re-delivery), one file per shipment dir
        # (coalesce(1) upstream of partitionBy). The old flow re-ran the
        # orders scan + projection once per shipment. File contents are
        # identical — the __ship column is directory-encoded, never
        # written into the data file.
        membership = F.filter(
            F.array(*[
                F.when(
                    (F.col("seq") > lo) & (F.col("seq") <= hi), F.lit(i)
                )
                for i, (lo, hi) in enumerate(ranges)
            ]),
            lambda x: x.isNotNull(),
        )
        (
            log.withColumn("__ship", F.explode(membership))
            .coalesce(1)
            .write.partitionBy("__ship")
            .parquet(ships)
        )
        for i in range(len(ranges)):
            # one shipment appears in the stream root per drain, exactly
            # as the per-shipment writes staged it
            stream_events.stage(stage, f"ship_{i}", f"{ships}/__ship={i}")
            sinks.stream_apply_cdc_into_ledger(
                stream, table, ckpt, name,
                key="cust_id", seq_col="seq", partition_col="pt",
            )
        out = ledger.ledger_read(spark, table).select(
            "cust_id", "seq", "price", "op", "pt"
        )
        return out.localCheckpoint(eager=True)


@query(
    "q_ledger_clone",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_totalprice,
             strftime(o_orderdate, '%Y') AS o_year
      FROM orders
    ),
    merged AS (
      SELECT o_orderkey, o_totalprice + 100.0 AS o_totalprice, o_year
      FROM base WHERE o_orderkey % 10 = 3
      UNION ALL
      SELECT o_orderkey, o_totalprice, o_year
      FROM base WHERE o_orderkey % 10 != 3
    )
    SELECT 'source' AS tbl, o_year,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM base GROUP BY o_year
    UNION ALL
    SELECT 'clone' AS tbl, o_year,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM merged GROUP BY o_year
    """,
)
def q_ledger_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE (sources/ledger.py::ledger_clone — Delta's
    zero-copy table fork): the year-partitioned orders mart is cloned by
    committing a v1 manifest that REFERENCES the source's immutable
    directories (the in-query asserts pin that the clone holds ZERO data
    directories at clone time and the source's history never grows),
    then a merge INTO THE CLONE diverges it copy-on-write — exactly one
    clone-local directory appears, holding only the touched partitions'
    rewrite. One result carries both tables' aggregates: the source must
    still hash as the untouched base, the clone as the merged state.
    The dev-against-prod workflow: fork a 100 TB mart in O(partitions)
    driver JSON, test the migration on the fork, drop it."""
    import os

    from weather_api_automate_etl_spark.sources import ledger

    orders = t(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy").alias("o_year"),
    )
    updates = base.filter(F.col("o_orderkey") % 10 == 3).select(
        "o_orderkey",
        (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
        "o_year",
    )
    with scratch("ledger_clone") as work:
        src, dst = f"{work}/src", f"{work}/dst"
        ledger.ledger_write(spark, base, src, "o_year")
        ledger.ledger_clone(src, dst)
        assert not [
            n for n in os.listdir(dst) if n.startswith("data-")
        ], "shallow clone must copy ZERO data"
        ledger.ledger_merge(spark, dst, updates, "o_orderkey")
        assert ledger._manifest_versions(src) == [1], (
            "writes to the clone must never touch the source's history"
        )
        assert (
            len([n for n in os.listdir(dst) if n.startswith("data-")]) == 1
        ), "copy-on-write: only the merge's own directory is clone-local"

        def agg(path: str, tbl: str) -> DataFrame:
            return (
                ledger.ledger_read(spark, path)
                .groupBy("o_year")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_rows"),
                    F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
                )
                .select(F.lit(tbl).alias("tbl"), "o_year", "n_rows", "sum_price")
            )

        out = agg(src, "source").unionByName(agg(dst, "clone"))
        return out.localCheckpoint(eager=True)


@query(
    "q_ledger_constraint",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_totalprice,
             strftime(o_orderdate, '%Y') AS o_year
      FROM orders
    ),
    merged AS (
      SELECT o_orderkey, o_totalprice + 100.0 AS o_totalprice, o_year
      FROM base WHERE o_orderkey % 10 = 3
      UNION ALL
      SELECT o_orderkey, o_totalprice, o_year
      FROM base WHERE o_orderkey % 10 != 3
    )
    SELECT o_year,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM merged GROUP BY o_year
    """,
)
def q_ledger_constraint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK constraints on the ledger (sources/ledger.py::
    _enforce_checks / ledger_add_check — Delta invariants): the mart is
    written with a declared ``price_pos`` constraint, a GOOD update
    batch merges through the gate, a VIOLATING batch is rejected BEFORE
    any data lands (the in-query asserts pin the raise AND that no
    version was consumed), and ALTER TABLE ADD CONSTRAINT validates the
    existing snapshot before a second named check joins the manifest —
    after which a batch violating the NEW check is rejected too. This is
    the reference's dbt quality-test surface (schema.yml not_null /
    accepted-range semantics) moved to the storage layer's write path:
    post-hoc tests find bad rows AFTER they shipped; an invariant makes
    a committed snapshot that holds one impossible. The readback must
    hash as the good-batch-only merged state — the rejected writes left
    no trace."""
    from weather_api_automate_etl_spark.sources import ledger

    orders = t(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy").alias("o_year"),
    )
    good = base.filter(F.col("o_orderkey") % 10 == 3).select(
        "o_orderkey",
        (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
        "o_year",
    )
    bad = good.limit(3).select(
        "o_orderkey",
        (F.col("o_totalprice") * F.lit(-1.0)).alias("o_totalprice"),
        "o_year",
    )
    with scratch("ledger_check") as path:
        ledger.ledger_write(
            spark, base, path, "o_year",
            checks={"price_pos": "o_totalprice > 0"},
        )
        ledger.ledger_merge(spark, path, good, "o_orderkey")
        try:
            ledger.ledger_merge(spark, path, bad, "o_orderkey")
            raise AssertionError("violating batch must be rejected")
        except ValueError as e:
            assert "price_pos" in str(e)
        assert ledger._manifest_versions(path) == [1, 2], (
            "a rejected write must not consume a version"
        )
        ledger.ledger_add_check(
            spark, path, "year_known", "o_year IS NOT NULL"
        )
        try:
            ledger.ledger_merge(
                spark,
                path,
                good.limit(1).select(
                    "o_orderkey", "o_totalprice",
                    F.lit(None).cast("string").alias("o_year"),
                ),
                "o_orderkey",
            )
            raise AssertionError("NULL-year batch must be rejected")
        except ValueError as e:
            assert "year_known" in str(e)
        out = (
            ledger.ledger_read(spark, path)
            .groupBy("o_year")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            )
        )
        return out.localCheckpoint(eager=True)


@query(
    "q_ledger_history",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, strftime(o_orderdate, '%Y') AS y FROM orders
    ),
    s AS (SELECT COUNT(DISTINCT y) AS p, COUNT(*) AS n FROM base),
    ins AS (SELECT COUNT(*) AS i FROM base WHERE o_orderkey % 100 = 7),
    del AS (SELECT COUNT(*) AS d FROM base WHERE o_orderkey % 7 = 0)
    SELECT CAST(1 AS INTEGER) AS version, 'WRITE' AS op,
           CAST(p AS BIGINT) AS n_partitions, CAST(n AS BIGINT) AS n_rows
    FROM s
    UNION ALL
    SELECT 2, 'MERGE', CAST(p + 1 AS BIGINT), CAST(n + i AS BIGINT)
    FROM s, ins
    UNION ALL
    SELECT 3, 'DELETE', CAST(p + 1 AS BIGINT), CAST(n + i - d AS BIGINT)
    FROM s, ins, del
    UNION ALL
    SELECT 4, 'RESTORE', CAST(p AS BIGINT), CAST(n AS BIGINT) FROM s
    """,
)
def q_ledger_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY (sources/ledger.py::ledger_history): the mart
    lives through WRITE → MERGE (repriced keys + a brand-new partition)
    → DELETE (every 7th base key) → RESTORE, and the audit log must
    reconstruct the whole biography from the manifests alone — each
    version's operation, live-partition count, and file-resident row
    count, all derivable declaratively from the input data, which is
    exactly what the oracle does. History here is deliberately
    deterministic (no wall-clock timestamps in manifests), so the audit
    itself is hash-checkable — and it reads zero data files, costing the
    same on a 100 TB mart as on this fixture."""
    from weather_api_automate_etl_spark.sources import ledger

    orders = t(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy").alias("o_year"),
    )
    updates = (
        base.filter(F.col("o_orderkey") % 10 == 3)
        .select(
            "o_orderkey",
            (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
            "o_year",
        )
        .unionByName(
            base.filter(F.col("o_orderkey") % 100 == 7).select(
                (F.col("o_orderkey") + F.lit(6000000)).alias("o_orderkey"),
                (F.col("o_totalprice") * F.lit(0.5)).alias("o_totalprice"),
                F.lit("2999").alias("o_year"),
            )
        )
    )
    doomed = base.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey")
    with scratch("ledger_hist") as path:
        ledger.ledger_write(spark, base, path, "o_year")
        ledger.ledger_merge(spark, path, updates, "o_orderkey")
        ledger.ledger_delete(spark, path, doomed, "o_orderkey")
        ledger.ledger_restore(path, 1)
        out = ledger.ledger_history(spark, path).select(
            "version", "op", "n_partitions", "n_rows"
        )
        return out.localCheckpoint(eager=True)


@query(
    "q_merge_when",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS p,
             strftime(o_orderdate, '%Y') AS y
      FROM orders
    ),
    merged AS (
      -- matched: DELETE first (discounted price < 1000), then UPDATE
      -- only when the source price is LOWER, else carry
      SELECT k,
             CASE WHEN k % 10 = 3 THEN p - 100.0 ELSE p END AS p,
             y
      FROM base
      WHERE NOT (k % 10 = 3 AND p - 100.0 < 1000)
        AND NOT (k % 10 = 6 AND p + 100.0 < 1000)
      UNION ALL
      -- not matched: INSERT only 1996-or-later rows
      SELECT k + 6000000, p - 100.0, y
      FROM base WHERE k % 100 = 7 AND y >= '1996'
    )
    SELECT y AS o_year,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(p), 2) AS sum_price
    FROM merged GROUP BY o_year
    """,
)
def q_merge_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL conditional MERGE grammar (operators/cdc.py::merge_when —
    Delta/SQL:2003 MERGE INTO): one source batch drives all three
    clauses at once. Keys %10==3 arrive discounted 100 — they UPDATE
    (source price lower) unless the discounted price drops under 1000,
    in which case the DELETE clause fires first; keys %10==6 arrive
    marked UP 100 — the update condition (s < t) fails, so they CARRY
    unchanged (the clause-order contract: delete, then update, then
    carry); fresh keys INSERT only when their year clears the
    not-matched condition. One full-outer key join + one CASE
    projection resolves everything; the oracle recomputes the exact
    clause algebra declaratively, so a wrong clause order or a leaked
    delete breaks the hash."""
    from weather_api_automate_etl_spark.operators.cdc import merge_when

    base = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey"),
        F.col("o_totalprice"),
        F.date_format("o_orderdate", "yyyy").alias("o_year"),
    )
    source = (
        base.filter(F.col("o_orderkey") % 10 == 3)
        .select(
            "o_orderkey",
            (F.col("o_totalprice") - F.lit(100.0)).alias("o_totalprice"),
            "o_year",
        )
        .unionByName(
            base.filter(F.col("o_orderkey") % 10 == 6).select(
                "o_orderkey",
                (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
                "o_year",
            )
        )
        .unionByName(
            base.filter(F.col("o_orderkey") % 100 == 7).select(
                (F.col("o_orderkey") + F.lit(6000000)).alias("o_orderkey"),
                (F.col("o_totalprice") - F.lit(100.0)).alias("o_totalprice"),
                "o_year",
            )
        )
    )
    merged = merge_when(
        base,
        source,
        "o_orderkey",
        matched_delete="s.o_totalprice < 1000",
        matched_update="s.o_totalprice < t.o_totalprice",
        not_matched_insert="s.o_year >= '1996'",
    )
    return merged.groupBy("o_year").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@query(
    "q_ledger_repartition",
    oracle="""
    SELECT CAST(o_custkey % 8 AS VARCHAR) AS pt,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue,
           CAST(2 AS INTEGER) AS version,
           'REPARTITION' AS op
    FROM orders GROUP BY 1
    """,
)
def q_ledger_repartition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution (sources/ledger.py::ledger_repartition):
    a mart written at year grain is atomically rewritten to customer-hash
    grain — the migration every mart needs when the dominant predicate
    changes. The hashed result reads back through the NEW layout and
    carries the committed version and manifest operation (physical-layer
    pins), while the per-partition counts/sums prove the rewrite moved
    every row and invented none. test_wave18 additionally pins that
    planning now prunes on the new column and time travel still serves
    the old layout."""
    from weather_api_automate_etl_spark.sources import ledger

    od = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice",
        F.year("o_orderdate").cast("string").alias("p_year"),
        (F.col("o_custkey") % 8).cast("string").alias("pt"),
    )
    with scratch("q_ledger_repartition") as base:
        ledger.ledger_write(
            spark, od, base, "p_year", stats_cols=["o_totalprice"]
        )
        v = ledger.ledger_repartition(spark, base, "pt")
        op = {
            r["version"]: r["op"]
            for r in ledger.ledger_history(spark, base).collect()
        }[v]
        result = (
            ledger.ledger_read(spark, base)
            .groupBy("pt")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            )
            .select(
                "pt", "n_orders", "revenue",
                F.lit(v).cast("int").alias("version"),
                F.lit(op).alias("op"),
            )
            .localCheckpoint(eager=True)
        )
    return result
