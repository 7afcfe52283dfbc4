"""Round-7 twelfth-wave queries: hash-oracle evidence for the two signals
that were previously rows-only "by nature", each via a different oracle
discipline:

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.queries import query, scratch, t
from weather_api_automate_etl_spark.queries_wave9 import _PROFILE_COLS

# ---------------------------------------------------------------------------
# approximate table profile (the no-Expand 100 TB path)
# ---------------------------------------------------------------------------


def _portable_hll_profile_oracle() -> str:
    """DuckDB twin of profile_table(distinct_mode='portable'): the SAME
    md5-HLL (32-bit hash word, m=64, α₆₄=0.709, linear counting under
    2.5·m) the Spark expressions compute, so the estimate — not just a
    bound — hash-matches. Canonical hash strings per type mirror
    quality.py::_canon (doubles in 1e-6 units)."""
    parts = []
    for c, is_double in _PROFILE_COLS:
        canon = (
            f"CAST(CAST(round({c} * 1000000, 0) AS BIGINT) AS VARCHAR)"
            if is_double
            else f"CAST({c} AS VARCHAR)"
        )
        mn = f"ROUND(MIN({c}), 6)" if is_double else f"MIN({c})"
        mx = f"ROUND(MAX({c}), 6)" if is_double else f"MAX({c})"
        parts.append(f"""
      SELECT '{c}' AS column_name,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(CASE WHEN {c} IS NULL THEN 1 END) AS BIGINT)
               AS n_nulls,
             (WITH r AS (
                SELECT CAST(h % 64 AS INTEGER) AS b,
                       CAST(h // 64 AS BIGINT) AS w
                FROM (SELECT CAST(concat('0x', substr(md5({canon}), 1, 8))
                             AS UBIGINT) AS h
                      FROM orders WHERE {c} IS NOT NULL)
              ),
              regs AS (
                SELECT b, MAX(CASE WHEN w = 0 THEN 27
                                   ELSE 26 - CAST(floor(log2(w)) AS INTEGER)
                              END) AS mj
                FROM r GROUP BY b
              ),
              s AS (
                SELECT COALESCE(SUM(power(2.0, -mj)), 0.0)
                         + (64 - COUNT(*)) AS denom,
                       64 - COUNT(*) AS v
                FROM regs
              )
              SELECT CAST(ROUND(CASE WHEN 0.709 * 4096 / denom <= 160.0
                                          AND v > 0
                                     THEN 64.0 * ln(64.0 / v)
                                     ELSE 0.709 * 4096 / denom END,
                                0) AS BIGINT)
              FROM s) AS n_distinct,
             CAST({mn} AS VARCHAR) AS min_value,
             CAST({mx} AS VARCHAR) AS max_value
      FROM orders""")
    return " UNION ALL ".join(parts)


@query(
    "q_profile_table_approx",
    oracle=_portable_hll_profile_oracle(),
    tags=("quality", "agg"),
)
def q_profile_table_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB profile path (operators/quality.py::profile_table,
    ``distinct_mode='portable'``): identical one-aggregate unpivot shape
    as q_profile_table, but per-column cardinality comes from an EXPLICIT
    md5-keyed HyperLogLog (Flajolet et al. 2007; m=64 registers held as
    64 max-aggregates) — fixed-size, mergeable, pure map-side combine,
    NO per-column Expand of the input into the shuffle. Unlike the
    engine-native HLL++ mode (``'approx'``, still available and pinned
    in tests/test_wave12.py), the portable sketch is a deterministic
    function of md5, so the DuckDB oracle reproduces the ESTIMATE
    bit-for-bit — this retired the registry's last rows-only fallback
    (round-8 verdict item 3). Error is the textbook 1.04/√m ≈ 13 % rsd,
    bounded against the exact profile in tests/test_wave12.py."""
    from weather_api_automate_etl_spark.operators import quality

    return quality.profile_table(
        t(spark, sf_dir, "orders"),
        [c for c, _ in _PROFILE_COLS],
        distinct_mode="portable",
    )

# ---------------------------------------------------------------------------
# Multimodal: TIFF decode end-to-end (baseline 6.0 codec, both byte orders)
# ---------------------------------------------------------------------------


@query(
    "q_multimodal_decode_tiff",
    oracle="""
    SELECT doc_id AS asset_id,
           'image/tiff' AS media_type,
           CAST(doc_id % 10 + 2 AS INTEGER) AS width,
           CAST(doc_id % 7 + 2 AS INTEGER) AS height,
           ROUND(CAST((doc_id % 256) * ((doc_id % 10 + 2) * (doc_id % 7 + 2) - 1)
                      + 255 - (doc_id % 256) AS DOUBLE)
                 / ((doc_id % 10 + 2) * (doc_id % 7 + 2)), 6) AS mean_r,
           CAST(255 - doc_id % 256 AS INTEGER) AS first_px_r,
           CAST(255 - n_chars % 256 AS INTEGER) AS first_px_g,
           CAST(255 - doc_id * 13 % 256 AS INTEGER) AS first_px_b
    FROM documents
    """,
    tags=("multimodal",),
)
def q_multimodal_decode_tiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NON-stub baseline-TIFF decode end-to-end: deterministic real TIFF
    payloads (sources/multimodal.py::documents_as_tiff_assets) run the
    full pure struct+NumPy path (sources/codecs.py::decode_tiff) — byte-
    order dispatch (II and MM payloads both appear in-pipeline), IFD tag
    walk with SHORT/LONG + inline/external value storage, multi-strip
    assembly, and PackBits decompression — then reduce to location- and
    value-sensitive stats via the shared decode_image dispatch
    (image_stats). The oracle predicts every stat from the generation
    parameters, so a defect in stride, strip order, byte order, or RLE
    breaks the hash. Shrinks the former WebP/TIFF PIL plug point to
    WebP + exotic-TIFF only (round-6 verdict task 3's spirit: one more
    real codec behind the decode seam); codec fuzz (3200 roundtrip
    combos incl. grayscale photometrics) lives in
    tests/test_multimodal.py."""
    from weather_api_automate_etl_spark.sources import multimodal

    assets = multimodal.documents_as_tiff_assets(t(spark, sf_dir, "documents"))
    return multimodal.image_stats(assets)

# ---------------------------------------------------------------------------
# Bloom-filter join pruning (the compact semi-join reduction)
# ---------------------------------------------------------------------------


@query(
    "q_bloom_prune",
    oracle="""
    SELECT l_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    WHERE l_suppkey IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal >= 5000.0
    )
    GROUP BY l_suppkey
    """,
    tags=("joins", "agg"),
)
def q_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned semi join (operators/joins.py::bloom_prune_join): the
    fact scan is pre-filtered by a literal 8 KiB bitmap of the (runtime-
    filtered) supplier key set — all probe bits tested inside whole-stage
    codegen, no shuffle, no Python — then the exact left-semi join runs on
    the survivors only. Bit-identical to the plain semi join (false
    positives removed by phase 2, false negatives impossible), which is
    exactly what the oracle checks; what changes at 100 TB is the shuffle
    volume, which drops from |facts| to the survivor count. This is the
    user-level form of Spark's runtime row-level Bloom pruning, available
    where the optimizer can't inject it (pre-filtered build sides,
    cross-job filter reuse, sink-side manifests)."""
    from weather_api_automate_etl_spark.operators import joins

    line = t(spark, sf_dir, "lineitem")
    keys = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") >= 5000.0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return joins.bloom_prune_join(line, keys, "l_suppkey").groupBy(
        "l_suppkey"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )

# ---------------------------------------------------------------------------
# Atomic-ledger MERGE (the manifest/snapshot model under mart maintenance)
# ---------------------------------------------------------------------------


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
    tags=("cdc", "ledger"),
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
    tags=("cdc", "ledger", "layout"),
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
    tags=("streaming", "cdc", "ledger"),
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
    from weather_api_automate_etl_spark.queries_ext import _staged_event_stream
    from weather_api_automate_etl_spark.sources import ledger
    from weather_api_automate_etl_spark.streaming import events as stream_events
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
    "q_ledger_delete",
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
    tags=("cdc", "ledger"),
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


_PSI_EDGES = (50_000.0, 100_000.0, 150_000.0, 200_000.0, 300_000.0)


@query(
    "q_psi_drift",
    oracle=f"""
    WITH old_side AS (
      SELECT o_totalprice AS v FROM orders WHERE o_orderkey % 2 = 0
    ),
    new_side AS (
      SELECT o_totalprice * 1.25 AS v FROM orders WHERE o_orderkey % 2 = 1
    ),
    edges(e) AS (VALUES {", ".join(f"({e!r})" for e in _PSI_EDGES)}),
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
    grid AS (SELECT unnest(range({len(_PSI_EDGES) + 1})) AS bin_id),
    j AS (
      SELECT CAST(g.bin_id AS INTEGER) AS bin_id,
             CAST(COALESCE(ob.n_old, 0) AS BIGINT) AS n_old,
             CAST(COALESCE(nb.n_new, 0) AS BIGINT) AS n_new
      FROM grid g LEFT JOIN ob ON ob.bin_id = g.bin_id
                  LEFT JOIN nb ON nb.bin_id = g.bin_id
    ),
    tot AS (SELECT SUM(n_old) AS t_o, SUM(n_new) AS t_n FROM j)
    SELECT bin_id, n_old, n_new,
           ROUND(GREATEST(n_old / t_o, 1e-6), 6) AS p_old,
           ROUND(GREATEST(n_new / t_n, 1e-6), 6) AS p_new,
           ROUND((GREATEST(n_new / t_n, 1e-6) - GREATEST(n_old / t_o, 1e-6))
                 * ln(GREATEST(n_new / t_n, 1e-6) / GREATEST(n_old / t_o, 1e-6)),
                 6) AS psi_term
    FROM j CROSS JOIN tot
    """,
    tags=("agg", "quality", "analytics"),
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift gate (operators/stats.py::
    psi_drift): the distribution of order totals in a simulated
    repriced-by-25% snapshot against the baseline split, over FIXED bin
    edges (never data-derived quantiles — fixed edges are what makes PSI
    reproducible across engines, runs, and time). Emits the full per-bin
    decomposition (counts, eps-floored proportions, psi terms); the
    headline Σpsi_term is what a feature-drift monitor thresholds at
    0.1/0.25. Deliberate drift: a uniform +25% reprice shifts mass up a
    bin wherever a bin edge falls inside the scaled range, so several
    terms are decisively non-zero."""
    from weather_api_automate_etl_spark.operators import stats

    orders = t(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_totalprice")
    )
    new = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        (F.col("o_totalprice") * F.lit(1.25)).alias("o_totalprice")
    )
    return stats.psi_drift(old, new, "o_totalprice", list(_PSI_EDGES))


@query(
    "q_ks_drift",
    oracle="""
    WITH a AS (
      SELECT o_totalprice AS v FROM orders
      WHERE o_orderkey % 2 = 0 AND o_totalprice IS NOT NULL
    ),
    b AS (
      SELECT o_totalprice * 1.25 AS v FROM orders
      WHERE o_orderkey % 2 = 1 AND o_totalprice IS NOT NULL
    ),
    p AS (
      SELECT v, 1 AS ca, 0 AS cb FROM a
      UNION ALL SELECT v, 0, 1 FROM b
    ),
    g AS (SELECT v, SUM(ca) AS na, SUM(cb) AS nb FROM p GROUP BY v),
    c AS (
      SELECT SUM(na) OVER (ORDER BY v) AS cum_a,
             SUM(nb) OVER (ORDER BY v) AS cum_b
      FROM g
    ),
    t AS (
      SELECT CAST(SUM(na) AS DOUBLE) AS n_a,
             CAST(SUM(nb) AS DOUBLE) AS n_b
      FROM g
    )
    SELECT CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           ROUND(MAX(ABS(cum_a / n_a - cum_b / n_b)), 6) AS d_stat
    FROM c CROSS JOIN t
    GROUP BY n_a, n_b
    """,
    tags=("agg", "quality", "analytics"),
)
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic (operators/stats.py::
    ks_two_sample) on the same constructed shift as q_psi_drift (baseline
    split vs +25% reprice): D = sup|F_a − F_b| over the pooled observed
    values — PSI's nonparametric sibling, exact with no binning choice.
    The cumulative window runs over distinct VALUES (value-cardinality,
    not rows); totals ride a 1-row broadcast. Integer-count ratios make
    the ECDFs bit-identical across engines, so the single-row readout
    hash-matches with only the final round."""
    from weather_api_automate_etl_spark.operators import stats

    orders = t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_totalprice")
    )
    b = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        (F.col("o_totalprice") * F.lit(1.25)).alias("o_totalprice")
    )
    return stats.ks_two_sample(a, b, "o_totalprice")


@query(
    "q_seasonal_decompose",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM events
      WHERE event_type IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1, 2
    ),
    tr AS (
      SELECT event_type, day, y,
             CASE WHEN COUNT(y) OVER w = 7
                  THEN ROUND(AVG(y) OVER w, 6) END AS trend,
             CAST(date_diff('day', DATE '1970-01-01', day) % 7 AS INTEGER) AS ph
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    pm AS (
      SELECT event_type, ph,
             (CAST(SUM(CAST(ROUND((y - trend) * 1e6, 0) AS BIGINT)) AS DOUBLE)
              / COUNT(*)) / 1e6 AS pmv
      FROM tr WHERE trend IS NOT NULL GROUP BY 1, 2
    ),
    gm AS (SELECT event_type, AVG(pmv) AS gmv FROM pm GROUP BY 1),
    eff AS (
      SELECT pm.event_type, ph, ROUND(pmv - gmv, 6) AS seasonal
      FROM pm JOIN gm USING (event_type)
    )
    SELECT t.event_type, t.day, t.y, t.trend,
           CASE WHEN t.trend IS NOT NULL THEN e.seasonal END AS seasonal,
           CASE WHEN t.trend IS NOT NULL
                THEN ROUND(t.y - t.trend - e.seasonal, 6) END AS residual
    FROM tr t LEFT JOIN eff e
      ON e.event_type = t.event_type AND e.ph = t.ph
    """,
    tags=("timeseries", "windows", "analytics"),
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of the daily event-count series
    per type (operators/timeseries.py::seasonal_decompose, period 7):
    y = centered-MA trend + phase-mean weekly seasonal (centered to sum
    ~0) + residual, with NULL trend/seasonal/residual on the half-window
    edges where the decomposition is undefined. Every interface is
    round-6-clamped, so the full window+aggregate pipeline hash-matches
    the declarative twin; identity (y = t+s+r where defined) and
    gap-robust phase anchoring are pinned in tests/test_wave4.py."""
    from weather_api_automate_etl_spark.operators import timeseries

    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    return timeseries.seasonal_decompose(
        daily, "event_type", "day", "y", period=7
    )
