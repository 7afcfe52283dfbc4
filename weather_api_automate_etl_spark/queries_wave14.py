"""Round-8 fourteenth-wave queries: multi-writer ledger
semantics plus the round-8 operator additions.

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.queries import query, scratch, t

# ---------------------------------------------------------------------------
# time travel: one table, two pinned versions, one answer
# ---------------------------------------------------------------------------


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
    tags=("cdc", "ledger"),
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


# ---------------------------------------------------------------------------
# RESTORE: metadata-only rollback as a forward commit
# ---------------------------------------------------------------------------


@query(
    "q_ledger_restore",
    oracle="""
    SELECT strftime(o_orderdate, '%Y') AS o_year,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY o_year
    """,
    tags=("cdc", "ledger"),
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


# ---------------------------------------------------------------------------
# optimistic concurrency: two real writers, disjoint partitions, no locks
# ---------------------------------------------------------------------------


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
    tags=("cdc", "ledger"),
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


# ---------------------------------------------------------------------------
# VACUUM: retention drops superseded versions and orphaned data dirs
# ---------------------------------------------------------------------------


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
    tags=("cdc", "ledger"),
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


# ---------------------------------------------------------------------------
# IVF + PQ: coarse routing over compressed codes — the composed disk-ANN
# ---------------------------------------------------------------------------


@query(
    "q_ann_ivfpq",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    coarse AS (
      SELECT row_number() OVER (ORDER BY vec_id) AS g, e AS ce
      FROM v ORDER BY vec_id LIMIT 4
    ),
    q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
    assign AS (
      SELECT v.vec_id, v.e, coarse.g,
             CAST(floor(list_sum(list_transform(range(1, 65),
                  i -> (v.e[i] - coarse.ce[i]) * (v.e[i] - coarse.ce[i])))
                  * 1e9 + 0.5) AS BIGINT) AS d9
      FROM v CROSS JOIN coarse
    ),
    cell AS (
      SELECT vec_id, e, g FROM assign
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d9, g) = 1
    ),
    qcell AS (
      SELECT coarse.g,
             CAST(floor(list_sum(list_transform(range(1, 65),
                  i -> (q.qe[i] - coarse.ce[i]) * (q.qe[i] - coarse.ce[i])))
                  * 1e9 + 0.5) AS BIGINT) AS d9
      FROM q CROSS JOIN coarse
    ),
    probe AS (SELECT g FROM qcell ORDER BY d9, g LIMIT 2),
    cand AS (SELECT vec_id, e, g FROM cell JOIN probe USING (g)),
    cb AS (
      SELECT row_number() OVER (ORDER BY vec_id) AS j, e
      FROM v ORDER BY vec_id LIMIT 8
    ),
    ms AS (SELECT UNNEST([0, 1, 2, 3]) AS m),
    dists AS (
      SELECT cand.vec_id, ms.m, cb.j,
             CAST(floor(list_sum(list_transform(range(1, 17),
                  i -> (cand.e[ms.m * 16 + i] - cb.e[ms.m * 16 + i])
                     * (cand.e[ms.m * 16 + i] - cb.e[ms.m * 16 + i])))
                  * 1e9 + 0.5) AS BIGINT) AS dist9
      FROM cand CROSS JOIN ms CROSS JOIN cb
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
    SELECT w.vec_id, cand.g AS ivf_cell, w.c1, w.c2, w.c3, w.c4,
           floor((((t0.qdist + t1.qdist) + t2.qdist) + t3.qdist)
                 * 1e9 + 0.5) / 1e9 AS adc_dist
    FROM codes_w w
    JOIN cand ON cand.vec_id = w.vec_id
    JOIN qd t0 ON t0.m = 0 AND t0.j = w.c1
    JOIN qd t1 ON t1.m = 1 AND t1.j = w.c2
    JOIN qd t2 ON t2.m = 2 AND t2.j = w.c3
    JOIN qd t3 ON t3.m = 3 AND t3.j = w.c4
    ORDER BY adc_dist, w.vec_id LIMIT 10
    """,
    tags=("similarity",),
)
def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ — the composed production disk-ANN shape (FAISS
    IVFADC's non-residual sibling; Jégou et al. TPAMI 2011 §V): a
    4-centroid coarse quantizer routes every vector to its inverted
    list, the query probes only the 2 nearest cells (at scale: partition
    pruning via the same on-disk bucketed layout as q_ann_ivf_bucketed,
    so unprobed cells are never read), and WITHIN the probed cells the
    scan runs over PQ codes with asymmetric distance — 4 literal-table
    lookups per row instead of a 64-dim float walk. Coarse assignment
    reuses pq_encode with the coarse centroids as a 1-subspace codebook
    (argmin over clamped integer-nano distances — the identical
    arithmetic both engines share); the probe-set choice repeats that
    arithmetic driver-side on k·d floats. Everything stays whole-stage
    codegen: no Python, no shuffle before the TakeOrdered top-10. The
    oracle reproduces routing, codes, ADC values, and the result set
    exactly."""
    from weather_api_automate_etl_spark.operators import embeddings as emb_ops

    emb = t(spark, sf_dir, "embeddings")
    coarse = emb_ops.pq_sampled_codebooks(emb, "vec_id", "embedding", 1, 4)
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    # route: coarse assignment IS pq_encode with one full-dim subspace
    cells = emb_ops.pq_encode(
        emb, "vec_id", "embedding", coarse, clamp_digits=9
    ).select("vec_id", F.element_at("pq_codes", 1).alias("ivf_cell"))
    # probe choice: the same clamped arithmetic on k·d driver-side floats
    def _d9(a: list[float], b: list[float]) -> int:
        s = 0.0
        for x, y in zip(a, b):
            s += (x - y) * (x - y)
        import math

        return int(math.floor(s * 1e9 + 0.5))

    ranked = sorted(
        (( _d9(qvec, c), g + 1) for g, c in enumerate(coarse[0])),
    )
    probe = [g for _, g in ranked[:2]]
    cand = emb.join(
        F.broadcast(cells.filter(F.col("ivf_cell").isin(probe))), "vec_id"
    )
    cbs = emb_ops.pq_sampled_codebooks(emb, "vec_id", "embedding", 4, 8)
    codes = emb_ops.pq_encode(
        cand, "vec_id", "embedding", cbs, clamp_digits=9
    )
    top = emb_ops.pq_adc_topk(codes, "vec_id", qvec, cbs, 10, clamp_digits=9)
    return (
        top.join(codes, "vec_id")
        .join(cand.select("vec_id", "ivf_cell"), "vec_id")
        .select(
            "vec_id",
            F.col("ivf_cell").cast("long").alias("ivf_cell"),
            F.element_at("pq_codes", 1).alias("c1"),
            F.element_at("pq_codes", 2).alias("c2"),
            F.element_at("pq_codes", 3).alias("c3"),
            F.element_at("pq_codes", 4).alias("c4"),
            "adc_dist",
        )
    )


# ---------------------------------------------------------------------------
# APPLY CHANGES INTO: collapse an out-of-order I/U/D log to final state
# ---------------------------------------------------------------------------


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
    tags=("cdc",),
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


# ---------------------------------------------------------------------------
# CCNet perplexity buckets: head / middle / tail by LM score
# ---------------------------------------------------------------------------


@query(
    "q_perplexity_buckets",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
      FROM documents
    ),
    freq AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
    stats AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM freq),
    scored AS (
      SELECT doc_id,
             ROUND(AVG(-ln((c + 1.0) /
               ((SELECT n FROM stats) + (SELECT v FROM stats)))), 6)
               AS avg_neg_logprob
      FROM tok JOIN freq USING (t)
      GROUP BY doc_id
    ),
    bucketed AS (
      SELECT doc_id, avg_neg_logprob,
             NTILE(3) OVER (ORDER BY avg_neg_logprob, doc_id) AS tercile
      FROM scored
    )
    SELECT CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                        ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(avg_neg_logprob), 6) AS mean_score,
           MIN(avg_neg_logprob) AS min_score,
           MAX(avg_neg_logprob) AS max_score
    FROM bucketed GROUP BY bucket
    """,
    tags=("text",),
)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet head/middle/tail split (Wenzek et al., LREC 2020 §3.3):
    every document scores against the corpus's own unigram LM
    (operators/textops.py::unigram_logprob — in CCNet the LM is KenLM
    over Wikipedia; the bucketing mechanics are identical), documents
    rank by score, and the corpus splits into terciles — 'head' is the
    cleanest third that trains first, 'tail' gets filtered or
    down-weighted. NTILE over a rounded score with a doc-id tie-break
    keeps the cut deterministic on both engines. Scale shape: the LM
    scoring is the proven two-shuffle unigram path; the tercile is ONE
    global sort of (score, id) pairs — at 100 TB the production cut
    swaps NTILE for approx-quantile thresholds (percentile_approx over
    the same scores), trading exactness for a sort-free broadcast
    filter, which is why the bucket boundary, not the mechanism, is the
    only thing that changes at scale."""
    from weather_api_automate_etl_spark.operators import textops
    from pyspark.sql.window import Window

    scored = textops.unigram_logprob(t(spark, sf_dir, "documents")).select(
        "doc_id", "avg_neg_logprob"
    )
    w = Window.orderBy(F.col("avg_neg_logprob"), F.col("doc_id"))
    bucketed = scored.withColumn("tercile", F.ntile(3).over(w))
    return (
        bucketed.groupBy(
            F.when(F.col("tercile") == 1, F.lit("head"))
            .when(F.col("tercile") == 2, F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("avg_neg_logprob"), 6).alias("mean_score"),
            F.min("avg_neg_logprob").alias("min_score"),
            F.max("avg_neg_logprob").alias("max_score"),
        )
    )
