"""Round-8 fifteenth-wave queries: the streaming CDC
consumer, residual product quantization, and the nonparametric test.

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.queries import query, scratch, t

# ---------------------------------------------------------------------------
# streaming CDC consumer: APPLY CHANGES INTO the ledger, exactly-once
# ---------------------------------------------------------------------------


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
    tags=("cdc", "ledger", "streaming"),
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
        # Stage ALL THREE shipments in one scan + one partitioned write
        # (round 13, guide §1.2): a row lands in every range that covers
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


# ---------------------------------------------------------------------------
# IVFADC: residual product quantization with per-cell distance tables
# ---------------------------------------------------------------------------


def _d9(a: list[float], b: list[float]) -> int:
    """Driver-side twin of the clamped squared distance: left-to-right
    IEEE double sum, floor(d·1e9 + 0.5) — the one arithmetic all three
    engines (Spark expression, DuckDB list_sum, Python loop) share."""
    s = 0.0
    for x, y in zip(a, b):
        s += (x - y) * (x - y)
    return int(math.floor(s * 1e9 + 0.5))


@query(
    "q_ann_ivfadc",
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
      SELECT v.vec_id, v.e, coarse.g, coarse.ce,
             CAST(floor(list_sum(list_transform(range(1, 65),
                  i -> (v.e[i] - coarse.ce[i]) * (v.e[i] - coarse.ce[i])))
                  * 1e9 + 0.5) AS BIGINT) AS d9
      FROM v CROSS JOIN coarse
    ),
    cell AS (
      SELECT vec_id, e, g, ce FROM assign
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d9, g) = 1
    ),
    resid AS (
      SELECT vec_id, g,
             list_transform(range(1, 65), i -> e[i] - ce[i]) AS r
      FROM cell
    ),
    qcell AS (
      SELECT coarse.g,
             CAST(floor(list_sum(list_transform(range(1, 65),
                  i -> (q.qe[i] - coarse.ce[i]) * (q.qe[i] - coarse.ce[i])))
                  * 1e9 + 0.5) AS BIGINT) AS d9
      FROM q CROSS JOIN coarse
    ),
    probe AS (SELECT g FROM qcell ORDER BY d9, g LIMIT 2),
    cand AS (SELECT resid.vec_id, resid.g, resid.r
             FROM resid JOIN probe USING (g)),
    cb AS (
      SELECT row_number() OVER (ORDER BY vec_id) AS j, r
      FROM resid ORDER BY vec_id LIMIT 8
    ),
    ms AS (SELECT UNNEST([0, 1, 2, 3]) AS m),
    dists AS (
      SELECT cand.vec_id, ms.m, cb.j,
             CAST(floor(list_sum(list_transform(range(1, 17),
                  i -> (cand.r[ms.m * 16 + i] - cb.r[ms.m * 16 + i])
                     * (cand.r[ms.m * 16 + i] - cb.r[ms.m * 16 + i])))
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
    qresid AS (
      SELECT probe.g,
             list_transform(range(1, 65), i -> q.qe[i] - coarse.ce[i]) AS qr
      FROM q CROSS JOIN coarse JOIN probe USING (g)
    ),
    qd AS (
      SELECT qresid.g, ms.m, cb.j,
             list_sum(list_transform(range(1, 17),
                  i -> (qresid.qr[ms.m * 16 + i] - cb.r[ms.m * 16 + i])
                     * (qresid.qr[ms.m * 16 + i] - cb.r[ms.m * 16 + i])))
               AS qdist
      FROM qresid CROSS JOIN ms CROSS JOIN cb
    )
    SELECT w.vec_id, CAST(cand.g AS BIGINT) AS ivf_cell,
           w.c1, w.c2, w.c3, w.c4,
           floor((((t0.qdist + t1.qdist) + t2.qdist) + t3.qdist)
                 * 1e9 + 0.5) / 1e9 AS adc_dist
    FROM codes_w w
    JOIN cand ON cand.vec_id = w.vec_id
    JOIN qd t0 ON t0.g = cand.g AND t0.m = 0 AND t0.j = w.c1
    JOIN qd t1 ON t1.g = cand.g AND t1.m = 1 AND t1.j = w.c2
    JOIN qd t2 ON t2.g = cand.g AND t2.m = 2 AND t2.j = w.c3
    JOIN qd t3 ON t3.g = cand.g AND t3.m = 3 AND t3.j = w.c4
    ORDER BY adc_dist, w.vec_id LIMIT 10
    """,
    tags=("similarity",),
)
def q_ann_ivfadc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE IVFADC (Jégou et al. TPAMI 2011 §V.A — the FAISS
    ``IVFx,PQy`` index): unlike q_ann_ivfpq's plain-PQ-within-cells,
    every vector encodes its RESIDUAL against its coarse cell's
    centroid, which is what makes the codes sharp — residuals cluster
    near zero, so the same 8-codeword budget quantizes a much tighter
    distribution. The price is that the query's ADC distance table
    depends on the CELL (query residual differs per probed centroid):
    with nprobe=2 the scan branches between two literal tables via
    ``F.when`` on the routing column — still whole-stage codegen, zero
    Python, zero shuffle before the TakeOrdered top-10. Residuals are
    exact double subtractions and every comparison clamps to integer
    nanos, so the oracle reproduces routing, residuals, codebooks,
    codes, per-cell tables, and the top-10 bit-exactly."""
    from weather_api_automate_etl_spark.operators import embeddings as emb_ops

    emb = t(spark, sf_dir, "embeddings")
    coarse = emb_ops.pq_sampled_codebooks(emb, "vec_id", "embedding", 1, 4)
    cents = coarse[0]
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    cells = emb_ops.pq_encode(
        emb, "vec_id", "embedding", coarse, clamp_digits=9
    ).select("vec_id", F.element_at("pq_codes", 1).alias("ivf_cell"))
    probe = [
        g
        for _, g in sorted(
            (_d9(qvec, c), g + 1) for g, c in enumerate(cents)
        )[:2]
    ]
    cent_lit = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in cents]
    )
    e_dbl = F.transform("embedding", lambda x: x.cast("double"))
    cand = (
        emb.join(F.broadcast(cells), "vec_id")
        .filter(F.col("ivf_cell").isin(probe))
        .withColumn(
            "resid",
            F.zip_with(
                e_dbl,
                F.element_at(cent_lit, F.col("ivf_cell")),
                lambda x, c: x - c,
            ),
        )
    )
    # residual codebooks: the 8 smallest ids' residuals vs their OWN cell
    # (the oracle's cb CTE) — driver-side k·d floats, same clamp argmin
    rows8 = (
        emb.select("vec_id", "embedding").orderBy("vec_id").limit(8).collect()
    )
    resid_cbs: list[list[list[float]]] = [[] for _ in range(4)]
    for r in rows8:
        e = [float(x) for x in r["embedding"]]
        g = min(range(4), key=lambda i: (_d9(e, cents[i]), i))
        resid_full = [x - c for x, c in zip(e, cents[g])]
        for m in range(4):
            resid_cbs[m].append(resid_full[m * 16 : (m + 1) * 16])
    codes = emb_ops.pq_encode(
        cand, "vec_id", "resid", resid_cbs, clamp_digits=9
    )
    qresid = {
        g: [x - c for x, c in zip(qvec, cents[g - 1])] for g in probe
    }
    adc = F.when(
        F.col("ivf_cell") == probe[0],
        emb_ops.pq_adc_expr(qresid[probe[0]], resid_cbs, clamp_digits=9),
    ).otherwise(
        emb_ops.pq_adc_expr(qresid[probe[1]], resid_cbs, clamp_digits=9)
    )
    scored = codes.join(
        F.broadcast(cand.select("vec_id", "ivf_cell")), "vec_id"
    ).select("vec_id", "ivf_cell", "pq_codes", adc.alias("adc_dist"))
    return (
        scored.orderBy("adc_dist", "vec_id")
        .limit(10)
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
# Mann-Whitney U: the nonparametric two-sample test
# ---------------------------------------------------------------------------


@query(
    "q_mann_whitney",
    oracle="""
    WITH x AS (
      SELECT value AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    vals AS (
      SELECT v, COUNT(*) AS cnt, SUM(is_a) AS cnt_a FROM x GROUP BY v
    ),
    ranked AS (
      SELECT cnt, cnt_a,
             COALESCE(SUM(cnt) OVER (
               ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cum_before
      FROM vals
    ),
    agg AS (
      SELECT SUM(cnt_a * (cum_before + (cnt + 1) / 2.0)) AS r1,
             CAST(SUM(cnt_a) AS DOUBLE) AS n1,
             CAST(SUM(cnt) AS DOUBLE) AS n,
             SUM(CAST(cnt AS DOUBLE) * cnt * cnt - cnt) AS tie_term
      FROM ranked
    )
    SELECT CAST(n1 AS BIGINT) AS n1,
           CAST(n - n1 AS BIGINT) AS n2,
           r1 - n1 * (n1 + 1) / 2.0 AS u1,
           ROUND((r1 - n1 * (n1 + 1) / 2.0 - n1 * (n - n1) / 2.0)
                 / sqrt((n1 * (n - n1) / 12.0)
                        * ((n + 1) - tie_term / (n * (n - 1.0)))), 6)
             AS z_score
    FROM agg
    """,
    tags=("stats",),
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U / Wilcoxon rank-sum (operators/stats.py::
    mann_whitney_u): click vs purchase event values compared
    nonparametrically — average-rank ties, tie-corrected normal
    approximation. Ranks come from the DISTINCT-VALUE domain (one
    value-keyed aggregate + one running-sum window over distinct
    values), never a per-row global rank, so the sort the test needs is
    value-domain-sized. U₁ is exact double arithmetic (halves of
    integers) and hashes unrounded; z rounds to 6."""
    from weather_api_automate_etl_spark.operators.stats import mann_whitney_u

    return mann_whitney_u(
        t(spark, sf_dir, "events"), "value", "event_type", "click", "purchase"
    )


# ---------------------------------------------------------------------------
# SHALLOW CLONE: zero-copy fork, copy-on-write divergence
# ---------------------------------------------------------------------------


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
    tags=("cdc", "ledger"),
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


# ---------------------------------------------------------------------------
# CHECK constraints: write-time invariants on the ledger
# ---------------------------------------------------------------------------


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
    tags=("cdc", "ledger", "quality"),
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


# ---------------------------------------------------------------------------
# stream-stream LEFT OUTER join: watermark-gated null-padded emission
# ---------------------------------------------------------------------------


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
    tags=("streaming", "joins"),
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

    from weather_api_automate_etl_spark.streaming import events as stream_events

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
            # restarted drain (round-13: the former per-shipment drain added
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


# ---------------------------------------------------------------------------
# DESCRIBE HISTORY: the commit audit log, reproducible and hash-stable
# ---------------------------------------------------------------------------


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
    tags=("cdc", "ledger"),
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


# ---------------------------------------------------------------------------
# conditional MERGE: the full WHEN MATCHED / NOT MATCHED grammar
# ---------------------------------------------------------------------------


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
    tags=("cdc",),
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


# ---------------------------------------------------------------------------
# deterministic k-fold cross-validation splits
# ---------------------------------------------------------------------------


@query(
    "q_kfold",
    oracle="""
    WITH folded AS (
      SELECT CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS UBIGINT) % 5 AS INTEGER) AS fold,
             lang, n_chars
      FROM documents
    )
    SELECT fold,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           ROUND(AVG(n_chars), 6) AS avg_chars
    FROM folded GROUP BY fold
    """,
    tags=("sampling", "mlprep"),
)
def q_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment
    (operators/sampling.py::kfold_assign): fold = content-hash(doc_id)
    mod 5, a pure function of the data — identical across engines,
    reruns, and repartitionings, so fold boundaries never drift between
    pipeline versions (the same replayability contract as
    q_holdout_split). Per-fold size, language coverage, and mean length
    summarize balance; training fold i is a pushed-down ``fold != i``
    scan predicate, zero shuffle."""
    from weather_api_automate_etl_spark.operators import sampling

    folded = sampling.kfold_assign(t(spark, sf_dir, "documents"), "doc_id", 5)
    return folded.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )


# ---------------------------------------------------------------------------
# k-anonymity audit: the structured-privacy release gate
# ---------------------------------------------------------------------------


@query(
    "q_k_anonymity",
    oracle="""
    SELECT c_mktsegment, c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS class_size
    FROM customer
    GROUP BY c_mktsegment, c_nationkey
    HAVING COUNT(*) < 10
    """,
    tags=("privacy", "quality"),
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (operators/privacy.py::k_anonymity_violations —
    Sweeney 2002): customers quasi-identified by (market segment,
    nation); every equivalence class smaller than k=10 is a
    re-identification risk the release must suppress or generalize.
    Complements the regex-level PII redaction (q_pii_redact): redaction
    removes direct identifiers, k-anonymity catches the JOIN attack on
    what remains — both gates a training-data release pipeline runs.
    One hash aggregate on the quasi columns; empty result = certified
    at level k."""
    from weather_api_automate_etl_spark.operators import privacy

    return privacy.k_anonymity_violations(
        t(spark, sf_dir, "customer"), ["c_mktsegment", "c_nationkey"], 10
    ).select("c_mktsegment", "c_nationkey", F.col("class_size").cast("long").alias("class_size"))


# ---------------------------------------------------------------------------
# tokenizer fertility by language: the cost model input
# ---------------------------------------------------------------------------


def _bpe_fertility_oracle() -> str:
    from weather_api_automate_etl_spark.queries_wave13 import (
        _bpe_encode_oracle,
    )

    return f"""
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(e.n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(e.n_symbols) AS BIGINT) AS n_symbols,
           ROUND(SUM(e.n_symbols) * 1.0 / SUM(e.n_tokens), 6)
             AS symbols_per_token,
           ROUND(SUM(e.n_symbols) * 1.0 / SUM(e.n_chars), 6) AS compression
    FROM ({_bpe_encode_oracle()}) e
    JOIN documents d USING (doc_id)
    GROUP BY d.lang
    """


@query("q_bpe_fertility", oracle=_bpe_fertility_oracle(), tags=("text",))
def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY by language — the per-language cost-model
    input every multilingual pipeline budgets with: after the corpus
    learns its merge table (q_bpe_merge_table) and encodes
    (q_bpe_encode), symbols-per-whitespace-token and symbols-per-char
    aggregate by language. A language the tokenizer serves poorly shows
    high fertility — it pays more sequence length per word, trains on
    fewer effective documents per token budget, and is the first place
    a vocab rebalance looks. Pure composition of the proven encode plan
    plus one broadcast join to the lang column and one aggregate; the
    ratios divide exact integer sums, so they are bit-identical
    cross-engine under round(6)."""
    from weather_api_automate_etl_spark.operators import textops
    from weather_api_automate_etl_spark.queries_wave11 import _BPE_SYMBOLS

    docs = t(spark, sf_dir, "documents")
    table = textops.bpe_merge_rounds(
        docs, n_rounds=3, placeholders=_BPE_SYMBOLS
    )
    enc = textops.bpe_encode(docs, table, _BPE_SYMBOLS, n_rounds=3)
    return (
        enc.join(F.broadcast(docs.select("doc_id", "lang")), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("n_symbols").cast("long").alias("n_symbols"),
            F.round(
                F.sum("n_symbols") * F.lit(1.0) / F.sum("n_tokens"), 6
            ).alias("symbols_per_token"),
            F.round(
                F.sum("n_symbols") * F.lit(1.0) / F.sum("n_chars"), 6
            ).alias("compression"),
        )
    )
