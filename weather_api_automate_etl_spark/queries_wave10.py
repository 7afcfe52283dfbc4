"""Round-6 tenth-wave queries: streaming MERGE into a partitioned mart
(the continuously-maintained-mart production pattern), k-core graph
cleanup with a recursive-CTE oracle, and algebraic pre-aggregate reuse —
the maintenance patterns a 100 TB deployment runs daily.

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.queries import query, scratch, t
from weather_api_automate_etl_spark.queries_ext import (
    _MINHASH_SIG_SQL,
    _staged_event_stream,
)
from weather_api_automate_etl_spark.streaming import events as stream_events

# ---------------------------------------------------------------------------
# streaming MERGE sink — the continuously-maintained mart
# ---------------------------------------------------------------------------


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
    tags=("streaming", "cdc"),
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


# ---------------------------------------------------------------------------
# k-core cleanup of the near-dup pair graph
# ---------------------------------------------------------------------------


def _kcore_oracle(k: int = 2) -> str:
    deg_in_r = (
        "(SELECT COUNT(*) FROM edges e"
        " WHERE e.src = {n}.src AND e.dst IN (SELECT src FROM r))"
    )
    return (
        _MINHASH_SIG_SQL.replace("WITH base", "WITH RECURSIVE base", 1)
        + f"""
    , pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sig a JOIN sig b
        ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    r(src, i) AS (
      SELECT DISTINCT src, 0 FROM edges
      UNION ALL
      SELECT n.src, n.i + 1
      FROM r n
      WHERE {deg_in_r.format(n="n")} >= {k}
        AND EXISTS (
          SELECT 1 FROM r v WHERE {deg_in_r.format(n="v")} < {k}
        )
    ),
    core AS (SELECT src FROM r WHERE i = (SELECT MAX(i) FROM r))
    SELECT c.src AS doc_id,
           CAST((SELECT COUNT(*) FROM edges e
                 WHERE e.src = c.src
                   AND e.dst IN (SELECT src FROM core)) AS BIGINT)
             AS core_degree
    FROM core c
    """
    )


@query("q_kcore", oracle=_kcore_oracle(), tags=("dedup", "graph"))
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the MinHash near-dup pair graph (operators/graph.py::
    k_core): synchronous peeling removes every node of remaining-degree
    < 2 per round until the fixpoint — separating dense template/
    boilerplate families (which survive) from the chains and stragglers
    LSH noise strings together (which peel away; connected components
    alone cannot tell these apart). Synchronous removal is order-
    independent, so the fixpoint is deterministic and the oracle runs the
    SAME peeling as a recursive CTE (the q_pagerank_converged discipline:
    the twin derives its own round count from the data). Sparse fixtures
    may legitimately have an empty 2-core."""
    from weather_api_automate_etl_spark.operators import dedup, graph

    docs = t(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=8, band_size=2)
    pairs = dedup.minhash_candidate_pairs(sig, "doc_id")
    return graph.k_core(pairs, k=2, node_id="doc_id")


# ---------------------------------------------------------------------------
# algebraic pre-aggregate reuse (daily rollup answers weekly)
# ---------------------------------------------------------------------------


@query(
    "q_preagg_reuse",
    oracle="""
    SELECT CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week,
           event_type,
           CAST(COUNT(value) AS BIGINT) AS n_values,
           ROUND(SUM(value), 6) AS sum_value,
           ROUND(SUM(value) / NULLIF(COUNT(value), 0), 6) AS mean_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("agg", "timeseries"),
)
def q_preagg_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Algebraic pre-aggregate reuse — the rollup-maintenance pattern: a
    DAILY partial-aggregate table (count, sum per (day, type)) answers the
    WEEKLY question by re-aggregating 365 rows/year instead of rescanning
    the event log, and the mean derives from merged sums (never an
    average of averages — the classic non-algebraic bug this query's
    oracle would catch, since it aggregates the raw events directly).
    At 100 TB this is the difference between a dashboard query touching
    kilobytes of rollup vs terabytes of log."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(
        F.count(F.col("value")).alias("n"),
        F.sum("value").alias("s"),
    )
    return (
        daily.groupBy(
            F.date_trunc("week", F.col("day")).cast("date").alias("week"),
            "event_type",
        )
        .agg(
            F.sum("n").cast("long").alias("n_values"),
            F.round(F.sum("s"), 6).alias("sum_value"),
            F.round(
                F.sum("s") / F.nullif(F.sum("n").cast("double"), F.lit(0.0)), 6
            ).alias("mean_value"),
        )
    )

# ---------------------------------------------------------------------------
# top-axis PCA projection via fixed-round power iteration (hash-oracle-able)
# ---------------------------------------------------------------------------

_POWER_ROUNDS = 100


def _pca_power_oracle(rounds: int = _POWER_ROUNDS) -> str:
    return f"""
    WITH RECURSIVE x AS (
      SELECT vec_id, CAST(i AS INTEGER) AS i,
             CAST(embedding[CAST(i AS INTEGER) + 1] AS DOUBLE) AS xv
      FROM embeddings, UNNEST(range(0, len(embedding))) AS u(i)
    ),
    cov_ut AS (
      SELECT a.i, b.i AS j,
             ROUND((SUM(a.xv * b.xv) - SUM(a.xv) * SUM(b.xv) / COUNT(*))
                   / NULLIF(COUNT(*) - 1, 0), 6) + 0.0 AS cov
      FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY a.i, b.i
    ),
    cov AS (
      SELECT i, j, cov FROM cov_ut
      UNION ALL SELECT j, i, cov FROM cov_ut WHERE i <> j
    ),
    dims AS (SELECT DISTINCT i FROM cov_ut),
    nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS d FROM dims),
    r(i, v, t) AS (
      SELECT i, 1.0e0 / sqrt((SELECT d FROM nd)), 0 FROM dims
      UNION ALL
      SELECT m.i,
             m.mv / (SELECT sqrt(SUM(m2.mv * m2.mv)) FROM (
               SELECT c2.i, SUM(c2.cov * t2.v) AS mv
               FROM cov c2 JOIN r t2 ON t2.i = c2.j GROUP BY c2.i
             ) m2),
             (SELECT MAX(t3.t) FROM r t3) + 1
      FROM (
        SELECT c.i, SUM(c.cov * t1.v) AS mv
        FROM cov c JOIN r t1 ON t1.i = c.j GROUP BY c.i
      ) m
      WHERE (SELECT MAX(t4.t) FROM r t4) < {rounds}
    ),
    axis AS (SELECT i, ROUND(v, 6) AS v FROM r WHERE t = {rounds}),
    mu AS (SELECT i, ROUND(AVG(xv), 6) AS m FROM x GROUP BY i)
    SELECT x.vec_id,
           ROUND(SUM(x.xv * axis.v) - (SELECT SUM(m2.m * a2.v)
                                       FROM mu m2 JOIN axis a2 USING (i)), 6)
             + 0.0 AS pc1
    FROM x JOIN axis USING (i)
    GROUP BY x.vec_id
    """


@query(
    "q_pca_power_project",
    oracle=_pca_power_oracle(),
    tags=("similarity", "mlprep"),
)
def q_pca_power_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-principal-axis projection via FIXED-ROUND power iteration
    (operators/embeddings.py::pca_power_project) — the hash-oracle-able
    member of the PCA family (q_pca_project's full eigh stays rows-only;
    this query gives the family exact cross-engine evidence). Both
    engines run exactly 100 v ← Cv/‖Cv‖ steps from the same 1/√d start
    over the same round-6-clamped covariance — determinism needs no
    convergence assumption — and the axis is clamped to 6 digits before
    the map-only broadcast-literal projection. The oracle runs the same
    iteration as a recursive CTE over the (i, j, cov) matrix."""
    from weather_api_automate_etl_spark.operators import embeddings as emb_ops

    return emb_ops.pca_power_project(
        t(spark, sf_dir, "embeddings"), "embedding", rounds=_POWER_ROUNDS
    )
