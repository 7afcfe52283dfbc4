"""Round-6 eleventh-wave queries: watermark/late-data accounting (the
batch twin of streaming eviction semantics), the multi-round BPE merge
table, and per-group mode — filling the remaining everyday-surface gaps.

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from weather_api_automate_etl_spark.queries import query, scratch, t
from weather_api_automate_etl_spark.queries_wave9 import _BPE_PAIRS_SQL

# ---------------------------------------------------------------------------
# late-data accounting — the batch twin of streaming watermark eviction
# ---------------------------------------------------------------------------


@query(
    "q_late_events",
    oracle="""
    WITH arr AS (
      SELECT event_type, CAST(ts AS TIMESTAMP) AS ts,
             MAX(CAST(ts AS TIMESTAMP)) OVER (
               PARTITION BY event_type ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS hwm
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(CASE WHEN hwm IS NULL OR ts >= hwm THEN 1 END) AS BIGINT)
             AS n_on_time,
           CAST(COUNT(CASE WHEN ts < hwm
                            AND ts + INTERVAL 10 MINUTE >= hwm THEN 1 END)
                AS BIGINT) AS n_late_accepted,
           CAST(COUNT(CASE WHEN ts + INTERVAL 10 MINUTE < hwm THEN 1 END)
                AS BIGINT) AS n_dropped
    FROM arr GROUP BY event_type
    """,
    tags=("timeseries", "streaming", "windows"),
)
def q_late_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data accounting against a per-stream high-water mark — the
    BATCH derivation of what a 10-minute streaming watermark would do to
    this data: events are replayed in arrival order (event_id) per
    event_type, the running max event-time is the watermark source, and
    each event classifies as on-time (advances or equals the HWM), late
    but within the 10-minute tolerance (accepted, state still open), or
    beyond it (dropped at eviction). Classification is pure interval
    comparison — no epoch extraction, so the TIMESTAMP_NTZ ns-precision
    fixture can't diverge across engines (the DST/date_diff trap from the
    round-5 notes). The capacity-planning readout before choosing a
    production watermark delay. Per-type windows, never a global order."""
    ev = t(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hwm = F.max("ts").over(w)
    tol = F.expr("INTERVAL 10 MINUTE")
    arr = ev.select(
        "event_type",
        "ts",
        hwm.alias("hwm"),
    )
    on_time = F.col("hwm").isNull() | (F.col("ts") >= F.col("hwm"))
    dropped = (F.col("ts") + tol) < F.col("hwm")
    return arr.groupBy("event_type").agg(
        F.count(F.when(on_time, 1)).cast("long").alias("n_on_time"),
        F.count(F.when(~on_time & ~dropped, 1)).cast("long").alias("n_late_accepted"),
        F.count(F.when(dropped, 1)).cast("long").alias("n_dropped"),
    )


# ---------------------------------------------------------------------------
# the BPE merge TABLE — three training rounds
# ---------------------------------------------------------------------------

#: one fresh private-use symbol per round (absent from fixture text —
#: pinned by tests/test_wave9.py for the first; same block for the rest)
_BPE_SYMBOLS = ""


def _bpe_table_oracle(n_rounds: int = 3) -> str:
    ctes = [_BPE_PAIRS_SQL.rstrip()]
    prev_tok = "tok"
    selects = []
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
        next_tok = f"m{r}"
        ctes.append(f"""
    {next_tok} AS (
      SELECT replace(tok, (SELECT pair FROM w{r}),
                     chr({ord(_BPE_SYMBOLS[r])})) AS tok
      FROM {prev_tok}
    )""")
        prev_tok = next_tok
        selects.append(
            f"SELECT CAST({r} AS INTEGER) AS round, "
            f"(SELECT pair FROM w{r}) AS merge_pair"
        )
    return ",".join(ctes) + "\n" + " UNION ALL ".join(selects)


@query("q_bpe_merge_table", oracle=_bpe_table_oracle(), tags=("text",))
def q_bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three BPE training rounds end to end (operators/textops.py::
    bpe_merge_rounds): the learned merge table (round, merge_pair) — the
    artifact a tokenizer trainer persists. Each round is one count
    aggregate + a 1-row broadcast winner substituted corpus-wide before
    the next count; the oracle unrolls the same three rounds as CTEs.
    Round r's winner depends on rounds < r having been applied, so any
    drift in the merge application surfaces as a different later
    winner."""
    from weather_api_automate_etl_spark.operators import textops

    return textops.bpe_merge_rounds(
        t(spark, sf_dir, "documents"), n_rounds=3, placeholders=_BPE_SYMBOLS
    )


# ---------------------------------------------------------------------------
# per-group mode
# ---------------------------------------------------------------------------


@query(
    "q_mode_by_group",
    oracle="""
    SELECT event_type, hour, n FROM (
      SELECT event_type,
             CAST(date_part('hour', CAST(ts AS TIMESTAMP)) AS INTEGER) AS hour,
             CAST(COUNT(*) AS BIGINT) AS n,
             row_number() OVER (
               PARTITION BY event_type ORDER BY COUNT(*) DESC,
               CAST(date_part('hour', CAST(ts AS TIMESTAMP)) AS INTEGER)
             ) AS rk
      FROM events GROUP BY 1, 2
    ) WHERE rk = 1
    """,
    tags=("agg", "windows"),
)
def q_mode_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode (most frequent hour-of-day per event type, ties to
    the lowest hour — the deterministic rule): count-then-argmax via a
    group-keyed WindowGroupLimit top-1 over the 24-row-per-group
    aggregate — never a value-keyed shuffle of raw events beyond the
    count itself. The everyday 'what's the typical X per group' query."""
    from weather_api_automate_etl_spark.functions.core import pg_hour

    counted = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", pg_hour("ts").alias("hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("n"), F.asc("hour"))
    return (
        counted.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("event_type", "hour", "n")
    )

# ---------------------------------------------------------------------------
# SCD2 point-in-time (time travel over the type-2 dimension)
# ---------------------------------------------------------------------------


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
    tags=("cdc",),
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
    from weather_api_automate_etl_spark.queries_analytics import q_scd2

    dim = q_scd2(spark, sf_dir)
    return cdc.scd2_asof(dim, "2024-03-01").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


# ---------------------------------------------------------------------------
# schema evolution on the lake (mergeSchema read)
# ---------------------------------------------------------------------------


@query(
    "q_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderstatus
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderkey % 2 = 1
    """,
    tags=("cdc", "layout"),
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

# ---------------------------------------------------------------------------
# probabilistic record linkage (Fellegi–Sunter)
# ---------------------------------------------------------------------------

#: per-field (m, u) probabilities → log2 likelihood weights, shared
#: verbatim between the Spark expression and the oracle SQL so both
#: engines sum the identical double literals
_FS_MU = {
    "c_name": (0.99, 0.0005),
    "c_mktsegment": (0.95, 0.2),
    "c_acctbal": (0.9, 0.001),
}
_FS_WEIGHTS = {
    f: (
        round(_math.log2(m / u), 6),
        round(_math.log2((1.0 - m) / (1.0 - u)), 6),
    )
    for f, (m, u) in _FS_MU.items()
}
_FS_MIN_SCORE = 0.0


def _fs_oracle() -> str:
    # e0-suffixed literals parse as DOUBLE (bare decimals become DECIMAL in
    # DuckDB, which would stringify with trailing zeros and break the hash)
    terms = " + ".join(
        f"(CASE WHEN a.{f} IS NOT DISTINCT FROM b.{f} "
        f"THEN {w_agree!r}e0 ELSE {w_dis!r}e0 END)"
        for f, (w_agree, w_dis) in _FS_WEIGHTS.items()
    )
    return f"""
    WITH a AS (SELECT * FROM customer),
    b AS (
      SELECT c_custkey + 5000000 AS cand_key,
             CASE WHEN c_custkey % 11 = 0 THEN c_name || '*' ELSE c_name END
               AS c_name,
             c_nationkey,
             CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 128.0
                  ELSE c_acctbal END AS c_acctbal,
             CASE WHEN c_custkey % 7 = 0 THEN 'PERTURBED'
                  ELSE c_mktsegment END AS c_mktsegment
      FROM customer
    )
    SELECT a.c_custkey, b.cand_key, ROUND({terms}, 6) AS score
    FROM a JOIN b
      ON a.c_nationkey = b.c_nationkey
     AND floor(a.c_acctbal / 1000) = floor(b.c_acctbal / 1000)
    WHERE ROUND({terms}, 6) >= {_FS_MIN_SCORE}
    """


@query("q_fellegi_sunter", oracle=_fs_oracle(), tags=("dedup", "joins"))
def q_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage (operators/dedup.py::
    fellegi_sunter_link): customers linked against a deterministically
    perturbed copy (every 11th name starred, every 5th balance shifted by
    an IEEE-exact +128, every 7th segment replaced), blocked on
    (nation, ⌊balance/1000⌋), scored by summed log2(m/u) field weights —
    a balance match outweighs a segment match 4×, which is the point of
    FS over single-distance matching. Pairs whose balance perturbation
    crosses a block boundary are missed — honest blocking recall, the
    multi-pass-blocking motivation. Weights are literals shared between
    both engines, so the sums are bit-identical."""
    from weather_api_automate_etl_spark.operators import dedup as dedup_ops

    cust = t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    b = cust.select(
        (k + 5000000).alias("cand_key"),
        F.when(k % 11 == 0, F.concat(F.col("c_name"), F.lit("*")))
        .otherwise(F.col("c_name"))
        .alias("c_name"),
        "c_nationkey",
        F.when(k % 5 == 0, F.col("c_acctbal") + F.lit(128.0))
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
        F.when(k % 7 == 0, F.lit("PERTURBED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    a = cust.withColumn("__blk", F.floor(F.col("c_acctbal") / 1000))
    bb = b.withColumn("__blk", F.floor(F.col("c_acctbal") / 1000))
    return dedup_ops.fellegi_sunter_link(
        a,
        bb,
        "c_custkey",
        "cand_key",
        block_cols=["c_nationkey", "__blk"],
        fields=[(f, w[0], w[1]) for f, w in _FS_WEIGHTS.items()],
        min_score=_FS_MIN_SCORE,
    )

# ---------------------------------------------------------------------------
# chi-square independence test
# ---------------------------------------------------------------------------


@query(
    "q_chi_square",
    oracle="""
    WITH obs AS (
      SELECT event_type AS a,
             CAST(date_part('hour', CAST(ts AS TIMESTAMP)) AS INTEGER) AS b
      FROM events
      WHERE event_type IS NOT NULL AND ts IS NOT NULL
    ),
    counts AS (SELECT a, b, COUNT(*) AS o FROM obs GROUP BY a, b),
    ra AS (SELECT a, SUM(o) AS ra FROM counts GROUP BY a),
    cb AS (SELECT b, SUM(o) AS cb FROM counts GROUP BY b),
    nn AS (SELECT CAST(SUM(o) AS DOUBLE) AS n FROM counts),
    grid AS (
      SELECT ra.a, cb.b,
             CAST(COALESCE(c.o, 0) AS DOUBLE) AS o,
             ra.ra * cb.cb / (SELECT n FROM nn) AS e
      FROM ra CROSS JOIN cb LEFT JOIN counts c ON c.a = ra.a AND c.b = cb.b
    )
    SELECT ROUND(SUM((o - e) * (o - e) / e), 6) AS chi2,
           CAST((COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1) AS BIGINT)
             AS dof,
           CAST((SELECT n FROM nn) AS BIGINT) AS n_obs
    FROM grid
    """,
    tags=("agg", "analytics"),
)
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test between event type and
    hour-of-day (operators/stats.py::chi_square_independence) — the
    canonical categorical-dependence readout. The full r×c grid including
    zero cells is crossed from the two category sets (metadata-scale,
    broadcast) because the statistic requires expected counts for
    UNOBSERVED cells too — the bug a naive groupBy-only version hides."""
    from weather_api_automate_etl_spark.functions.core import pg_hour
    from weather_api_automate_etl_spark.operators import stats

    ev = t(spark, sf_dir, "events").select(
        "event_type", pg_hour("ts").alias("hour")
    )
    return stats.chi_square_independence(ev, "event_type", "hour")
