"""Scan-layout guards: the one place that decides whether a frame arrives
too narrow for the session's cores.

The fixture tables ship as one single-row-group parquet file each, which
Spark cannot split, so a stage over such a scan runs in ONE task however
many cores the session has. Compute-bound consumers round-robin such a
frame across the session's parallelism first; on a real multi-file layout
the scan already arrives wide and the guard is a no-op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def estimated_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan size estimate of ``df`` in bytes, or None
    when Catalyst cannot size it: RDD- and Python-backed sources report
    the ≥2^60 ``defaultSizeInBytes`` sentinel. The estimate propagates
    from parquet leaf sizes and costs ~15 ms even on a deep regex
    upstream. Every layout guard reads this, never
    ``rdd.getNumPartitions()``, which compiles the full physical plan:
    35–85 ms a call, and 1.7–7 s on q_corpus_pipeline's PII chain."""
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return None if est >= 1 << 60 else est


def spread_if_narrow(df: DataFrame) -> DataFrame:
    """Round-robin-spread ``df`` when its Catalyst size estimate says it
    arrives in fewer scan splits than the session has cores (est <
    parallelism × 128 MB default split). Measured at sf0.1 on 32 cores:
    q_hard_negatives 2.37 s serial vs 0.80 s spread.

    Partition count is the wrong test: a single-row-group file above
    about (par−1) × 4 MB splits into ≥ par byte ranges, all but one of
    them empty. An un-sizable source reads as wide (leave alone).
    Round-robin is retry-safe (sortBeforeRepartition), so callers need
    only partitioning-insensitive consumers."""
    par = df.sparkSession.sparkContext.defaultParallelism
    est = estimated_bytes(df)
    if est is None or est >= par * (128 << 20):
        return df
    return df.repartition(par)
