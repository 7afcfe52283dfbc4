"""Workload and metric definitions shared by the runner, the worker and the tests.

Each workload is a closed loop: one Python client drives one ``local[nproc]``
session and starts the next operation only when the previous one returned.
A *pass* runs every operation of the workload once, in a fixed order: the
first operation of a fresh session pays its one-time costs, so a seed-chosen
order would move ``cold_s`` between seeds (measured 10.7–12.4 s on
``analytics_scan``) without any change to the program.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass


#: scale factor of the generated tables (perfbench/gen.py)
SF = 0.01

#: untimed warm-up passes after the cold pass: at least WARMUP_MIN, then more
#: until a pass is less than LEVEL_TOL faster than the one before it, and at
#: most WARMUP_MAX. The JIT keeps warming for several passes; timing them
#: would measure the warm-up, not the program.
WARMUP_MIN, WARMUP_MAX, LEVEL_TOL = 2, 3, 0.10


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    #: registry queries run once per pass
    ops: tuple[str, ...]
    #: timed passes after the warm-up; a fixed count, so a faster program
    #: does not get more samples to take a minimum over
    timed_passes: int
    #: daily intervals of the WeatherPipeline backfill run at the start of
    #: each pass (0 = no backfill)
    backfill_days: int = 0


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="analytics_scan",
            why=(
                "read-only queries at small scale whose time is mostly the final "
                "materialization: planning, operator code and per-job overhead; no ledger code runs"
            ),
            ops=(
                "q_pricing_summary",
                "q_join_fct_dim",
                "q_minhash_pairs",
                "q_basket_pairs",
            ),
            timed_passes=4,
        ),
        Workload(
            name="etl_commit",
            why=(
                "the reference daily DAG as a WeatherPipeline backfill plus ledger and "
                "streaming commits; time is mostly the eager prefix"
            ),
            ops=("q_streaming_ledger_sink",),
            timed_passes=3,
            backfill_days=1,
        ),
    )
}

#: the pseudo-operation name of the backfill step in pass records
BACKFILL_OP = "backfill"

#: the pipeline's cities: the reference's seven plus one that the fake
#: fetcher answers with the API error envelope (routed out, never in a mart)
ERROR_CITY = "Xanadu"


def pass_order(workload: Workload) -> list[str]:
    """Operation order of every pass: the backfill first (it is the DAG run
    the queries would follow), then the queries as listed."""
    return ([BACKFILL_OP] if workload.backfill_days else []) + list(workload.ops)


def backfill_start(seed: int) -> dt.datetime:
    """First interval of the backfill: a seed-chosen day of 2024."""
    return dt.datetime(2024, 1, 1) + dt.timedelta(days=random.Random(seed).randrange(360))


# (name, unit, better) — reported with --trace 0
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("cold_s", "s", "lower"),
    ("warm_s", "s", "lower"),
)

PIPELINE_STAGES = (
    "extract_and_load",
    "build_staging",
    "test_staging",
    "build_marts",
    "test_marts",
)

# (name, unit, better) — reported with --trace 1; each is summed over one
# traced pass (median over the run's traced passes) unless it says otherwise
PER_LAYER = (
    ("queries.import_s", "s", "lower"),
    ("session.start_s", "s", "lower"),
    ("pass_wall_s", "s", "lower"),
    ("prep_s", "s", "lower"),
    ("prep_jobs", "count", "lower"),
    ("exec_s", "s", "lower"),
    ("exec_jobs", "count", "lower"),
    ("stages", "count", "lower"),
    ("tasks", "count", "lower"),
    ("shuffle_read_mb", "MB", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("executor_run_s", "s", "lower"),
    ("gc_s", "s", "lower"),
    ("cold.prep_s", "s", "lower"),
    ("cold.exec_s", "s", "lower"),
    ("sources.load_table_s", "s", "lower"),
    ("sources.load_table_calls", "count", "lower"),
    ("ledger.call_s", "s", "lower"),
    ("ledger.calls", "count", "lower"),
    ("ledger.jobs", "count", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.trigger_ms", "ms", "lower"),
    *((f"pipeline.{s}_s", "s", "lower") for s in PIPELINE_STAGES),
    ("pipeline.attempts", "count", "lower"),
    ("scheduler.first_interval_s", "s", "lower"),
    ("scheduler.interval_s", "s", "lower"),
    ("split.coverage_pct", "%", "higher"),
    ("peak_rss_mb", "MB", "lower"),
    ("status.truncated_ops", "count", "lower"),
    ("error_rate", "ratio", "lower"),
    ("host.calib_s", "s", "lower"),
    ("host.steal_pct", "%", "lower"),
    ("trace.overhead_pct", "%", "lower"),
)
