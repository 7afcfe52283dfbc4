"""One benchmark run in a fresh Python process with its own Spark session.

``perfbench/run.py`` starts this script; it is not meant to be run by hand.

    worker.py --workload W --seed N --trace 0|1 --data DIR --out FILE

Set up (import the registry, ``get_spark``, one trivial action), then run the
workload's passes and write the run record to FILE: a cold pass whose outputs
are collected and compared with the DuckDB oracles and the pipeline's
invariants, untimed warm-up passes until the pass time levels off, then the
workload's fixed number of timed noop-sink passes. With --trace 1 the timed
passes alternate untraced and traced, and per-layer counters are recorded.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def setup():
    """Process start → ready session: registry import, session, one action."""
    t0 = time.perf_counter()
    from weather_api_automate_etl_spark.queries import REGISTRY, _load_extensions

    _load_extensions()
    t1 = time.perf_counter()
    from weather_api_automate_etl_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.range(1).count()
    t2 = time.perf_counter()
    return spark, REGISTRY, {
        "queries.import_s": t1 - t0,
        "session.start_s": t2 - t1,
        "ready_wall": time.time(),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    spark, registry, setup_info = setup()
    try:
        from passes import Run

        record = Run(spark, registry, args).execute()
        record["setup"] = setup_info
        with open(args.out, "w") as f:
            json.dump(record, f)
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
