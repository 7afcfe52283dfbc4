"""20x replication stress for the time-series / temporal-join family.

Replicates the sf0.1 events table N times with shifted user_id/event_id
(cardinality scales with the data — the realistic case for per-user
windows), then times the heavy operators on the replicated frame vs the
base. Usage: python tools/stress_timeseries.py [N].

Results are recorded in SCALING.md; re-run after touching any operator in
operators/windows.py, operators/joins.py, or queries_timeseries.py.
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import DataFrame, functions as F

from weather_api_automate_etl_spark.operators import joins, windows
from weather_api_automate_etl_spark.session import get_spark
from weather_api_automate_etl_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.1"


def replicate(ev: DataFrame, n: int) -> DataFrame:
    """n shifted copies: distinct users/events per copy, same time profile."""
    copies = [
        ev.withColumn("user_id", F.col("user_id") + F.lit(i * 1_000_000))
        .withColumn("event_id", F.col("event_id") + F.lit(i * 1_000_000_000))
        for i in range(n)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def bench(name: str, fn, ev: DataFrame) -> float:
    best = float("inf")
    for _ in range(2):
        t0 = time.monotonic()
        fn(ev).write.format("noop").mode("overwrite").save()
        best = min(best, time.monotonic() - t0)
    print(f"{name:24s} {best:7.2f} s")
    return best


def ops() -> dict:
    def asof(ev):
        clicks = ev.filter(F.col("event_type") == "click").select(
            "event_id", "ts", "user_id"
        )
        purchases = (
            ev.filter(F.col("event_type") == "purchase")
            .groupBy("user_id", F.col("ts").alias("purchase_ts"))
            .agg(F.max("value").alias("purchase_value"))
        )
        return joins.asof_join(
            clicks, purchases, key="user_id", left_ts="ts",
            right_ts="purchase_ts", payload_cols=["purchase_ts", "purchase_value"],
        )

    def interval(ev):
        sessions = windows.sessionize(ev, gap_minutes=30).select(
            "user_id", "session_seq", "session_start", "session_end"
        )
        errors = ev.filter(F.col("event_type") == "error").select(
            "event_id", "user_id", "ts"
        )
        return joins.interval_join_binned(
            errors, sessions, key="user_id", ts_col="ts",
            lo_col="session_start", hi_col="session_end",
        )

    return {
        "sessionize": lambda ev: windows.sessionize(ev, gap_minutes=30),
        "asof_join": asof,
        "interval_join_binned": interval,
        "tumbling_windows": lambda ev: windows.tumbling_window_agg(ev),
    }


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    spark = get_spark("stress-timeseries")
    spark.sparkContext.setLogLevel("ERROR")
    base = load_table(spark, SF_DIR, "events")
    big = replicate(base, n).repartition(32).localCheckpoint()  # materialized input
    print(f"base rows: {base.count():,}; {n}x rows: {big.count():,}")
    for label, ev in (("sf0.1", base), (f"{n}x", big)):
        print(f"--- {label}")
        for name, fn in ops().items():
            bench(name, fn, ev)


if __name__ == "__main__":
    main()
