"""The passes of one run: the checked cold pass and the timed passes."""

from __future__ import annotations

import collections
import os
import shutil
import statistics
import sys
import time

from layers import MART_WRITE, Tracer, coverage_pct, cpu_seconds, read_steal, vm_hwm_mb
from workloads import (
    BACKFILL_OP,
    ERROR_CITY,
    LEVEL_TOL,
    PIPELINE_STAGES,
    WARMUP_MAX,
    WARMUP_MIN,
    WORKLOADS,
    backfill_start,
    pass_order,
)

ENGINE_KEYS = (
    "stages",
    "tasks",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "executor_run_s",
    "gc_s",
)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: rows of the fixed JVM-only action timed at the start and end of a run
CALIB_ROWS = 20_000_000


def calibrate(spark) -> float:
    """Time a fixed JVM-only action (host-drift diagnostic)."""
    t0 = time.perf_counter()
    spark.range(0, CALIB_ROWS, 1, spark.sparkContext.defaultParallelism).selectExpr(
        "sum(id % 7)"
    ).collect()
    return time.perf_counter() - t0


def levelled(passes: list[dict]) -> bool:
    """The last pass was less than LEVEL_TOL faster than the one before."""
    return passes[-1]["wall_s"] > (1.0 - LEVEL_TOL) * passes[-2]["wall_s"]


class Run:
    def __init__(self, spark, registry, args):
        self.spark, self.registry = spark, registry
        self.workload = WORKLOADS[args.workload]
        self.seed, self.trace = args.seed, bool(args.trace)
        self.data = args.data
        self.order = pass_order(self.workload)
        self.tracer = Tracer(spark) if self.trace else None
        self.attempted = 0
        self.failures: list[str] = []
        self._n_pass = 0
        self.jvm_pid = spark.sparkContext._gateway.proc.pid

    # -- one operation -------------------------------------------------------

    def _backfill(self, base: str) -> dict:
        from weather_api_automate_etl_spark.plans.pipeline import WeatherPipeline
        from weather_api_automate_etl_spark.plans.scheduler import DAY, DailyScheduler
        from weather_api_automate_etl_spark.sources.rest import DEFAULT_CITIES

        pipe = WeatherPipeline(
            self.spark,
            f"{base}/raw",
            f"{base}/marts",
            cities=[*DEFAULT_CITIES, ERROR_CITY],
            pin_extracted_at=True,
        )
        results, intervals = [], []

        def job(start):
            t0 = time.perf_counter()
            results.append(pipe.run(start))
            intervals.append(time.perf_counter() - t0)

        start, days = backfill_start(self.seed), self.workload.backfill_days
        ran = DailyScheduler(f"{base}/state.json", job).backfill(start, start + days * DAY)
        stage_s = collections.Counter()
        for stage_results in results:
            for r in stage_results:
                stage_s[r.name] += r.seconds
        return {"ran": len(ran), "results": results, "intervals": intervals, "stage_s": stage_s}

    def _run_op(self, name: str, collect: bool, base: str) -> tuple[dict, object]:
        """Run one operation; return its record and, with ``collect``, its output.

        A query's ``prep_s`` is the time inside ``fn(spark, data)`` (the eager
        prefix) and ``exec_s`` the final materialization. The backfill's split
        comes from its StageResults: ``exec_s`` is the build_marts stage (the
        mart writes) and ``prep_s`` the other stages. ``wall_s`` is timed
        around the operation on its own, less ``store_s``, the time spent
        reading the status store, which belongs to no layer."""
        tr = self.tracer if self.tracer is not None and self.tracer.enabled else None
        store = 0.0

        def job_id() -> int:
            nonlocal store
            if tr is None:
                return 0
            t = time.perf_counter()
            j = tr.next_job()
            store += time.perf_counter() - t
            return j

        j0 = job_id()
        t0 = time.perf_counter()
        if name == BACKFILL_OP:
            w0 = tr.counters[MART_WRITE[2]] if tr else 0
            bf = self._backfill(base)
            t3 = time.perf_counter()
            exec_s = bf["stage_s"]["build_marts"]
            rec = {"prep_s": sum(bf["stage_s"].values()) - exec_s, "exec_s": exec_s}
            j2 = job_id()
            if tr:
                write_jobs = tr.counters[MART_WRITE[2]] - w0
                rec.update(prep_jobs=j2 - j0 - write_jobs, exec_jobs=write_jobs)
            out = bf
        else:
            df = self.registry[name].fn(self.spark, self.data)
            t1 = time.perf_counter()
            j1 = job_id()
            t2 = time.perf_counter()
            if collect:
                out = (df.columns, [tuple(r) for r in df.collect()])
            else:
                df.write.format("noop").mode("overwrite").save()
                out = None
            t3 = time.perf_counter()
            j2 = job_id()
            rec = {"prep_s": t1 - t0, "exec_s": t3 - t2}
            if tr:
                rec.update(prep_jobs=j1 - j0, exec_jobs=j2 - j1)
            t0 += t2 - t1  # the job-id read between prep and exec
        if tr:
            t = time.perf_counter()
            rec.update(tr.engine(j0, j2))
            store += time.perf_counter() - t
        rec["wall_s"] = t3 - t0
        rec["store_s"] = store
        return rec, out

    # -- one pass ------------------------------------------------------------

    def run_pass(self, kind: str, traced: bool = False, check: bool = False) -> dict:
        """One pass over the workload's operations. With ``check`` the outputs
        are collected (not sent to the noop sink) and verified afterwards."""
        if self.tracer is not None:
            self.tracer.enabled = traced
            self.tracer.counters.clear()
        self._n_pass += 1
        base = os.path.join(os.getcwd(), f"pass{self._n_pass}")
        ops, outputs, store = {}, {}, 0.0
        cpu0 = cpu_seconds(self.jvm_pid)
        t_pass = time.perf_counter()
        for name in self.order:
            self.attempted += 1
            try:
                rec, out = self._run_op(name, check, base)
            except Exception as exc:  # noqa: BLE001 — a failed op is counted, the run goes on
                self.failures.append(f"{kind} {name}: {type(exc).__name__}: {exc}"[:2000])
                continue
            store += rec["store_s"]
            ops[name] = rec
            if out is not None:
                outputs[name] = out
        gross = time.perf_counter() - t_pass
        cpu = cpu_seconds(self.jvm_pid) - cpu0
        if self.tracer is not None:
            self.tracer.enabled = False
        rec = {
            "kind": kind,
            "traced": traced,
            # the pass is timed as a whole, less only the status-store reads,
            # so the per-operation split can be checked against it
            "wall_s": gross - store,
            "gross_s": gross,
            "jvm_cpu_s": cpu,
            "ops": ops,
        }
        if BACKFILL_OP in outputs:
            bf = outputs.pop(BACKFILL_OP)
            rec["backfill"] = self._backfill_summary(bf)
            if check:
                try:
                    self._check_backfill(bf, base)
                except Exception as exc:  # noqa: BLE001 — counted as a failed check
                    self._fail(f"{BACKFILL_OP}: {type(exc).__name__}: {exc}")
        if check:
            try:
                self._check_oracles(outputs)
            except Exception as exc:  # noqa: BLE001 — counted as a failed check
                self._fail(f"oracle: {type(exc).__name__}: {exc}")
        if traced:
            rec["counters"] = self._pass_counters(rec)
        shutil.rmtree(base, ignore_errors=True)
        return rec

    def _backfill_summary(self, bf: dict) -> dict:
        iv = bf["intervals"]
        return {
            **{f"pipeline.{s}_s": bf["stage_s"][s] for s in PIPELINE_STAGES},
            "pipeline.attempts": sum(r.attempts for rs in bf["results"] for r in rs),
            # the first interval of the cold pass is the cold one; every
            # interval of a later pass runs in a warm session
            "scheduler.first_interval_s": iv[0] if iv else 0.0,
            "scheduler.interval_s": statistics.fmean(iv) if iv else 0.0,
        }

    def _pass_counters(self, rec: dict) -> dict:
        c = collections.Counter(self.tracer.counters)
        for op in rec["ops"].values():
            for k in ("prep_s", "exec_s", "prep_jobs", "exec_jobs", *ENGINE_KEYS):
                c[k] += op.get(k, 0)
            c["status.truncated_ops"] += op.get("truncated", 0)
        c.update(rec.get("backfill", {}))
        c["pass_wall_s"] = rec["wall_s"]
        c["split.coverage_pct"] = coverage_pct(rec["ops"], rec["wall_s"])
        return dict(c)

    # -- output checks -------------------------------------------------------

    def _fail(self, msg: str) -> None:
        self.failures.append(f"check {msg}"[:2000])

    def _check_backfill(self, bf: dict, base: str) -> None:
        """Every quality gate passed; the marts hold valid cities × intervals."""
        from weather_api_automate_etl_spark.sources.rest import DEFAULT_CITIES

        days = self.workload.backfill_days
        if bf["ran"] != days:
            self._fail(f"{BACKFILL_OP}: ran {bf['ran']} intervals, expected {days}")
        for stage_results in bf["results"]:
            names = [r.name for r in stage_results]
            errors = [r.error for r in stage_results if r.error]
            if names != list(PIPELINE_STAGES) or errors:
                self._fail(f"{BACKFILL_OP}: stages {names} errors {errors}")
        marts = f"{base}/marts"
        dim = self.spark.read.parquet(f"{marts}/dim_locations")
        fct = self.spark.read.parquet(f"{marts}/fct_weather_observations")
        cities = sorted(r.city for r in dim.select("city").collect())
        if cities != sorted(c.upper() for c in DEFAULT_CITIES):
            self._fail(f"{BACKFILL_OP}: dim cities {cities}")
        n_fct = fct.count()
        if n_fct != len(DEFAULT_CITIES) * days:
            self._fail(f"{BACKFILL_OP}: fct rows {n_fct} != {len(DEFAULT_CITIES)} x {days}")
        if fct.join(dim, "location_key", "left_anti").count():
            self._fail(f"{BACKFILL_OP}: fct rows without a dim_locations key")

    def _check_oracles(self, outputs: dict) -> None:
        """Compare each collected output with its DuckDB oracle, canonicalized
        exactly as tools/check_oracle.py does."""
        import duckdb

        sys.path.insert(0, os.path.join(ROOT, "tools"))
        from check_oracle import frame_rows

        from weather_api_automate_etl_spark.schemas import TESTDATA_TABLES

        con = duckdb.connect()
        try:
            for t in TESTDATA_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            for name, (cols, rows) in outputs.items():
                oracle = self.registry[name].oracle
                if oracle is None:
                    if not rows:
                        self._fail(f"{name}: no rows and no oracle")
                    continue
                res = con.execute(oracle)
                d_cols = [d[0] for d in res.description]
                d_rows = res.fetchall()
                if sorted(cols) != sorted(d_cols):
                    self._fail(f"{name}: columns {sorted(cols)} != oracle {sorted(d_cols)}")
                elif frame_rows(cols, rows) != frame_rows(d_cols, d_rows):
                    self._fail(f"{name}: {len(rows)} rows differ from oracle ({len(d_rows)})")
        finally:
            con.close()

    # -- the run -------------------------------------------------------------

    def warm_up(self) -> list[dict]:
        """Untimed passes until the pass time levels off (see WARMUP_MIN)."""
        passes: list[dict] = []
        while len(passes) < WARMUP_MAX:
            passes.append(self.run_pass("warmup"))
            if len(passes) >= WARMUP_MIN and levelled(passes):
                break
        return passes

    def execute(self) -> dict:
        steal0 = read_steal()
        calib_start = calibrate(self.spark)
        # the cold pass collects every output, so checking costs no extra pass
        passes = [self.run_pass("cold", traced=self.trace, check=True)]
        passes += self.warm_up()
        # a fixed count of timed passes, so the sample count does not depend
        # on the program's speed. With tracing the passes alternate untraced /
        # traced, so each traced pass sits between untraced ones.
        n_timed = max(self.workload.timed_passes, 3) if self.trace else self.workload.timed_passes
        for i in range(n_timed):
            passes.append(self.run_pass("timed", traced=self.trace and i % 2 == 1))
        calib_end = calibrate(self.spark)
        steal1 = read_steal()
        d_total = steal1[1] - steal0[1]
        return {
            "workload": self.workload.name,
            "seed": self.seed,
            "order": self.order,
            "passes": passes,
            "attempted": self.attempted,
            "failures": self.failures,
            "host": {
                "calib_start_s": calib_start,
                "calib_s": calib_end,
                "steal_pct": 100.0 * (steal1[0] - steal0[0]) / d_total if d_total else 0.0,
            },
            "peak_rss_mb": vm_hwm_mb(self.jvm_pid) + vm_hwm_mb("self"),
        }
