"""Per-layer tracing, gathered only from outside the package.

Nothing here edits the engine: counters come from wrapping public functions
(``sources.tables.load_table``, the ``sources.ledger.ledger_*`` family) where
the registry modules bound them, from Spark's ``statusTracker()`` and JVM
status store, and from a ``StreamingQueryListener``. Every hook is a no-op
until ``Tracer.enabled`` is set, so one session can alternate traced and
untraced passes.
"""

from __future__ import annotations

import collections
import functools
import os
import sys
import threading
import time

PKG = "weather_api_automate_etl_spark"
MB = 1024 * 1024

#: Spark drops the oldest tenth of its retained jobs/stages once a limit is
#: passed, so an operation that gets this close may already be undercounted.
RETENTION_MARGIN = 0.9

#: (time, calls, jobs) counter names of each wrapped function family; the
#: mart writes are counted so the backfill's jobs can be split like its time
LOAD_TABLE = ("sources.load_table_s", "sources.load_table_calls", None)
LEDGER = ("ledger.call_s", "ledger.calls", "ledger.jobs")
MART_WRITE = ("marts.write_s", "marts.write_calls", "marts.write_jobs")


def is_truncated(n_jobs: int, n_stage_entries: int, n_missing: int, limits: dict) -> bool:
    """True when an operation's engine counts cannot be trusted: a stage its
    jobs ran is already gone from the status store, or its job ids or stage
    entries reached the store's retention margin (``spark.ui.retainedJobs``
    / ``retainedStages``). A job id without a job is not a loss: Spark
    numbers zero-partition jobs but never records them. Nor is an evicted
    skipped stage: it carries no counts."""
    return (
        n_missing > 0
        or n_jobs >= RETENTION_MARGIN * limits["jobs"]
        or n_stage_entries >= RETENTION_MARGIN * limits["stages"]
    )


def coverage_pct(ops: dict, wall_s: float) -> float:
    """Share of a pass's wall time covered by its operations' prep + exec."""
    return 100.0 * sum(o["prep_s"] + o["exec_s"] for o in ops.values()) / wall_s


def read_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the host's aggregate CPU line."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def cpu_seconds(pid: int | str) -> float:
    """User + system CPU time a process has used so far."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    """Kernel high-water mark of a process's resident set, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Tracer:
    """Counters for one session; ``counters`` is reset by the caller per pass."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        conf = self.sc.getConf()
        self.limits = {
            "jobs": int(conf.get("spark.ui.retainedJobs", "1000")),
            "stages": int(conf.get("spark.ui.retainedStages", "1000")),
        }
        self.enabled = False
        self.counters: collections.Counter = collections.Counter()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._install_wrappers()
        self._install_listener(spark)

    def next_job(self) -> int:
        """Id the next Spark job will get; jobs ``[a, b)`` ran between two reads."""
        return int(self._dag.nextJobId())

    def engine(self, j0: int, j1: int) -> dict:
        """Job/stage/task, shuffle, spill and executor counters of jobs [j0, j1)."""
        from py4j.protocol import Py4JJavaError

        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        out = collections.Counter()
        seen: set[int] = set()
        ran = 0  # stages the jobs report as run; each must be found below
        for j in range(j0, j1):
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            job = self._store.job(j)
            ran += job.numCompletedStages() + job.numFailedStages()
            for s in info.stageIds:
                if s in seen:
                    continue
                seen.add(s)
                try:
                    d = self._store.lastStageAttempt(s)
                except Py4JJavaError:
                    # evicted; a skipped stage (no completion time) goes first
                    continue
                if d.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += d.numTasks()
                out["shuffle_read_mb"] += d.shuffleReadBytes() / MB
                out["shuffle_write_mb"] += d.shuffleWriteBytes() / MB
                out["spill_mb"] += (d.memoryBytesSpilled() + d.diskBytesSpilled()) / MB
                out["executor_run_s"] += d.executorRunTime() / 1000.0
                out["gc_s"] += d.jvmGcTime() / 1000.0
        missing = max(0, ran - out["stages"])
        out["truncated"] = int(is_truncated(j1 - j0, len(seen), missing, self.limits))
        return dict(out)

    def _install_wrappers(self) -> None:
        from weather_api_automate_etl_spark.operators import marts
        from weather_api_automate_etl_spark.sources import ledger, tables

        targets = {
            id(tables.load_table): (tables.load_table, LOAD_TABLE),
            id(marts.write_mart): (marts.write_mart, MART_WRITE),
        }
        for name in dir(ledger):
            fn = getattr(ledger, name)
            if name.startswith("ledger_") and callable(fn):
                targets[id(fn)] = (fn, LEDGER)
        wrapped = {k: self._wrap(fn, names) for k, (fn, names) in targets.items()}
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(PKG):
                continue
            for attr, val in list(vars(mod).items()):
                if callable(val) and id(val) in targets and val is targets[id(val)][0]:
                    setattr(mod, attr, wrapped[id(val)])

    def _wrap(self, fn, names: tuple[str, str, str | None]):
        """Time the outermost call per thread; nested calls (a ledger function
        calling another) count once."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            local = tracer._local
            if not tracer.enabled or getattr(local, names[0], False):
                return fn(*args, **kwargs)
            setattr(local, names[0], True)
            j0, t0 = tracer.next_job(), time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt, jobs = time.perf_counter() - t0, tracer.next_job() - j0
                setattr(local, names[0], False)
                with tracer._lock:
                    tracer.counters[names[0]] += dt
                    tracer.counters[names[1]] += 1
                    if names[2]:
                        tracer.counters[names[2]] += jobs

        return wrapper

    def _install_listener(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Drains(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                if tracer.enabled:
                    ms = event.progress.durationMs.get("triggerExecution", 0)
                    with tracer._lock:
                        tracer.counters["streaming.batches"] += 1
                        tracer.counters["streaming.trigger_ms"] += ms

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Drains()
        spark.streams.addListener(self._listener)
