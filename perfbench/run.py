"""Benchmark entry point: one run of one workload, one JSON result line.

    python3 perfbench/run.py --workload analytics_scan --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. Each run:

1. generates the input tables from ``--seed`` (perfbench/gen.py) in a fresh
   directory under ``.perfbench_run/``, which also holds the worker's cwd,
   ``TMPDIR``, ``SPARK_LOCAL_DIRS`` and ``java.io.tmpdir`` and is removed at
   the end;
2. starts the worker (perfbench/worker.py); ``setup_s`` runs from its spawn
   to its ready session;
3. waits for every process of the worker (its JVM and Python workers
   included) to exit before it returns, so JVMs of two runs never overlap.

``--seconds`` is accepted, but it does not set how many passes are timed:
each workload times a fixed number of passes (perfbench/workloads.py), so
the sample count does not depend on speed.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
Every pass of the run is logged to stderr as one JSON line. The exit code
is 0 only when every operation ran and every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "weather_api_automate_etl_spark")
ORACLE_TOOL = os.path.join(ROOT, "tools", "check_oracle.py")
#: the worker must finish inside this many seconds of the run's start
DEADLINE_S = 170

sys.path.insert(0, HERE)

from gen import write_tables  # noqa: E402
from workloads import END_TO_END, PER_LAYER, SF, WORKLOADS  # noqa: E402


def _group_pids(pgid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def reap_group(pgid: int, grace_s: float = 20.0) -> None:
    """Wait for every process of a child's session to exit (a stopped JVM
    shuts down on its own); signal what is left after ``grace_s``."""
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if sig is not None:
            for pid in _group_pids(pgid):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        end = time.monotonic() + wait_s
        while _group_pids(pgid) and time.monotonic() < end:
            time.sleep(0.05)
        if not _group_pids(pgid):
            return
    raise RuntimeError(f"processes of group {pgid} did not exit")


def run_child(cmd: list[str], cwd: str, env: dict, log_path: str, deadline: float) -> None:
    """Run one child in its own session, its output going to ``log_path``."""
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(
            cmd, cwd=cwd, env=env, stdout=log, stderr=log, start_new_session=True
        )
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except BaseException:  # timeout, or the runner itself is being stopped
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
        finally:
            reap_group(proc.pid)
    if proc.returncode != 0:
        with open(log_path, "rb") as log:
            tail = log.read()[-3000:].decode(errors="replace")
        raise RuntimeError(f"worker exited {proc.returncode}:\n{tail}")


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def best_of(passes: list[dict]) -> float:
    """Sum over operations of each one's fastest wall time across passes.

    Host noise comes in bursts shorter than a pass; taking the best sample
    per operation sheds a burst that hit one operation of one pass."""
    names = {n for p in passes for n in p["ops"]}
    return sum(min(p["ops"][n]["wall_s"] for p in passes if n in p["ops"]) for n in names)


def trace_overhead_pct(timed: list[dict]) -> float:
    """Gross wall time of each traced pass against the mean of the untraced
    passes next to it, which cancels the drift of a still-warming session."""
    ratios = []
    for i, p in enumerate(timed):
        near = [q["gross_s"] for q in timed[max(0, i - 1) : i + 2] if not q["traced"]]
        if p["traced"] and near:
            ratios.append(p["gross_s"] / statistics.fmean(near))
    return 100.0 * (_median(ratios) - 1.0) if ratios else 0.0


def summarize(record: dict, setup_s: float, trace: bool) -> dict:
    """The result line from a worker's run record and its set-up time."""
    passes = record["passes"]
    attempted = record["attempted"]
    failed = min(len(record["failures"]), attempted)
    timed = [p for p in passes if p["kind"] == "timed"]
    untraced = [p for p in timed if not p["traced"]]
    cold = next(p for p in passes if p["kind"] == "cold")
    if not trace:
        values = {
            "setup_s": setup_s,
            "cold_s": cold["wall_s"],
            "warm_s": best_of(untraced),
        }
        units = {n: u for n, u, _ in END_TO_END}
    else:
        traced = [p["counters"] for p in timed if p["traced"]]
        values = {
            n: _median([c.get(n, 0) for c in traced]) for n, _, _ in PER_LAYER
        }
        values.update(
            {
                "queries.import_s": record["setup"]["queries.import_s"],
                "session.start_s": record["setup"]["session.start_s"],
                "cold.prep_s": sum(o["prep_s"] for o in cold["ops"].values()),
                "cold.exec_s": sum(o["exec_s"] for o in cold["ops"].values()),
                "status.truncated_ops": sum(
                    p["counters"]["status.truncated_ops"] for p in passes if p["traced"]
                ),
                "error_rate": failed / attempted,
                "peak_rss_mb": record["peak_rss_mb"],
                "host.calib_s": record["host"]["calib_s"],
                "host.steal_pct": record["host"]["steal_pct"],
                "trace.overhead_pct": trace_overhead_pct(timed),
            }
        )
        if "backfill" in cold:
            values["scheduler.first_interval_s"] = cold["backfill"]["scheduler.first_interval_s"]
        units = {n: u for n, u, _ in PER_LAYER}
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in units},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="perfbench: one run of one workload")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # stopped from outside: unwind so the worker and the run directory go too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isdir(PACKAGE) and os.path.isfile(ORACLE_TOOL)):
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + DEADLINE_S
    os.makedirs(os.path.join(ROOT, ".perfbench_run"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".perfbench_run"))
    try:
        data = os.path.join(run_dir, "data")
        write_tables(data, args.seed, SF)
        dirs = {k: os.path.join(run_dir, k) for k in ("work", "tmp", "local")}
        for d in dirs.values():
            os.makedirs(d)
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
            TMPDIR=dirs["tmp"],
            SPARK_LOCAL_DIRS=dirs["local"],
            # every JVM's own scratch files (native libs, perf counters) stay
            # inside the run directory too, the launcher JVM's included
            JAVA_TOOL_OPTIONS=" ".join(
                filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"),
                              f"-Djava.io.tmpdir={dirs['tmp']}", "-XX:-UsePerfData"])
            ),
        )
        worker = os.path.join(HERE, "worker.py")
        log = os.path.join(run_dir, "worker.log")
        out = os.path.join(run_dir, "record.json")
        cmd = [sys.executable, worker, "--workload", args.workload, "--seed", str(args.seed),
               "--trace", str(args.trace), "--data", data, "--out", out]
        t0 = time.time()
        run_child(cmd, dirs["work"], env, log, deadline)
        with open(out) as f:
            record = json.load(f)
        setup_s = record["setup"]["ready_wall"] - t0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for p in record["passes"]:
        print(json.dumps({"pass": p["kind"], **{k: v for k, v in p.items() if k != "kind"}}),
              file=sys.stderr)
    print(json.dumps({"host": record["host"], "setup_s": setup_s}), file=sys.stderr)
    for msg in record["failures"]:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    result = summarize(record, setup_s, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
