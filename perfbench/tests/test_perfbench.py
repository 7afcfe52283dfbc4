"""Unit tests of the benchmark harness (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import collections
import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import layers  # noqa: E402
import passes  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_the_emitted_metrics():
    spec = _spec()
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == list(
        workloads.END_TO_END
    )
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == list(
        workloads.PER_LAYER
    )
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert [w["why"] for w in spec["workloads"]] == [
        w.why for w in workloads.WORKLOADS.values()
    ]
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]


def test_metric_names_and_units_are_pinned():
    assert [n for n, _, _ in workloads.END_TO_END] == ["setup_s", "cold_s", "warm_s"]
    names = [n for n, _, _ in workloads.PER_LAYER]
    assert len(names) == len(set(names))
    for required in (
        "prep_s", "exec_s", "prep_jobs", "exec_jobs", "stages", "tasks",
        "ledger.calls", "ledger.jobs", "streaming.trigger_ms",
        "pipeline.extract_and_load_s", "scheduler.first_interval_s",
        "status.truncated_ops", "split.coverage_pct", "trace.overhead_pct",
        "host.calib_s", "host.steal_pct", "error_rate", "peak_rss_mb",
    ):
        assert required in names
    units = {n: u for n, u, _ in workloads.PER_LAYER}
    assert units["prep_s"] == "s" and units["stages"] == "count"
    assert units["shuffle_read_mb"] == "MB" and units["streaming.trigger_ms"] == "ms"


def _op(prep, exec_, **engine):
    return {"prep_s": prep, "exec_s": exec_, "wall_s": prep + exec_, **engine}


def _record(failures=()):
    timed_ops = {"q_a": _op(1.0, 3.0, prep_jobs=2, exec_jobs=1, stages=4, truncated=0)}
    counters = {"prep_s": 1.0, "exec_s": 3.0, "stages": 4, "status.truncated_ops": 0,
                "split.coverage_pct": layers.coverage_pct(timed_ops, 4.1)}
    return {
        "passes": [
            {"kind": "cold", "traced": True, "wall_s": 9.0, "gross_s": 9.5,
             "ops": {"q_a": _op(2.0, 7.0)},
             "counters": {"status.truncated_ops": 1}},
            {"kind": "timed", "traced": False, "wall_s": 4.2, "gross_s": 4.2,
             "ops": {"q_a": _op(1.0, 3.0), "q_b": _op(0.1, 0.1)}},
            {"kind": "timed", "traced": True, "wall_s": 4.1, "gross_s": 4.4,
             "ops": timed_ops, "counters": counters},
            {"kind": "timed", "traced": False, "wall_s": 4.0, "gross_s": 4.0,
             "ops": {"q_a": _op(0.9, 3.0), "q_b": _op(0.1, 0.2)}},
        ],
        "attempted": 5,
        "failures": list(failures),
        "setup": {"queries.import_s": 0.5, "session.start_s": 8.0, "ready_wall": 0.0},
        "host": {"calib_start_s": 0.4, "calib_s": 0.2, "steal_pct": 0.1},
        "peak_rss_mb": 2000.0,
    }


def test_summarize_end_to_end():
    out = run.summarize(_record(), 10.0, trace=False)
    assert out["correct"] and out["attempted"] == 5 and out["failed"] == 0
    m = out["metrics"]
    assert list(m) == [n for n, _, _ in workloads.END_TO_END]
    assert m["setup_s"] == {"value": 10.0, "unit": "s"}
    assert m["cold_s"]["value"] == 9.0
    # each operation's fastest untraced timed run: q_a 3.9 + q_b 0.2
    assert m["warm_s"]["value"] == pytest.approx(4.1)


def test_summarize_per_layer_and_truncation_flag():
    out = run.summarize(_record(), 10.0, trace=True)
    m = out["metrics"]
    assert list(m) == [n for n, _, _ in workloads.PER_LAYER]
    assert m["prep_s"]["value"] == 1.0 and m["exec_s"]["value"] == 3.0
    assert m["cold.prep_s"]["value"] == 2.0 and m["cold.exec_s"]["value"] == 7.0
    # a flagged op in any traced pass is reported, not silently undercounted
    assert m["status.truncated_ops"]["value"] == 1
    assert m["ledger.calls"]["value"] == 0
    assert m["peak_rss_mb"] == {"value": 2000.0, "unit": "MB"}
    # against the mean of the untraced passes on both sides (4.2, 4.0)
    assert m["trace.overhead_pct"]["value"] == pytest.approx(100 * (4.4 / 4.1 - 1))
    assert m["split.coverage_pct"]["value"] == pytest.approx(100 * 4.0 / 4.1)


def test_failures_make_the_run_incorrect():
    out = run.summarize(_record(["check q_a: rows differ"]), 1.0, trace=False)
    assert not out["correct"] and out["failed"] == 1
    out = run.summarize(_record(["x"] * 9), 1.0, trace=True)
    assert out["failed"] == 5
    assert out["metrics"]["error_rate"]["value"] == 1.0


def test_layer_split_covers_the_pass():
    ops = {"a": _op(0.5, 1.5), "b": _op(2.0, 0.0)}
    assert layers.coverage_pct(ops, 4.0) == pytest.approx(100.0)
    assert layers.coverage_pct(ops, 5.0) == pytest.approx(80.0)


class _Writer:
    def __init__(self, seconds):
        self.seconds = seconds

    def format(self, _):
        return self

    def mode(self, _):
        return self

    def save(self):
        time.sleep(self.seconds)


class _Frame:
    def __init__(self, seconds):
        self.write = _Writer(seconds)


class _Stage:
    def __init__(self, name, seconds):
        self.name, self.seconds, self.attempts = name, seconds, 1


def _fake_run(order, backfill_overhead_s=0.0):
    """A Run over fakes: q_a spends 0.03 s in fn and 0.05 s in its write;
    the backfill's stages report 0.04 s, of which build_marts 0.01 s."""
    r = object.__new__(passes.Run)
    r.tracer, r.order, r.attempted, r.failures, r._n_pass = None, order, 0, [], 0
    r.jvm_pid = os.getpid()

    def fn(spark, data):
        time.sleep(0.03)
        return _Frame(0.05)

    r.registry = {"q_a": type("Q", (), {"fn": staticmethod(fn)})}
    r.spark = r.data = None

    def backfill(base):
        stages = [_Stage("extract_and_load", 0.02), _Stage("test_marts", 0.01),
                  _Stage("build_marts", 0.01)]
        time.sleep(0.04 + backfill_overhead_s)
        return {"ran": 1, "results": [stages], "intervals": [0.04],
                "stage_s": collections.Counter({s.name: s.seconds for s in stages})}

    r._backfill = backfill
    return r


def test_query_split_is_timed_separately_from_the_pass(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    rec = _fake_run(["q_a"]).run_pass("timed")
    op = rec["ops"]["q_a"]
    assert op["prep_s"] == pytest.approx(0.03, abs=0.02)
    assert op["exec_s"] == pytest.approx(0.05, abs=0.02)
    assert rec["wall_s"] >= op["prep_s"] + op["exec_s"]
    assert layers.coverage_pct(rec["ops"], rec["wall_s"]) > 90.0


def test_backfill_split_comes_from_its_stages_and_can_miss_the_wall(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    rec = _fake_run([workloads.BACKFILL_OP], backfill_overhead_s=0.06).run_pass("timed")
    op = rec["ops"][workloads.BACKFILL_OP]
    # the mart writes (build_marts) are the materialization; the rest is prefix
    assert op["exec_s"] == pytest.approx(0.01) and op["prep_s"] == pytest.approx(0.03)
    # 0.06 s spent outside every stage shows up as missing coverage
    assert op["wall_s"] >= 0.1
    assert layers.coverage_pct(rec["ops"], rec["wall_s"]) < 50.0


def test_warm_up_stops_when_pass_time_levels_off():
    def p(wall):
        return {"wall_s": wall}

    assert not passes.levelled([p(10.0), p(8.0)])
    assert passes.levelled([p(10.0), p(9.5)])
    assert passes.levelled([p(10.0), p(10.5)])

    class Fake:
        def __init__(self, walls):
            self.walls = iter(walls)

        def run_pass(self, kind):
            assert kind == "warmup"
            return p(next(self.walls))

    def n_warm(walls):
        return len(passes.Run.warm_up(Fake(walls)))

    assert n_warm([10.0, 9.8, 1.0]) == workloads.WARMUP_MIN
    assert n_warm([10.0, 8.0, 7.9, 1.0]) == 3
    assert n_warm([10.0, 8.0, 6.0, 4.0, 2.0, 1.0]) == workloads.WARMUP_MAX


def test_timed_pass_count_is_fixed_per_workload():
    for w in workloads.WORKLOADS.values():
        assert w.timed_passes >= 2


def test_truncation_guard():
    limits = {"jobs": 100, "stages": 100}
    assert not layers.is_truncated(40, 80, 0, limits)
    assert layers.is_truncated(90, 10, 0, limits)
    assert layers.is_truncated(10, 90, 0, limits)
    assert layers.is_truncated(1, 1, 1, limits)


def test_generator_is_seeded():
    a, b = gen.make_tables(3, 0.001), gen.make_tables(3, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    c = gen.make_tables(4, 0.001)
    assert not a["lineitem"].equals(c["lineitem"])
    assert set(a) == {
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    }
    assert a["orders"].num_rows == 1500 and a["lineitem"].num_rows == 6000
    ts = a["events"].column("ts").to_pylist()
    assert ts == sorted(ts) and len(set(ts)) == len(ts)


def test_pass_order_is_fixed_and_backfill_leads():
    w = workloads.WORKLOADS["analytics_scan"]
    assert workloads.pass_order(w) == list(w.ops)
    etl = workloads.WORKLOADS["etl_commit"]
    assert workloads.pass_order(etl) == [workloads.BACKFILL_OP, *etl.ops]
    assert workloads.backfill_start(5) == workloads.backfill_start(5)


def test_runner_refuses_without_engine_sources(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "PACKAGE", str(tmp_path / "missing"))
    monkeypatch.setattr(
        sys, "argv", ["run.py", "--workload", "etl_commit", "--seed", "1", "--seconds", "1"]
    )
    assert run.main() == 2
