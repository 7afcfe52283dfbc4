"""Batch scheduler — the Airflow schedule semantics without Airflow.

Reimplements the scheduling contract of the reference DAG
(/root/reference/dags/weatherstack_full_pipeline.py:120-128):

- ``schedule_interval="@daily"`` → fixed-interval batch windows;
- ``catchup=False`` (:125) → when invoked after downtime, run only the
  latest complete interval, never backfill the gap (unless asked);
- ``data_interval_start`` threading (:108) → each run receives its
  interval start and stamps it into every ingested row (lineage op 6).

The runner is clock-injectable so tests (and a cron/driver harness) control
time; state is a JSON file recording the set of completed intervals — a
plain high-water mark cannot distinguish "ran" from "skipped under
catchup=False", which is exactly what backfill needs to know (one entry per
day is negligible state; compact if an interval ever gets that fine).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import pathlib
from collections.abc import Callable
from dataclasses import dataclass

DAY = dt.timedelta(days=1)


def interval_start(now: dt.datetime, interval: dt.timedelta = DAY) -> dt.datetime:
    """Start of the most recent *complete* interval as of ``now`` (Airflow
    runs interval [T, T+1) only after T+1 has passed)."""
    epoch = dt.datetime(1970, 1, 1)
    elapsed = (now - epoch) // interval
    return epoch + (elapsed - 1) * interval


@dataclass
class DailyScheduler:
    """Runs ``job(data_interval_start)`` once per complete interval.

    ``catchup=False`` parity: ``tick()`` runs at most ONE interval — the
    latest complete one — even if many were missed; ``backfill()`` is the
    explicit opt-in for history."""

    state_path: str
    job: Callable[[dt.datetime], object]
    interval: dt.timedelta = DAY

    def _read_completed(self) -> set[dt.datetime]:
        p = pathlib.Path(self.state_path)
        if not p.exists():
            return set()
        return {
            dt.datetime.fromisoformat(s)
            for s in json.loads(p.read_text())["completed"]
        }

    def _mark_completed(self, start: dt.datetime) -> None:
        done = self._read_completed()
        done.add(start)
        p = pathlib.Path(self.state_path)
        p.parent.mkdir(parents=True, exist_ok=True)
        # write, fsync, then rename: a crash or power loss mid-write leaves
        # the previous state whole, never a truncated file every later run
        # would fail to parse; a failed write removes its temp file
        tmp = p.with_name(p.name + ".tmp")
        try:
            with open(tmp, "w") as f:
                f.write(json.dumps({"completed": sorted(s.isoformat() for s in done)}))
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, p)
        except BaseException:
            tmp.unlink(missing_ok=True)
            raise

    def tick(self, now: dt.datetime) -> dt.datetime | None:
        """Run the latest complete interval if it hasn't run yet; returns
        the interval start that ran, or None if up to date. Intervals
        skipped while down are NOT run (catchup=False) — use backfill."""
        latest = interval_start(now, self.interval)
        if latest in self._read_completed():
            return None
        self.job(latest)
        self._mark_completed(latest)
        return latest

    def backfill(self, start: dt.datetime, now: dt.datetime) -> list[dt.datetime]:
        """Explicit backfill: run every interval in [start, latest] that has
        not already completed. Completed intervals are never re-run, so an
        append-style sink can't double up."""
        latest = interval_start(now, self.interval)
        done = self._read_completed()
        ran = []
        t = start
        while t <= latest:
            if t not in done:
                self.job(t)
                self._mark_completed(t)
                ran.append(t)
            t += self.interval
        return ran
