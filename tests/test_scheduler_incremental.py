"""Scheduler (catchup=False parity) + incremental mart refresh."""


from __future__ import annotations

import pytest

import datetime as dt

from pyspark.sql import functions as F

from weather_api_automate_etl_spark.plans import incremental, pipeline, scheduler


def test_interval_start_is_last_complete_day():
    now = dt.datetime(2026, 8, 13, 7, 30)
    assert scheduler.interval_start(now) == dt.datetime(2026, 8, 12)


def test_tick_runs_once_and_skips_when_current(tmp_path):
    ran = []
    s = scheduler.DailyScheduler(str(tmp_path / "wm.json"), ran.append)
    now = dt.datetime(2026, 8, 13, 7, 30)
    assert s.tick(now) == dt.datetime(2026, 8, 12)
    assert s.tick(now) is None                     # already current
    assert s.tick(now + dt.timedelta(hours=5)) is None
    assert s.tick(now + dt.timedelta(days=1)) == dt.datetime(2026, 8, 13)
    assert ran == [dt.datetime(2026, 8, 12), dt.datetime(2026, 8, 13)]


def test_no_catchup_after_downtime(tmp_path):
    ran = []
    s = scheduler.DailyScheduler(str(tmp_path / "wm.json"), ran.append)
    s.tick(dt.datetime(2026, 8, 1, 6))
    # a week of downtime: catchup=False → only the latest interval runs
    s.tick(dt.datetime(2026, 8, 8, 6))
    assert ran == [dt.datetime(2026, 7, 31), dt.datetime(2026, 8, 7)]
    # explicit backfill fills the gap — but never re-runs the completed
    # 8/7 interval (append-style sinks must not double up)
    filled = s.backfill(dt.datetime(2026, 8, 1), dt.datetime(2026, 8, 8, 6))
    assert filled == [dt.datetime(2026, 8, d) for d in range(1, 7)]


def test_state_write_failing_midway_keeps_previous_state(tmp_path, monkeypatch):
    state = tmp_path / "wm.json"
    s = scheduler.DailyScheduler(str(state), lambda start: None)
    s.tick(dt.datetime(2026, 8, 2, 6))

    class TornFile:
        """A crash halfway through the write: half the bytes land, then die."""

        def __init__(self, path, mode):
            self.f = open(path, mode)

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self.f.close()

        def write(self, data):
            self.f.write(data[: len(data) // 2])
            self.f.flush()
            raise OSError("disk gone")

    monkeypatch.setattr(scheduler, "open", TornFile, raising=False)
    with pytest.raises(OSError, match="disk gone"):
        s.tick(dt.datetime(2026, 8, 3, 6))
    monkeypatch.undo()
    # the previous state is intact and the torn temp file is gone, so the
    # next tick re-runs the interval
    assert list(tmp_path.iterdir()) == [state]
    assert s._read_completed() == {dt.datetime(2026, 8, 1)}
    assert s.tick(dt.datetime(2026, 8, 3, 6)) == dt.datetime(2026, 8, 2)


@pytest.mark.slow
def test_incremental_refresh_touches_only_recent_partitions(spark, tmp_path):
    raw, mart = str(tmp_path / "raw"), str(tmp_path / "marts")
    p = pipeline.WeatherPipeline(
        spark, raw_path=raw, marts_path=mart, pin_extracted_at=True
    )
    p.run(dt.datetime(2026, 1, 1))
    p.run(dt.datetime(2026, 1, 2))

    written = incremental.refresh_incremental(
        spark, raw, mart, since=dt.date(2026, 1, 2)
    )
    # fct refresh covered only day 2 (7 cities), dim covers full history
    assert written["fct_weather_observations"] == 7
    assert written["dim_locations"] >= 1
    # but the mart still contains BOTH days (day-1 partition untouched)
    fct = spark.read.parquet(f"{mart}/fct_weather_observations")
    days = {r.extraction_date for r in fct.select("extraction_date").distinct().collect()}
    assert len(days) == 2 and fct.count() == 14
