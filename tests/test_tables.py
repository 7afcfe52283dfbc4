"""Fixture reads: the per-process schema cache behind ``load_table`` and the
streaming stager, and the events ``ts`` normalization it feeds."""

from __future__ import annotations

import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from weather_api_automate_etl_spark.queries import REGISTRY, _load_extensions
from weather_api_automate_etl_spark.queries_streaming import _drain_stream
from weather_api_automate_etl_spark.sources.tables import load_table

from conftest import SF_SMALL

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _write_events(sf_dir, unit: str, n: int = 200) -> str:
    """The first ``n`` fixture events with ``ts`` stored at ``unit``."""
    t = pq.read_table(f"{SF_SMALL}/events.parquet").slice(0, n)
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t.column("ts").cast(pa.timestamp(unit)))
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(t, f"{sf_dir}/events.parquet")
    return str(sf_dir)


def _fixture_micros(n: int = 200):
    t = pq.read_table(f"{SF_SMALL}/events.parquet").slice(0, n)
    ts = t.column("ts").cast(pa.timestamp("us")).cast(pa.int64())
    return sorted(zip(t.column("event_id").to_pylist(), ts.to_pylist()))


def _micros(df):
    return sorted(
        (r[0], r[1])
        for r in df.select(
            "event_id", F.unix_micros(F.col("ts").cast("timestamp"))
        ).collect()
    )


def test_load_table_infers_schema_once(spark, count_jobs, tmp_path):
    shutil.copy(f"{SF_SMALL}/orders.parquet", tmp_path / "orders.parquet")
    first_jobs, first = count_jobs(lambda: load_table(spark, str(tmp_path), "orders"))
    again_jobs, again = count_jobs(lambda: load_table(spark, str(tmp_path), "orders"))
    assert (first_jobs, again_jobs) == (1, 0)
    assert again.schema == first.schema
    assert again.count() == first.count()


def test_warm_queries_build_with_zero_jobs(spark, count_jobs):
    _load_extensions()
    names = ("q_pricing_summary", "q_join_fct_dim", "q_minhash_pairs", "q_basket_pairs")
    for name in names:
        REGISTRY[name].fn(spark, SF_SMALL)
    for name in names:
        jobs, _ = count_jobs(lambda: REGISTRY[name].fn(spark, SF_SMALL))
        assert jobs == 0, f"{name} ran {jobs} jobs while building"


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a", "b"]
    pq.write_table(pa.table({"a": [3], "b": ["z"], "c": [1.5]}), path)
    got = load_table(spark, str(tmp_path), "t")
    assert got.columns == ["a", "b", "c"]
    assert [tuple(r) for r in got.collect()] == [(3, "z", 1.5)]


def test_load_normalizes_ts_with_nanos_conf_unset(spark, count_jobs, tmp_path):
    sf = _write_events(tmp_path, "ns")
    spark.conf.unset(NANOS)
    cold = load_table(spark, sf, "events")
    spark.conf.unset(NANOS)
    jobs, warm = count_jobs(lambda: load_table(spark, sf, "events"))
    assert jobs == 0
    assert dict(warm.dtypes)["ts"] == dict(cold.dtypes)["ts"] == "timestamp_ntz"
    assert _micros(warm) == _micros(cold) == _fixture_micros()


def test_ns_and_us_events_read_identically(spark, tmp_path):
    ns = _write_events(tmp_path / "ns", "ns")
    us = _write_events(tmp_path / "us", "us")
    batch = [_micros(load_table(spark, sf, "events")) for sf in (ns, us)]
    assert batch[0] == batch[1] == _fixture_micros()
    for sf in (ns, us):
        drained = _drain_stream(
            spark, sf, "tables_ts_drain", lambda s: s.select("event_id", "ts"),
            output_mode="append",
        )
        assert _micros(drained) == batch[0]


def test_stager_leaves_no_dir_when_probe_fails(spark, tmp_path, monkeypatch):
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    (tmp_path / "empty").mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    with pytest.raises(Exception):
        _drain_stream(spark, str(tmp_path / "empty"), "leak", lambda s: s)
    assert os.listdir(scratch) == []


def test_documents_load_is_spread(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    assert docs.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
