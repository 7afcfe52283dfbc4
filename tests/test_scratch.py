"""``queries.scratch``: the one owner of a query run's scratch directories.

It makes its parent under ``tempfile.gettempdir()`` at call time, never
creates the children callers name, and removes everything on return and
on raise — including when a streaming sink fails halfway through a
query."""

from __future__ import annotations

import os
import tempfile

import pytest

from weather_api_automate_etl_spark.queries import REGISTRY, _load_extensions, scratch
from weather_api_automate_etl_spark.streaming import sinks

from conftest import SF_SMALL


@pytest.fixture()
def tmpdir_root(tmp_path, monkeypatch):
    root = tmp_path / "tmp"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    return root


def _fill(base: str) -> None:
    os.makedirs(f"{base}/table/p=1")
    with open(f"{base}/table/p=1/part-0.parquet", "w") as f:
        f.write("x")


def test_scratch_honours_tempdir_and_leaves_children_unmade(tmpdir_root):
    with scratch("q_x") as base:
        assert os.path.dirname(base) == str(tmpdir_root)
        assert os.path.basename(base).startswith("q_x_")
        assert os.listdir(base) == []
        for child in ("table", "ckpt", "stage", "mv", "sink"):
            assert not os.path.exists(f"{base}/{child}")


def test_scratch_removes_everything_on_return_and_on_raise(tmpdir_root):
    def returns() -> str:
        with scratch("q_ret") as base:
            _fill(base)
            return base

    assert not os.path.exists(returns())
    assert os.listdir(tmpdir_root) == []
    with pytest.raises(RuntimeError, match="boom"):
        with scratch("q_raise") as base:
            _fill(base)
            raise RuntimeError("boom")
    assert not os.path.exists(base)
    assert os.listdir(tmpdir_root) == []


@pytest.mark.parametrize(
    "name,sink",
    [
        ("q_streaming_merge_sink", "stream_merge_into_mart"),
        ("q_streaming_ledger_sink", "stream_merge_into_ledger"),
        ("q_streaming_mv", "stream_merge_with_mv"),
        ("q_streaming_cdc_apply", "stream_apply_cdc_into_ledger"),
    ],
)
def test_streaming_sink_query_leaves_nothing_when_its_sink_raises(
    spark, tmpdir_root, monkeypatch, name, sink
):
    """The sink fails after leaving a partial table behind; the query's
    stage, table and checkpoint must all go with its scratch dir."""

    def fail(stream_df, table_path, *args, **kwargs):
        os.makedirs(f"{table_path}/_ledger")
        raise RuntimeError(f"{sink} failed")

    _load_extensions()
    monkeypatch.setattr(sinks, sink, fail)
    with pytest.raises(RuntimeError, match=f"{sink} failed"):
        REGISTRY[name].fn(spark, SF_SMALL)
    assert os.listdir(tmpdir_root) == []
