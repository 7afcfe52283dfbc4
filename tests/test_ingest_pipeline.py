"""Ingestion source + end-to-end pipeline runner (DAG parity)."""

from __future__ import annotations

import datetime as dt
import re

import pytest
from pyspark.sql import functions as F

from weather_api_automate_etl_spark.operators import marts, staging
from weather_api_automate_etl_spark.plans import pipeline
from weather_api_automate_etl_spark.sources import json_ingest, rest

BATCH = dt.datetime(2026, 1, 1)


def test_fetch_routes_transport_errors(spark):
    def flaky(city: str) -> str:
        if city == "Boom":
            raise ConnectionError("socket closed")
        return rest.fake_fetcher(city)

    fetched = rest.fetch_locations(spark, ["Paris", "Boom"], flaky)
    ok, failed = rest.split_errors(fetched)
    assert ok.count() == 1 and failed.count() == 1
    assert "ConnectionError" in failed.head().fetch_error


def test_decode_routes_api_errors_and_extracts(spark):
    # 'Xanadu' triggers the fake API error envelope (dag :75-77 semantics);
    # 'NoWhere' exercises the location.name fallback via a minimal payload.
    fetched = rest.fetch_locations(spark, ["Paris", "Xanadu"], rest.fake_fetcher)
    ok, _ = rest.split_errors(fetched)
    decoded = json_ingest.decode_payloads(ok)
    obs = json_ingest.extract_observations(decoded, BATCH)
    errs = json_ingest.error_records(decoded)
    assert obs.count() == 1 and errs.count() == 1
    row = obs.head()
    assert row.city == "Paris" and row.data_interval_start == BATCH
    assert row.weather_description in {"Sunny", "Light rain", "Partly cloudy"}
    err = errs.head()
    assert err.error_kind == "api_error" and err.api_error_code == 615


def test_decode_routes_null_payload_rows_to_errors(spark):
    # round-12 review: a NULL raw_json (transport failure reaching decode
    # because the caller skipped split_errors) must route to the error
    # channel, never pass downstream as an all-NULL "good" observation
    fetched = spark.createDataFrame(
        [("Ghent", '{"current": {"temperature": 5}}'), ("Lost", None)],
        "city string, raw_json string",
    )
    decoded = json_ingest.decode_payloads(fetched)
    obs = json_ingest.extract_observations(decoded, BATCH)
    errs = json_ingest.error_records(decoded)
    assert [r.city for r in obs.collect()] == ["Ghent"]
    err = errs.head()
    assert err.city == "Lost" and err.error_kind == "parse_error"


def test_extract_falls_back_to_queried_city(spark):
    fetched = spark.createDataFrame(
        [("Ghent", '{"current": {"temperature": 5}}')], "city string, raw_json string"
    )
    obs = json_ingest.extract_observations(
        json_ingest.decode_payloads(fetched), BATCH
    )
    assert obs.head().city == "Ghent"  # location.get('name', city), dag :96


def test_pipeline_end_to_end(spark, tmp_path):
    p = pipeline.WeatherPipeline(
        spark,
        raw_path=str(tmp_path / "raw"),
        marts_path=str(tmp_path / "marts"),
    )
    results = p.run(BATCH)
    assert [r.name for r in results] == [
        "extract_and_load", "build_staging", "test_staging", "build_marts", "test_marts",
    ]
    assert all(r.error is None for r in results)
    dim = spark.read.parquet(str(tmp_path / "marts/dim_locations"))
    fct = spark.read.parquet(str(tmp_path / "marts/fct_weather_observations"))
    assert dim.count() > 0 and fct.count() > 0
    # star keys agree: every fact row joins
    assert fct.join(dim, "location_key").count() == fct.count()


def _mart_rows(path) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in path.rglob("*.parquet"))


@pytest.mark.parametrize("cities", [["Xanadu"], []], ids=["all-fail", "no-city"])
def test_pipeline_fresh_raw_path_without_good_rows(spark, tmp_path, cities):
    # nothing lands in a fresh raw path: staging must still read it (with
    # the written schema, not by inference) and every stage must complete
    p = pipeline.WeatherPipeline(
        spark,
        raw_path=str(tmp_path / "raw"),
        marts_path=str(tmp_path / "marts"),
        cities=cities,
    )
    results = p.run(BATCH)
    assert [r.name for r in results] == [
        "extract_and_load", "build_staging", "test_staging", "build_marts", "test_marts",
    ]
    assert all(r.error is None for r in results)
    assert _mart_rows(tmp_path / "marts/dim_locations") == 0
    assert _mart_rows(tmp_path / "marts/fct_weather_observations") == 0


def test_pipeline_fetches_once_and_counts_routed_errors(spark, tmp_path, caplog):
    calls = str(tmp_path / "calls.txt")

    def logged(city: str) -> str:
        with open(calls, "a") as f:
            f.write(city + "\n")
        if city == "Boom":
            raise ConnectionError("socket closed")
        return rest.fake_fetcher(city)

    cities = ["Paris", "Boom", "Xanadu", "Tokyo"]
    p = pipeline.WeatherPipeline(
        spark,
        raw_path=str(tmp_path / "raw"),
        marts_path=str(tmp_path / "marts"),
        cities=cities,
        fetcher=logged,
        source_retries=0,
    )
    with caplog.at_level("WARNING", logger=pipeline.__name__):
        p.run(BATCH)
    # a transport failure and an API error envelope, both routed
    assert "2 error records routed to side channel" in caplog.text
    # nothing is cached and only the raw write reads the fetch, so each
    # city's HTTP call happens exactly once
    with open(calls) as f:
        assert sorted(f.read().split("\n")[:-1]) == sorted(cities)
    fct = spark.read.parquet(str(tmp_path / "marts/fct_weather_observations"))
    assert fct.count() == 2


def test_warm_pipeline_interval_job_budget(spark, tmp_path, count_jobs):
    def run(name):
        p = pipeline.WeatherPipeline(
            spark,
            raw_path=str(tmp_path / name / "raw"),
            marts_path=str(tmp_path / name / "marts"),
            cities=[*rest.DEFAULT_CITIES, "Xanadu"],
            pin_extracted_at=True,
        )
        return p.run(BATCH)

    run("untimed")
    jobs, results = count_jobs(lambda: run("warm"))
    assert all(r.error is None for r in results)
    # on local[4]: the raw write 1, the staging read 0, the staging gate
    # aggregate 2, the two mart writes 3, the unique check and the fct
    # gate aggregate 5
    assert jobs <= 11, jobs


_GATE_CASES = [
    (staging, "stg_weather", lambda df: df.withColumn("temperature", F.lit(99)),
     "test_staging", "stg.temperature range"),
    (staging, "stg_weather",
     lambda df: df.withColumn("city_clean", F.lit(None).cast("string")),
     "test_staging", "stg.city_clean not_null"),
    (marts, "dim_locations", lambda df: df.unionByName(df),
     "test_marts", "dim.location_key unique"),
    (marts, "fct_weather_observations",
     lambda df: df.withColumn("location_key", F.lit(None).cast(df.schema["location_key"].dataType)),
     "test_marts", "fct.location_key not_null"),
    (marts, "fct_weather_observations",
     lambda df: df.withColumn("temperature_category", F.lit("Scorching")),
     "test_marts", "fct.temperature_category accepted_values"),
]


@pytest.mark.parametrize(
    "module, builder, doctor, stage, rule",
    [pytest.param(*case, id=case[-1]) for case in _GATE_CASES],
)
def test_pipeline_gate_fails_and_names_its_rule(
    spark, tmp_path, monkeypatch, module, builder, doctor, stage, rule
):
    # staging's own filter drops out-of-range and cityless rows before any
    # gate sees them, so each gate is fed by doctoring its model's output
    build = getattr(module, builder)
    monkeypatch.setattr(module, builder, lambda df: doctor(build(df)))
    p = pipeline.WeatherPipeline(
        spark, raw_path=str(tmp_path / "raw"), marts_path=str(tmp_path / "marts")
    )
    with pytest.raises(
        pipeline.PipelineFailure,
        match=re.escape(f"stage {stage!r} failed after 1 attempts: AssertionError: "
                        f"data-quality test {rule!r} failed"),
    ):
        p.run(BATCH)


def test_stage_retries_then_succeeds():
    attempts = []

    def flaky():
        attempts.append(1)
        if len(attempts) < 3:
            raise RuntimeError("transient")

    res = pipeline.run_stages([pipeline.Stage("s", flaky, retries=2)])
    assert res[0].attempts == 3 and res[0].error is None


def test_stage_fails_fast_after_retries():
    def dead():
        raise RuntimeError("permanent")

    with pytest.raises(pipeline.PipelineFailure, match="permanent"):
        pipeline.run_stages([pipeline.Stage("s", dead, retries=1)])
