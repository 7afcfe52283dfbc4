"""Pipeline runner — the Airflow DAG re-expressed as a fail-fast job chain.

The reference orchestrates seven tasks linearly under SequentialExecutor
(/root/reference/dags/weatherstack_full_pipeline.py:172: create_table >>
extract_load >> dbt staging >> dbt test >> dbt marts >> dbt test >> docs),
with retries=2 / 5-minute delay on every task (:17-18) and @daily
scheduling with no backfill (:124-125).

Spark mapping (SURVEY.md §2.6 ops 26-28): each stage is a Python callable
sharing one SparkSession; the chain fails fast like Airflow's
trigger_rule="all_success"; retries apply per stage (only the HTTP source
meaningfully needs them); the schedule is external (cron / driver) and
threads ``data_interval_start`` through as the batch parameter.

Each stage issues the fewest Spark actions its contract needs (a warm
interval runs 11 jobs on local[4]):

- ingest is the raw write alone: the fetch is not cached and runs once
  per city inside it, and the routed-error count is an observed metric
  of the same job;
- raw and the marts are read back with the schema of the frame that
  wrote them, never inferred (an inference job per read, and a failure
  on a fresh raw path that no good row reached);
- the row-level gates of a table are one ``count_if`` aggregate
  (``quality.expect_rules``) where dbt runs a query per test; ``unique``
  stays its own grouped check.
"""

from __future__ import annotations

import datetime as dt
import logging
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Observation, SparkSession, functions as F

from weather_api_automate_etl_spark.operators import marts, quality, staging
from weather_api_automate_etl_spark.sources import json_ingest, rest

log = logging.getLogger(__name__)


@dataclass
class Stage:
    name: str
    fn: Callable[[], object]
    retries: int = 0
    retry_delay_s: float = 0.0


@dataclass
class StageResult:
    name: str
    attempts: int
    seconds: float
    error: str | None = None


class PipelineFailure(RuntimeError):
    pass


def run_stages(stages: list[Stage]) -> list[StageResult]:
    """Linear fail-fast execution with per-stage retry (ops 26-28)."""
    results: list[StageResult] = []
    for stage in stages:
        start, attempt, last_err = time.monotonic(), 0, None
        while True:
            attempt += 1
            try:
                stage.fn()
                results.append(
                    StageResult(stage.name, attempt, time.monotonic() - start)
                )
                break
            except Exception as exc:  # noqa: BLE001 — retry semantics
                last_err = f"{type(exc).__name__}: {exc}"
                log.warning("stage %s attempt %d failed: %s", stage.name, attempt, last_err)
                if attempt > stage.retries:
                    results.append(
                        StageResult(
                            stage.name, attempt, time.monotonic() - start, last_err
                        )
                    )
                    raise PipelineFailure(
                        f"stage {stage.name!r} failed after {attempt} attempts: {last_err}"
                    ) from exc
                time.sleep(stage.retry_delay_s)
    return results


@dataclass
class WeatherPipeline:
    """The reference DAG end-to-end: ingest → staging → tests → marts → tests.

    ``fetcher`` is injectable (offline/deterministic by default); paths are
    parquet directories playing the raw/marts schemas' role."""

    spark: SparkSession
    raw_path: str
    marts_path: str
    cities: list[str] = field(default_factory=lambda: list(rest.DEFAULT_CITIES))
    fetcher: Callable[[str], str] = rest.fake_fetcher
    source_retries: int = 2
    retry_delay_s: float = 0.0
    #: pin extracted_at to the batch interval (reproducible reruns /
    #: deterministic partition routing) instead of the write-time clock
    pin_extracted_at: bool = False

    def run(self, data_interval_start: dt.datetime) -> list[StageResult]:
        ctx: dict = {}

        def extract_and_load() -> None:
            # The raw write is the only action: the fetch runs once per city
            # inside it, and the routed-error count is observed on the same
            # job (a transport failure's NULL raw_json counts as parse_error).
            errors = Observation("routed_errors")
            decoded = json_ingest.decode_payloads(
                rest.fetch_locations(self.spark, self.cities, self.fetcher)
            ).observe(errors, F.count_if(json_ingest.error_flag()).alias("n"))
            obs = json_ingest.extract_observations(
                decoded,
                data_interval_start,
                extracted_at=data_interval_start if self.pin_extracted_at else None,
            )
            ctx["raw_schema"] = json_ingest.append_raw(obs, self.raw_path)
            n_err = errors.get["n"]
            if n_err:
                log.warning("%d error records routed to side channel", n_err)

        def build_staging() -> None:
            # SERIAL id surrogate (dag :27): Spark has no autoincrement; the
            # tested properties are uniqueness and stability. A deterministic
            # content hash gives both AND (unlike monotonically_increasing_id,
            # which is nondeterministic and blocks predicate pushdown through
            # the projection) lets Catalyst push staging's filters into the
            # scan. One row per (city, interval) by ingest construction.
            raw = (
                self.spark.read.schema(ctx["raw_schema"])
                .parquet(self.raw_path)
                .withColumn("id", F.xxhash64("city", "country", "data_interval_start"))
            )
            ctx["stg"] = staging.stg_weather(raw)
            ctx["stg"].createOrReplaceTempView("stg_weather")

        def test_staging() -> None:
            quality.expect_rules(
                ctx["stg"],
                {
                    "stg.city_clean not_null": "city_clean IS NULL",
                    "stg.temperature range": "temperature < -50 OR temperature > 60",
                },
            )

        def build_marts() -> None:
            ctx["dim"] = marts.dim_locations(ctx["stg"])
            ctx["fct"] = marts.fct_weather_observations(ctx["stg"])
            marts.write_mart(ctx["dim"], f"{self.marts_path}/dim_locations", partition_by=None)
            marts.write_mart(ctx["fct"], f"{self.marts_path}/fct_weather_observations")

        def test_marts() -> None:
            dim = self.spark.read.schema(ctx["dim"].schema).parquet(
                f"{self.marts_path}/dim_locations"
            )
            fct = self.spark.read.schema(ctx["fct"].schema).parquet(
                f"{self.marts_path}/fct_weather_observations"
            )
            quality.expect_empty(
                quality.unique_violations(dim, "location_key"), "dim.location_key unique"
            )
            quality.expect_rules(
                fct,
                {
                    "fct.location_key not_null": "location_key IS NULL",
                    "fct.temperature_category accepted_values": (
                        "temperature_category NOT IN ('Freezing', 'Cold', 'Mild', 'Warm', 'Hot')"
                    ),
                },
            )

        return run_stages(
            [
                Stage("extract_and_load", extract_and_load, self.source_retries, self.retry_delay_s),
                Stage("build_staging", build_staging),
                Stage("test_staging", test_staging),
                Stage("build_marts", build_marts),
                Stage("test_marts", test_marts),
            ]
        )
