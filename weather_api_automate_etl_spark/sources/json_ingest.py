"""JSON decode + nested field extraction — the ingestion transform.

Declarative rebuild of the reference's Python dict-walking
(/root/reference/dags/weatherstack_full_pipeline.py:72-112):

- ``response.json()`` → ``from_json`` against the declared payload struct;
- API-error payloads (``'error' in data``, dag :75-77) → routed out by
  filter, not ``continue``;
- ``current.*`` / ``location.*`` extraction incl.
  ``weather_descriptions[0]`` (dag :100) → ``element_at(arr, 1)``;
- ``location.get('name', city)`` fallback (dag :96) → ``coalesce``;
- write-time defaults: ``extracted_at`` (DDL default, dag :39) and the
  Airflow ``data_interval_start`` lineage stamp (dag :108).

Everything is a narrow projection — decode of a trillion payloads is a
scan, no shuffle.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import StructType

from weather_api_automate_etl_spark.schemas import WEATHERSTACK_RESPONSE


def decode_payloads(fetched: DataFrame) -> DataFrame:
    """(city, raw_json) → parsed struct + error class columns.

    ``parse_error`` marks undecodable JSON (from_json → null) — including
    a NULL ``raw_json``, so a caller that skips ``rest.split_errors``
    still routes transport-failed rows to the error channel instead of
    passing them downstream as all-NULL "good" observations (round-12
    review); ``api_error`` marks well-formed error envelopes
    (dag :75-77)."""
    parsed = F.from_json(F.col("raw_json"), WEATHERSTACK_RESPONSE)
    return fetched.withColumn("payload", parsed).withColumn(
        "parse_error", F.col("payload").isNull()
    ).withColumn("api_error", F.col("payload.error").isNotNull())


def extract_observations(
    decoded: DataFrame,
    batch_start: dt.datetime,
    extracted_at: dt.datetime | None = None,
) -> DataFrame:
    """Good payloads → typed raw.weather rows (schema §1.2, minus id).

    Mirrors the field mapping of dag :96-107 exactly, including the
    queried-city fallback for location.name. ``extracted_at`` defaults to
    the write-time clock (the reference's column DEFAULT, dag :39); pass a
    value to pin it to the batch interval for reproducible reruns."""
    good = decoded.filter(~F.col("parse_error") & ~F.col("api_error"))
    cur = F.col("payload.current")
    loc = F.col("payload.location")
    extracted_col = (
        # isoformat string → ntz is a pure wall-clock parse; lit(datetime)
        # routes through the session timezone and shifts under non-UTC
        # driver sessions
        F.lit(extracted_at.isoformat()).cast("timestamp_ntz")
        if extracted_at is not None
        else F.current_timestamp().cast("timestamp_ntz")
    )
    return good.select(
        F.coalesce(loc.getField("name"), F.col("city")).alias("city"),
        loc.getField("country").alias("country"),
        cur.getField("temperature").alias("temperature"),
        F.element_at(cur.getField("weather_descriptions"), 1).alias(
            "weather_description"
        ),
        cur.getField("humidity").alias("humidity"),
        cur.getField("wind_speed").alias("wind_speed"),
        cur.getField("wind_dir").alias("wind_direction"),
        cur.getField("pressure").alias("pressure"),
        cur.getField("visibility").alias("visibility"),
        cur.getField("uv_index").alias("uv_index"),
        cur.getField("observation_time").alias("observation_time"),
        extracted_col.alias("extracted_at"),
        F.lit(batch_start.isoformat()).cast("timestamp_ntz").alias(
            "data_interval_start"
        ),
        F.col("raw_json"),
    )


def error_flag() -> Column:
    """TRUE on a decoded row routed to the bad-record side channel."""
    return F.col("parse_error") | F.col("api_error")


def error_records(decoded: DataFrame) -> DataFrame:
    """The bad-record side channel (parse failures + API error envelopes)."""
    return decoded.filter(error_flag()).select(
        "city",
        "raw_json",
        F.when(F.col("parse_error"), F.lit("parse_error"))
        .otherwise(F.lit("api_error"))
        .alias("error_kind"),
        F.col("payload.error.code").alias("api_error_code"),
        F.col("payload.error.type").alias("api_error_type"),
    )


def append_raw(observations: DataFrame, path: str) -> StructType:
    """Row-append sink (dag :84-112) as one distributed write.

    The reference INSERTs row-at-a-time with no dedup; here each batch
    lands as a dynamic overwrite of the ingest-date partitions it touches.
    Across intervals that is append-only (new partition per day), but a
    retried or re-run batch replaces its own partition instead of
    duplicating it — the retry policy (pipeline ops 26-28) requires the
    sink to be idempotent per interval.

    Returns the schema of the written frame, partition column included:
    readers declare it instead of inferring it, which costs a Spark job
    per read and fails on a table that holds no file yet."""
    raw = observations.withColumn("ingest_date", F.to_date("data_interval_start"))
    (
        raw.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_date")
        .parquet(path)
    )
    return raw.schema
