"""REST API batch source — the reference's ingestion task, distributed.

The reference fetches one city at a time on the Airflow worker and INSERTs
row-by-row into Postgres (/root/reference/dags/weatherstack_full_pipeline.py:
48-116: per-city HTTP GET :65-70, error-payload skip :75-77, per-city
exception swallow :115-116, single-row INSERT :84-112). Here the same
dataflow is Spark-native and scales to arbitrarily many locations:

- the location list is a DataFrame;
- the fetch runs **on executors** via Arrow-batched ``mapInPandas`` (one
  HTTP call per location, batched per partition — at 100 TB-scale ingest
  you repartition the location list to control fetch parallelism);
- each worker returns the raw JSON payload string (or an error marker), so
  decode + field extraction stay declarative (json_ingest.py) and
  bad records are routed, not dropped silently.

The HTTP call itself is injectable: tests and offline runs pass a
deterministic ``fetcher``; the default uses ``requests`` if present
(gated import — not baked into the container).
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

FETCH_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("city", T.StringType()),
        T.StructField("raw_json", T.StringType()),
        T.StructField("fetch_error", T.StringType()),
    ]
)

#: The reference's static city list (dags/weatherstack_full_pipeline.py:61).
DEFAULT_CITIES = ["Paris", "London", "New York", "Tokyo", "Sydney", "Berlin", "Madrid"]


def http_fetcher(api_url: str, access_key: str) -> Callable[[str], str]:
    """Production fetcher: GET ``api_url?access_key=…&query=<city>`` and
    return the response body (mirrors dag :65-72). Import-gated on
    ``requests``."""

    def fetch(city: str) -> str:
        import requests  # noqa: PLC0415 — optional dependency

        resp = requests.get(
            api_url, params={"access_key": access_key, "query": city}, timeout=30
        )
        return resp.text

    return fetch


def fake_fetcher(city: str) -> str:
    """Deterministic offline fetcher for tests/dev: payload derived from the
    city name; cities starting with 'X' simulate the API error envelope."""
    if city.startswith("X"):
        return json.dumps({"error": {"code": 615, "type": "request_failed", "info": "bad"}})
    h = sum(ord(c) for c in city)
    return json.dumps(
        {
            "location": {"name": city, "country": f"Country{h % 7}"},
            "current": {
                "temperature": h % 61 - 10,
                "weather_descriptions": [["Sunny", "Light rain", "Partly cloudy"][h % 3]],
                "humidity": h % 100,
                "wind_speed": h % 40,
                "wind_dir": "NW",
                "pressure": 980 + h % 60,
                "visibility": h % 10,
                "uv_index": h % 11,
                "observation_time": "12:00 PM",
            },
        }
    )


def fetch_locations(
    spark: SparkSession,
    cities: list[str] | None = None,
    fetcher: Callable[[str], str] = fake_fetcher,
    parallelism: int | None = None,
) -> DataFrame:
    """Distributed fetch: city DataFrame → (city, raw_json, fetch_error).

    Transport-level failures are captured per row (the reference's per-city
    try/except, dag :115-116) instead of failing the job — error routing is
    a filter downstream, never a crash."""
    import pandas as pd

    cities = cities if cities is not None else DEFAULT_CITIES
    # a pandas frame becomes an Arrow local relation; a Python list would
    # first be pickled through a Python worker
    cities_df = spark.createDataFrame(
        pd.DataFrame({"city": pd.Series(cities, dtype=object)}), "city string"
    )
    if parallelism:
        cities_df = cities_df.repartition(parallelism)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raws, errs = [], []
            for city in pdf["city"]:
                try:
                    raws.append(fetcher(city))
                    errs.append(None)
                except Exception as exc:  # noqa: BLE001 — per-row routing by design
                    raws.append(None)
                    errs.append(f"{type(exc).__name__}: {exc}")
            yield pd.DataFrame(
                {"city": pdf["city"], "raw_json": raws, "fetch_error": errs}
            )

    return cities_df.mapInPandas(run, FETCH_RESULT_SCHEMA)


def split_errors(fetched: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Route transport failures to a side channel: (ok, failed)."""
    ok = fetched.filter(F.col("fetch_error").isNull()).drop("fetch_error")
    failed = fetched.filter(F.col("fetch_error").isNotNull())
    return ok, failed
