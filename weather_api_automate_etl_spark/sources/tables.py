"""Testdata catalog — parquet scans with type normalization.

Plays the role of dbt's ``source()``/``ref()`` resolution
(dbt/models/staging/_staging__sources.yml:4-9, stg_weather.sql:37): a
name → relation mapping. Catalyst then owns predicate pushdown and column
pruning through these scans — ``.explain`` on any query over these shows
PushedFilters/ReadSchema reaching the parquet source.

Like ``source()``, which resolves against the catalog without running a
query, a fixture's schema is resolved once per process: the first read of
a file infers it (a Spark job) and every later read declares it
(``read_fixture``, no job). The cache key is the file's identity plus the
parquet read confs that change the inferred types, so a rewritten file or
a session with other confs infers afresh.

The one normalization: ``events.ts`` has shipped as parquet
TIMESTAMP(NANOS) in some fixture generations (read as a raw ns-epoch long
under ``spark.sql.legacy.parquet.nanosAsLong``) and TIMESTAMP(MICROS) in
others (read natively as timestamp_ntz). ``load_table`` guards on the
observed dtype: bigint takes **integer** division (``ts div 1000`` — ns
epochs ~1.7e18 exceed double's 2^53 mantissa, so float division would
corrupt microseconds) then casts to timestamp_ntz; native timestamps pass
through. The DuckDB oracle mirrors both with ``CAST(ts AS TIMESTAMP)``.
The streaming stager (queries_streaming.py::_staged_event_stream) takes the
dtype from the same cached schema before declaring its stream schema.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from weather_api_automate_etl_spark.functions.layout import spread_if_narrow
from weather_api_automate_etl_spark.schemas import TESTDATA_TABLES

#: Tables whose per-row expression cost dwarfs their byte size (md5-heavy
#: shingling/minhash over text). For these, single-partition inputs serialize
#: the CPU work, so redistribution pays for its shuffle many times over.
#: Relational tables are deliberately excluded: measured at sf0.1, the
#: shuffle costs more than the 1-core penalty for scan+agg/join shapes.
_COMPUTE_BOUND_TABLES = frozenset({"documents"})

#: parquet read confs that change the types schema inference produces
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)

#: inferred schema per (resolved path, inode, size, mtime_ns, conf values)
_SCHEMAS: dict[tuple, StructType] = {}


def _ensure_engine_confs(spark: SparkSession) -> None:
    """Self-configure sessions we didn't build (e.g. the driver's): UTC
    timestamps (oracle hash parity) and ns-as-long parquet reads. Both are
    runtime-settable SQLConfs."""
    for key, val in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ):
        try:
            if spark.conf.get(key, None) != val:
                spark.conf.set(key, val)
        except Exception:  # noqa: BLE001 — leave immutable confs alone
            pass


def read_fixture(spark: SparkSession, path: str) -> DataFrame:
    """Read one parquet fixture file, inferring its schema only the first
    time this process sees the file under the session's read confs.

    A miss is the plain inferring read (one Spark job); its schema is
    remembered. A hit declares that schema, so no job runs. A path that
    cannot be stat'ed (a missing file, a non-local URI) is never cached:
    it takes the inferring read, which raises as it always did."""
    _ensure_engine_confs(spark)
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    key = (
        os.path.realpath(path),
        st.st_ino,
        st.st_size,
        st.st_mtime_ns,
        tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS),
    )
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalizing ns-timestamp columns."""
    df = read_fixture(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    # The fixture tables ship as ONE single-row-group parquet file each —
    # unsplittable, so downstream stages execute on one core no matter the
    # cluster. Compute-bound tables are spread to the session's parallelism
    # when narrow; Catalyst still pushes filters/pruning through the
    # repartition into the scan.
    if name in _COMPUTE_BOUND_TABLES:
        df = spread_if_narrow(df)
    return df


def register_testdata(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (SQL entry point)."""
    for name in TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
