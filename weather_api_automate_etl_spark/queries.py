"""Driver-contract query registry: Spark query + DuckDB oracle twin pairs.

One entry per operator in SURVEY.md §2 (the reference's declared surface,
transplanted onto the driver testdata per FIXTURES.md §B) plus the
LLM-data-pipeline extensions (§2.7). ``__spark_entry__.py`` exposes this
registry to the driver, which hash-compares each Spark result against its
oracle at sf0.01 (row count + schema + order-insensitive value hash).

A query's module is its family. This module holds the registry, the
reference-DAG core queries (§2.1-2.5) and the oracle fragments that two or
more families share; each ``queries_<family>.py`` (text, stats, dedup,
similarity, ...) holds one family's queries and the fragments only it uses.

Conventions that keep the hash comparison exact:
- every computed column is aliased identically in Spark and SQL;
- double aggregates are ``round()``-ed on both sides (sums of doubles are
  order-dependent in the last ulp; rounding makes them stable);
- ``events.ts`` is ns-precision parquet: Spark reads ns-as-long and converts
  with integer div (sources/tables.py), the oracle uses
  ``CAST(ts AS TIMESTAMP)`` — both truncate ns→µs;
- the Spark session runs in UTC (session.py) so timestamps hash identically;
- content hashes are md5 (portable), never Spark ``hash()``;
- dot products fold sequentially in double on both engines (Spark
  ``aggregate``; DuckDB ``list_sum`` over an index-ordered transform,
  ``_DOT_SQL``), so scores are bit-identical before the defensive round(6);
- DuckDB tokenizes text as ``_TOKENS_SQL`` (lower, trim, split on runs of
  whitespace), the twin of ``functions/text.py``'s Spark tokenizer;
- MinHash signatures and random-hyperplane LSH buckets have one SQL twin
  each (``_MINHASH_SIG_SQL``, ``_lsh_oracle``), the synthetic-PII text one
  derivation per engine (``_PII_AUG_SQL`` / ``_pii_aug_col``), and the
  redaction SQL is rendered from ``operators/privacy.py``'s rules
  (``_pii_rules_sql``);
- DuckDB ``len()``/``row_number()`` return BIGINT where Spark returns int —
  oracles cast explicitly;
- a query that writes (ledgers, marts, stream stages, checkpoints) does so
  under ``with scratch(name) as base:``, which removes the directory on
  return and on raise, so the returned frame must not read from it.
"""

from __future__ import annotations

import json
import shutil
import tempfile
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.functions.core import (
    ilike_recode,
    pg_dow,
    pg_hour,
    surrogate_key,
    temperature_category,
)
from weather_api_automate_etl_spark.operators import quality, similarity
from weather_api_automate_etl_spark.sources.tables import load_table


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(fn, oracle)
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@contextmanager
def scratch(name: str) -> Iterator[str]:
    """The one owner of a query run's scratch state (ledgers, marts,
    stream stages, checkpoints, sinks): yields a fresh, empty parent
    directory ``{name}_*`` made under ``tempfile.gettempdir()`` at call
    time, and removes it with everything under it on exit — on return
    and on raise. A query that needs one directory uses the parent; one
    that needs several, or a path that must not exist yet (a sink that
    bootstraps a missing table), uses children such as
    ``f"{base}/table"``, which this never creates."""
    base = tempfile.mkdtemp(prefix=f"{name}_")
    try:
        yield base
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# Oracle fragments shared by two or more query families (conventions above)
# ---------------------------------------------------------------------------

_TOKENS_SQL = "regexp_split_to_array(lower(trim(text)), '\\s+')"

_MINHASH_SIG_SQL = """
    WITH base AS (
      SELECT doc_id, lower(trim(text)) AS txt, {toks} AS tk FROM documents
    ),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(tk) >= 3
                  THEN [array_to_string(tk[i:i+2], ' ') FOR i IN range(1, len(tk) - 1)]
                  ELSE [txt] END AS shingles
      FROM base
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    mh AS (
      SELECT doc_id, j, min(md5(CAST(j AS VARCHAR) || ':' || s)) AS mh
      FROM ex CROSS JOIN (SELECT unnest(range(8)) AS j) js
      GROUP BY doc_id, j
    ),
    sig AS (
      SELECT doc_id, CAST(j // 2 AS INTEGER) AS band_id,
             md5(string_agg(mh, ',' ORDER BY j)) AS bucket
      FROM mh GROUP BY doc_id, j // 2
    )
""".format(toks=_TOKENS_SQL)

_DOT_SQL = (
    "list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


def _lsh_oracle(n_planes: int = 8, dim: int = 64) -> str:
    terms = []
    for p in range(n_planes):
        vals = ", ".join(f"{v:.17e}" for v in similarity._hyperplane(p, dim))
        proj = (
            f"list_sum(list_transform(range(1, len(embedding) + 1), "
            f"i -> CAST(embedding[i] AS DOUBLE) * list_value({vals})[i]))"
        )
        terms.append(f"CASE WHEN {proj} >= 0 THEN {1 << p} ELSE 0 END")
    return (
        "SELECT vec_id, CAST(" + " + ".join(terms) + " AS INTEGER) AS bucket FROM embeddings"
    )


#: the synthetic-PII augmentation (the fixture text carries no real PII, so
#: the redaction path is exercised on deterministically generated contact
#: strings appended to each doc — same derivation in Spark and the oracle)
_PII_AUG_SQL = """
    substr(text, 1, 40)
    || ' contact user' || CAST(doc_id AS VARCHAR)
    || '@mail' || CAST(doc_id % 7 AS VARCHAR)
    || '.example.com call +1-555-'
    || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
    || '-' || lpad(CAST(doc_id * 3 % 10000 AS VARCHAR), 4, '0')
    || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR)
    || '.' || CAST(doc_id * 3 % 256 AS VARCHAR)
    || '.' || CAST(doc_id * 7 % 256 AS VARCHAR)
    || ' card 4111-1111-1111-'
    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
    || ' or 555' || lpad(CAST(doc_id * 11 % 10000000 AS VARCHAR), 7, '0')
    || ' amex 3714-496353-' || lpad(CAST(doc_id * 13 % 100000 AS VARCHAR), 5, '0')
"""


def _pii_aug_col() -> "Column":  # noqa: F821
    d = F.col("doc_id")
    return F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact user"), d.cast("string"),
        F.lit("@mail"), (d % 7).cast("string"),
        F.lit(".example.com call +1-555-"),
        F.lpad((d % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((d * 3 % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10."), (d % 256).cast("string"),
        F.lit("."), (d * 3 % 256).cast("string"),
        F.lit("."), (d * 7 % 256).cast("string"),
        F.lit(" card 4111-1111-1111-"),
        F.lpad((d % 10000).cast("string"), 4, "0"),
        # contiguous 10-digit phone + Amex 4-6-5 card: raw forms with no
        # separators, which a redactor keyed on the dashed forms misses
        F.lit(" or 555"),
        F.lpad((d * 11 % 10000000).cast("string"), 7, "0"),
        F.lit(" amex 3714-496353-"),
        F.lpad((d * 13 % 100000).cast("string"), 5, "0"),
    )


def _pii_rules_sql() -> tuple[str, str]:
    """(redacted_expr, count_cols) SQL mirroring operators/privacy.py —
    built from the SAME PII_RULES tuple so the twins cannot drift."""
    from weather_api_automate_etl_spark.operators.privacy import PII_RULES

    redacted = "raw"
    counts = []
    for kind, pattern, repl in PII_RULES:
        lit = pattern.replace("'", "''")
        redacted = f"regexp_replace({redacted}, '{lit}', '{repl}', 'g')"
        counts.append(
            f"CAST(len(regexp_extract_all(raw, '{lit}')) AS BIGINT) AS n_{kind}"
        )
    total = " + ".join(
        f"len(regexp_extract_all(raw, '{p.replace(chr(39), chr(39) * 2)}'))"
        for _, p, _ in PII_RULES
    )
    return redacted, ",\n           ".join(counts) + f",\n           ({total}) > 0 AS has_pii"


_PII_REDACTED_SQL, _PII_COUNTS_SQL = _pii_rules_sql()


# ---------------------------------------------------------------------------
# §2.2 — projection / filter / scalar expressions
# ---------------------------------------------------------------------------


@query(
    "q_string_normalize",
    oracle="""
    SELECT c_custkey, trim(upper(c_name)) AS name_clean, c_mktsegment
    FROM customer
    """,
)
def q_string_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIM(UPPER()) normalization — stg_weather.sql:8-9 (SURVEY §2 op 13)."""
    return t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.trim(F.upper(F.col("c_name"))).alias("name_clean"),
        "c_mktsegment",
    )


@query(
    "q_case_ilike",
    oracle="""
    SELECT p_partkey, p_type,
           CASE WHEN p_type ILIKE '%economy%' THEN 'Budget'
                WHEN p_type ILIKE '%promo%'   THEN 'Promo'
                WHEN p_type ILIKE '%small%'   THEN 'Compact'
                ELSE trim(p_type) END AS type_category
    FROM part
    """,
)
def q_case_ilike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered ILIKE recode, first match wins — stg_weather.sql:11-16 (op 14)."""
    return t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_type",
        ilike_recode(
            "p_type",
            [("economy", "Budget"), ("promo", "Promo"), ("small", "Compact")],
        ).alias("type_category"),
    )


@query(
    "q_range_bucket",
    oracle="""
    SELECT CASE WHEN l_quantity < 0 THEN 'Freezing'
                WHEN l_quantity BETWEEN 0  AND 10 THEN 'Cold'
                WHEN l_quantity BETWEEN 11 AND 20 THEN 'Mild'
                WHEN l_quantity BETWEEN 21 AND 30 THEN 'Warm'
                ELSE 'Hot' END AS quantity_bucket,
           COUNT(*) AS n_rows,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty
    FROM lineitem
    GROUP BY 1
    """,
)
def q_range_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusive CASE/BETWEEN bucketing — stg_weather.sql:27-33 (op 15)."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy(temperature_category("l_quantity").alias("quantity_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
        )
    )


@query(
    "q_quality_filter",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE value IS NOT NULL AND value BETWEEN -50 AND 60
      AND event_type IS NOT NULL
    """,
)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aberrant-row quality filter — stg_weather.sql:39-42 (op 17).

    Pushed into the parquet scan by Catalyst (PushedFilters in .explain)."""
    v = F.col("value")
    return (
        t(spark, sf_dir, "events")
        .filter(v.isNotNull() & v.between(-50, 60) & F.col("event_type").isNotNull())
        .select("event_id", "user_id", "event_type", "value")
    )


@query(
    "q_date_parts",
    oracle="""
    SELECT event_id,
           CAST(CAST(ts AS TIMESTAMP) AS DATE) AS extraction_date,
           CAST(date_part('hour', CAST(ts AS TIMESTAMP)) AS INTEGER) AS extraction_hour,
           CAST(date_part('dow',  CAST(ts AS TIMESTAMP)) AS INTEGER) AS day_of_week
    FROM events
    """,
)
def q_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATE() + Postgres hour/dow parts — stg_weather.sql:35,
    fct_weather_observations.sql:21-22 (ops 16, 18; dow 0=Sunday)."""
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.to_date("ts").alias("extraction_date"),
        pg_hour("ts").alias("extraction_hour"),
        pg_dow("ts").alias("day_of_week"),
    )


@query(
    "q_surrogate_key",
    oracle="""
    SELECT c_custkey,
           trim(upper(c_name)) AS city_clean,
           nullif(trim(upper(n_name)), 'FRANCE') AS country_clean,
           md5(concat_ws('-',
               coalesce(CAST(trim(upper(c_name)) AS VARCHAR), '_dbt_utils_surrogate_key_null_'),
               coalesce(CAST(nullif(trim(upper(n_name)), 'FRANCE') AS VARCHAR), '_dbt_utils_surrogate_key_null_')
           )) AS location_key
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    """,
)
def q_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt_utils generate_surrogate_key, byte-exact incl. the null sentinel —
    dim_locations.sql:7 / fct_weather_observations.sql:9 (op 19). The
    ``nullif`` deliberately exercises the null-sentinel path."""
    cust = t(spark, sf_dir, "customer")
    nat = t(spark, sf_dir, "nation")
    city = F.trim(F.upper(F.col("c_name")))
    country = F.nullif(F.trim(F.upper(F.col("n_name"))), F.lit("FRANCE"))
    return (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .select(
            "c_custkey",
            city.alias("city_clean"),
            country.alias("country_clean"),
            surrogate_key(city, country).alias("location_key"),
        )
    )


# ---------------------------------------------------------------------------
# §2.3 — aggregation
# ---------------------------------------------------------------------------


@query(
    "q_groupby_minmax_count",
    oracle="""
    SELECT o_custkey,
           MIN(o_orderdate) AS first_order,
           MAX(o_orderdate) AS last_order,
           COUNT(*) AS total_observations
    FROM orders
    GROUP BY o_custkey
    """,
)
def q_groupby_minmax_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key hash aggregate with MIN/MAX/COUNT — dim_locations.sql:10-15
    (op 20). Catalyst runs partial+final hash agg (map-side combine)."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("total_observations"),
        )
    )


@query(
    "q_distinct",
    oracle="""
    SELECT DISTINCT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    """,
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT atop GROUP BY — dim_locations.sql:6 (op 21). The
    distinct is a no-op Catalyst eliminates; declared-text fidelity."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# §2.4 — the star-schema join (declared intent of the marts)
# ---------------------------------------------------------------------------


@query(
    "q_join_fct_dim",
    oracle="""
    WITH stg AS (
      SELECT c_custkey,
             trim(upper(c_name)) AS city_clean,
             trim(upper(n_name)) AS country_clean,
             md5(concat_ws('-',
                 coalesce(CAST(trim(upper(c_name)) AS VARCHAR), '_dbt_utils_surrogate_key_null_'),
                 coalesce(CAST(trim(upper(n_name)) AS VARCHAR), '_dbt_utils_surrogate_key_null_')
             )) AS location_key
      FROM customer JOIN nation ON c_nationkey = n_nationkey
    ),
    dim AS (
      SELECT location_key, country_clean, COUNT(*) AS total_observations
      FROM stg GROUP BY location_key, country_clean
    ),
    fct AS (
      SELECT o.o_orderkey, s.location_key, o.o_totalprice
      FROM orders o JOIN stg s ON o.o_custkey = s.c_custkey
    )
    SELECT d.country_clean,
           COUNT(*) AS n_orders,
           ROUND(SUM(f.o_totalprice), 2) AS revenue
    FROM fct f JOIN dim d ON f.location_key = d.location_key
    GROUP BY d.country_clean
    """,
)
def q_join_fct_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The implied star join fct ⋈ dim on the md5 surrogate key —
    schema.yml:32-33, 62-72 (op 22). Dim is broadcast: the fact side never
    shuffles, which is the 100 TB-safe plan shape."""
    cust = t(spark, sf_dir, "customer")
    nat = t(spark, sf_dir, "nation")
    orders = t(spark, sf_dir, "orders")
    city = F.trim(F.upper(F.col("c_name")))
    country = F.trim(F.upper(F.col("n_name")))
    stg = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey).select(
        "c_custkey",
        city.alias("city_clean"),
        country.alias("country_clean"),
        surrogate_key(city, country).alias("location_key"),
    )
    dim = stg.groupBy("location_key", "country_clean").agg(
        F.count(F.lit(1)).alias("total_observations")
    )
    fct = orders.join(stg, orders.o_custkey == stg.c_custkey).select(
        "o_orderkey", "location_key", "o_totalprice"
    )
    return (
        fct.join(F.broadcast(dim), "location_key")
        .groupBy("country_clean")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# §2.1 — JSON ingestion semantics (ops 2, 3, 6)
# ---------------------------------------------------------------------------


@query(
    "q_json_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k,
           COALESCE(json_extract_string(props, '$.missing'), event_type) AS fallback_val
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) IS NOT NULL
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON decode + nested field extraction + coalesce fallback + bad-record
    routing — dags/weatherstack_full_pipeline.py:72-107 (ops 2-3): rows whose
    payload fails to parse yield NULL and are filtered out, mirroring the
    reference's `continue` on error payloads."""
    ev = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select(
            "event_id",
            k.alias("prop_k"),
            F.coalesce(
                F.get_json_object("props", "$.missing"), F.col("event_type")
            ).alias("fallback_val"),
        )
        .filter(F.col("prop_k").isNotNull())
    )


@query(
    "q_lineage_cols",
    oracle="""
    SELECT r_regionkey, r_name,
           TIMESTAMP '2026-01-01 00:00:00' AS data_interval_start,
           DATE '2026-01-01' AS extraction_date
    FROM region
    """,
)
def q_lineage_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-time lineage columns — extracted_at DEFAULT CURRENT_TIMESTAMP
    (dag:39) and Airflow data_interval_start stamped per batch (dag:108,
    op 6). Fixed literal so the oracle is deterministic."""
    batch = F.lit("2026-01-01 00:00:00").cast("timestamp_ntz")
    return t(spark, sf_dir, "region").select(
        "r_regionkey",
        "r_name",
        batch.alias("data_interval_start"),
        F.to_date(batch).alias("extraction_date"),
    )


# ---------------------------------------------------------------------------
# §2.5 — data-quality test operators (dbt tests as queries)
# ---------------------------------------------------------------------------


@query(
    "q_test_unique",
    oracle="""
    SELECT l_orderkey AS key, COUNT(*) AS n
    FROM lineitem
    WHERE l_orderkey IS NOT NULL
    GROUP BY l_orderkey
    HAVING COUNT(*) > 1
    """,
)
def q_test_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt `unique` test — schema.yml:10, _staging__sources.yml:14 (op 23).
    Run on a key with real duplicates so the violation path is exercised."""
    return quality.unique_violations(t(spark, sf_dir, "lineitem"), "l_orderkey")


@query(
    "q_test_not_null",
    oracle="""
    SELECT 'o_orderkey' AS column_name, CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'o_orderdate', CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders
    """,
)
def q_test_not_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt `not_null` audit — schema.yml:11,23,31,35 (op 24), single-pass
    per-column null counts (one aggregate + stack, not N scans)."""
    return quality.not_null_violation_counts(
        t(spark, sf_dir, "orders"),
        ["o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"],
    )


@query(
    "q_test_accepted_values",
    oracle="""
    SELECT event_type AS value_field, COUNT(*) AS n
    FROM events
    WHERE event_type IS NOT NULL
      AND event_type NOT IN ('click', 'view', 'purchase')
    GROUP BY event_type
    """,
)
def q_test_accepted_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt `accepted_values` test — schema.yml:40-42 (op 25)."""
    return quality.accepted_values_violations(
        t(spark, sf_dir, "events"), "event_type", ["click", "view", "purchase"]
    )


# ---------------------------------------------------------------------------
# Headline analytical queries (bench workload; exercise the same operator
# inventory end-to-end at scale)
# ---------------------------------------------------------------------------


@query(
    "q_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           ROUND(AVG(l_discount), 4) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary: the flagship scan+filter+agg.

    One pass over the fact table, filter pushed to parquet, partial
    aggregation map-side — the canonical 100 TB-safe plan."""
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q_top_revenue",
    oracle="""
    SELECT o.o_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q_top_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped top-k revenue: join + agg + global top-k.

    The segment-filtered customer side broadcasts; the global top-10 is a
    TakeOrdered (no full sort of the aggregate output)."""
    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    return (
        li.join(
            orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .select("o_orderkey", "o_orderdate", "o_orderpriority"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def _load_extensions() -> None:
    """Import every query-family module, each of which registers its
    queries on import. A family module is ``queries_<family>.py`` with a
    lowercase-letter family name; any other sibling matching
    ``queries_*.py`` (a scratch or backup copy) raises ImportError instead
    of silently registering its queries."""
    import importlib
    import re

    for p in sorted(Path(__file__).parent.glob("queries_*.py")):
        if not re.fullmatch(r"queries_[a-z]+", p.stem):
            raise ImportError(f"unexpected query-family module: {p.name}")
        importlib.import_module(f"{__package__}.{p.stem}")


# Priority order for the registry as exposed to the driver. The driver
# verifies the first 50 entries per round and records them, in sample order,
# as the keys of CORRECTNESS_rNN.json. The order is derived from those files:
# ascending by the last round with a green row (rows_match and schema_match),
# never-green sorting first; ties by sample order within that round's
# file, then by registration order. Each window is thus the 50 stalest
# registered queries, so with 327 queries a green row is re-checked within
# ceil(327/50) = 7 rounds. With no evidence files: registration order.
_EVIDENCE_DIR = Path(__file__).resolve().parent.parent


def _stalest_first(root: Path = _EVIDENCE_DIR) -> tuple[str, ...]:
    """Every name with a green driver row, stalest first. A present file
    of the wrong shape raises: its key order is the sample order, so a
    damaged file must not silently reorder the window."""
    files = {
        int(p.stem.removeprefix("CORRECTNESS_r")): p
        for p in root.glob("CORRECTNESS_r*.json")
    }
    last: dict[str, tuple[int, int]] = {}
    for rnd in sorted(files):
        rows = json.loads(files[rnd].read_text())
        if not isinstance(rows, dict) or len(rows) != 50 or not all(
            n.startswith("q_") for n in rows
        ):
            raise ValueError(f"malformed driver-evidence file {files[rnd].name}")
        for i, (name, row) in enumerate(rows.items()):
            if row.get("rows_match") and row.get("schema_match"):
                last[name] = (rnd, i)
    return tuple(sorted(last, key=last.get))


#: May hold names retired from the registry (DISPLACED), which
#: _ordered_registry skips.
PRIORITY_ORDER: tuple[str, ...] = _stalest_first()

#: Queries DISPLACED from the registry by a stronger operator; their rows
#: stay in the evidence files. name -> why it was safe to retire.
DISPLACED: dict[str, str] = {
    "q_compression_fixed": (
        "round 10, displaced by q_multimodal_decode_progressive: it was "
        "hash evidence for the zlib operator while q_compression_ratio "
        "was rows-only; the corpus entry gained a real zlib-lookup "
        "oracle in round 9, so the operator stays triple-checked on "
        "corpus text. Driver history: green r07."
    ),
}


def _ordered_registry() -> dict[str, QuerySpec]:
    _load_extensions()
    rank = {name: i for i, name in enumerate(PRIORITY_ORDER)}  # never-green: -1
    return {
        name: REGISTRY[name]
        for name in sorted(REGISTRY, key=lambda n: rank.get(n, -1))
    }


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in _ordered_registry().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in _ordered_registry().items()
        if spec.oracle is not None
    }
