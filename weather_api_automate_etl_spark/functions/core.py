"""Shared column expressions — the reference's semantics traps, exactly.

Every function here is a pure Column → Column combinator built from JVM-side
``pyspark.sql.functions`` (whole-stage-codegen friendly; no Python UDFs).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, functions as F

#: Null sentinel emitted by dbt_utils 1.3.1 ``generate_surrogate_key``
#: (reference pin: /root/reference/dbt/packages.yml:1-3; call sites
#: dbt/models/marts/dim_locations.sql:7, fct_weather_observations.sql:9).
SURROGATE_NULL_SENTINEL = "_dbt_utils_surrogate_key_null_"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def round_half_up_via_double(col: Column, scale: int) -> Column:
    """Round a NON-NEGATIVE double the way C-library engines do:
    ``floor(x·10ˢ + 0.5) / 10ˢ`` on the double product.

    Spark's ``round`` expands the double to an exact BigDecimal before
    HALF_UP; DuckDB (and most C engines) multiply in floating point first.
    The two disagree by one ulp when x·10ˢ lands on a .5 tie that the exact
    expansion misses — observed on composite scores at sf0.1. Use this for
    oracle-compared derived doubles; plain ``F.round`` is fine for sums and
    averages whose scale makes ties vanishingly unlikely."""
    factor = F.lit(float(10**scale))
    return F.floor(col * factor + F.lit(0.5)) / factor


def surrogate_key(*cols: Column | str) -> Column:
    """dbt_utils ``generate_surrogate_key`` byte-for-byte.

    Compiles (dbt_utils 1.3.1) to
    ``md5(coalesce(cast(c1 as varchar), '<sentinel>') || '-' || ...)``.
    Fact and dim keys must agree exactly (SURVEY.md §2 op 19), so the
    separator, sentinel, and md5 hex casing all matter.
    """
    parts = [
        F.coalesce(_col(c).cast("string"), F.lit(SURROGATE_NULL_SENTINEL))
        for c in cols
    ]
    return F.md5(F.concat_ws("-", *parts))


def pg_dow(ts: Column | str) -> Column:
    """Postgres ``DATE_PART('dow', ts)``: 0=Sunday..6=Saturday, as int.

    Spark ``dayofweek`` is 1=Sunday..7=Saturday — the off-by-one trap of
    SURVEY.md §2 op 18 (reference: fct_weather_observations.sql:22). Postgres
    returns double; the reference's consumers treat it as an integer day
    index, so we cast for hash parity.
    """
    return (F.dayofweek(_col(ts)) - F.lit(1)).cast("int")


def pg_hour(ts: Column | str) -> Column:
    """Postgres ``DATE_PART('hour', ts)`` as int (fct_weather_observations.sql:21)."""
    return F.hour(_col(ts)).cast("int")


def ilike_recode(
    col: Column | str,
    rules: Sequence[tuple[str, str]],
    otherwise: Column | None = None,
) -> Column:
    """Ordered case-insensitive substring recode — first match wins.

    Reference semantics (stg_weather.sql:11-16): ``CASE WHEN c ILIKE
    '%sunny%' THEN 'Clear' WHEN ... ELSE TRIM(c) END``. Branch order is
    load-bearing: 'sunny with rain' → 'Clear'. ``ILIKE '%x%'`` ≡
    ``contains(lower(c), lower(x))`` for wildcard-free needles.
    """
    c = _col(col)
    expr: Column | None = None
    for needle, label in rules:
        cond = F.lower(c).contains(needle.lower())
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    if expr is None:
        raise ValueError("ilike_recode requires at least one rule")
    return expr.otherwise(otherwise if otherwise is not None else F.trim(c))


def weather_category(description: Column | str) -> Column:
    """The exact recode of stg_weather.sql:11-16 (sunny→Clear, rain→Rain, cloud→Cloudy)."""
    return ilike_recode(
        description, [("sunny", "Clear"), ("rain", "Rain"), ("cloud", "Cloudy")]
    )


def range_bucket(
    col: Column | str,
    buckets: Sequence[tuple[float | None, float | None, str]],
    otherwise: str = "Hot",
) -> Column:
    """CASE/BETWEEN range bucketing, inclusive on both ends (stg_weather.sql:27-33).

    ``buckets`` is ordered ``(lo, hi, label)``; ``lo=None`` → ``col < hi``
    strict upper bound (the reference's first branch is ``< 0``).
    """
    c = _col(col)
    expr: Column | None = None
    for lo, hi, label in buckets:
        if lo is None:
            cond = c < F.lit(hi)
        elif hi is None:
            cond = c >= F.lit(lo)
        else:
            cond = c.between(F.lit(lo), F.lit(hi))
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    assert expr is not None
    return expr.otherwise(F.lit(otherwise))


def temperature_category(temperature: Column | str) -> Column:
    """stg_weather.sql:27-33: Freezing(<0)/Cold(0-10)/Mild(11-20)/Warm(21-30)/Hot."""
    return range_bucket(
        temperature,
        [(None, 0, "Freezing"), (0, 10, "Cold"), (11, 20, "Mild"), (21, 30, "Warm")],
        otherwise="Hot",
    )


def salted_hash64(col: Column | str, salt: str = "") -> Column:
    """The engine-parity hash primitive: ``conv(md5(salt || col)[:8],
    16, 10)`` as a long in [0, 2³²) — deterministic, engine-portable
    (DuckDB twin: ``CAST(concat('0x', substr(md5(...), 1, 8)) AS
    UBIGINT)``), no RNG state. One definition for every salted
    hash-assignment site (A/B arms, count-min rows, sampling
    thresholds); a drifted copy of this recipe silently breaks oracle
    parity, so don't re-spell it inline."""
    key = _col(col).cast("string")
    if salt:
        key = F.concat(F.lit(salt), key)
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")


def zorder_key(x: Column | str, y: Column | str, bits: int = 8) -> Column:
    """Morton / Z-order key: interleave the low ``bits`` bits of two
    already-quantized dimensions — the multi-dimensional clustering key
    behind Delta/Iceberg OPTIMIZE ZORDER. Rows sorted (or range-
    partitioned) by this key are simultaneously clustered in BOTH
    dimensions, so min/max file statistics prune selective predicates on
    either one — single-column sorting gives that for one dimension only.

    Pure integer arithmetic (shift-mask-or unrolled per bit), identical in
    any engine; inputs must already be in [0, 2^bits)."""

    xc = F.col(x) if isinstance(x, str) else x
    yc = F.col(y) if isinstance(y, str) else y
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = (
            key
            + F.shiftleft(F.shiftright(xc.cast("long"), i) % 2, 2 * i)
            + F.shiftleft(F.shiftright(yc.cast("long"), i) % 2, 2 * i + 1)
        )
    return key
