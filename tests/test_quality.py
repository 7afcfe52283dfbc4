"""dbt-test-operator parity: violations detected, empty = pass."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from weather_api_automate_etl_spark.operators import quality


@pytest.fixture()
def df(spark):
    return spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=1, v="b"), Row(k=2, v=None), Row(k=3, v="zz")]
    )


def test_unique_violations(df):
    got = quality.unique_violations(df, "k").collect()
    assert [(r.key, r.n) for r in got] == [(1, 2)]


def test_not_null_violations(df):
    assert quality.not_null_violations(df, "v").count() == 1
    counts = {
        r.column_name: r.violations
        for r in quality.not_null_violation_counts(df, ["k", "v"]).collect()
    }
    assert counts == {"k": 0, "v": 1}


def test_accepted_values_violations(df):
    got = quality.accepted_values_violations(df, "v", ["a", "b"]).collect()
    # NULLs excluded (dbt semantics); 'zz' flagged with count
    assert [(r.value_field, r.n) for r in got] == [("zz", 1)]


def test_expect_empty_raises(df):
    quality.expect_empty(quality.unique_violations(df, "v"), "v unique")  # passes
    with pytest.raises(AssertionError, match="k unique"):
        quality.expect_empty(quality.unique_violations(df, "k"), "k unique")


def test_expect_rules_clean_table_passes(df):
    quality.expect_rules(
        df, {"k not_null": "k IS NULL", "k range": "k < 1 OR k > 3"}
    )


def test_expect_rules_names_first_failing_rule_with_count_and_sample(spark):
    t = spark.createDataFrame(
        [(i, None if i < 7 else "x") for i in range(10)], "k int, v string"
    )
    with pytest.raises(AssertionError) as err:
        quality.expect_rules(
            t,
            {
                "k not_null": "k IS NULL",
                "v not_null": "v IS NULL",
                "k range": "k > 100 OR k < 0 OR k = 9",
            },
        )
    msg = str(err.value)
    # the first failing rule in declaration order, not the last one
    assert "'v not_null'" in msg and "k range" not in msg
    assert "7 violating row(s)" in msg
    sample = msg.split("sample: ", 1)[1]
    assert sample.count("'k':") == 5  # at most 5 rows of the 7
    assert "'v': None" in sample


def test_expect_rules_null_predicate_is_not_a_violation(df):
    # v is NULL on one row, where "v NOT IN (...)" is NULL: that row is
    # not counted, so only 'zz' violates the first set and none the second
    with pytest.raises(AssertionError, match=r"'v accepted_values'.*: 1 violating"):
        quality.expect_rules(df, {"v accepted_values": "v NOT IN ('a', 'b')"})
    quality.expect_rules(df, {"v accepted_values": "v NOT IN ('a', 'b', 'zz')"})


def test_relationships_violations_detect_orphans(spark):
    child = spark.createDataFrame([(1, "a"), (2, "b"), (None, "c"), (9, "d")],
                                  "fk long, payload string")
    parent = spark.createDataFrame([(1,), (2,)], "pk long")
    from weather_api_automate_etl_spark.operators.quality import (
        relationship_violation_counts,
        relationships_violations,
    )
    bad = relationships_violations(child, "fk", parent, "pk").collect()
    # NULL fk passes (dbt semantics); only the unmatched non-null key fails
    assert [(r.fk, r.payload) for r in bad] == [(9, "d")]
    counts = relationship_violation_counts(
        [("child.fk -> parent.pk", child, "fk", parent, "pk")]
    ).collect()
    assert [(r.relationship, r.violations) for r in counts] == [
        ("child.fk -> parent.pk", 1)
    ]
