"""Registry-wide smoke at sf0.001: every declared query runs and returns a
stable schema; bench-tagged queries return rows."""

from __future__ import annotations

import pytest

from weather_api_automate_etl_spark.queries import REGISTRY, _load_extensions

_load_extensions()
SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_runs(spark, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, SF)
    assert df.columns, f"{name} produced no columns"
    if spec.oracle is not None:
        complex_cols = [
            f.name
            for f in df.schema.fields
            if f.dataType.typeName() in ("array", "map", "struct")
        ]
        assert not complex_cols, (
            f"{name}: complex-typed columns {complex_cols} break the driver's "
            "pandas canonicalization — serialize to strings in both twins"
        )
    n = df.count()
    # violation-style and threshold queries may legitimately be empty;
    # everything else must produce rows at sf0.001. The triangle/LPA pair
    # queries inherit q_minhash_pairs' emptiness (no candidate pairs on a
    # tiny/regenerated fixture is a legitimate outcome, not a bug)
    may_be_empty = {
        "q_minhash_pairs", "q_ngram_jaccard", "q_neardup_cosine",
        "q_triangle_count", "q_label_propagation", "q_kcore",
    }
    if name not in may_be_empty:
        assert n > 0, f"{name} returned 0 rows"


def test_oracle_keys_subset():
    from weather_api_automate_etl_spark.queries import oracle_sql, queries

    q, o = queries(), oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 34


def test_priority_order_names_are_registered():
    """Every PRIORITY_ORDER name must exist in the registry — a dangling
    name is silently skipped by _ordered_registry, which would quietly
    shift the verification window (the round-3 advice finding). Names
    retired via the documented displacement ledger (DISPLACED) are the
    one exception: their rows stay in the evidence files."""
    from weather_api_automate_etl_spark.queries import DISPLACED, PRIORITY_ORDER

    dangling = [
        n for n in PRIORITY_ORDER if n not in REGISTRY and n not in DISPLACED
    ]
    assert not dangling, f"PRIORITY_ORDER lists unregistered queries: {dangling}"
    ghosts = set(DISPLACED) & set(REGISTRY)
    assert not ghosts, f"DISPLACED queries still registered: {ghosts}"
    # a displaced name must not occupy a slot in the CURRENT window
    from weather_api_automate_etl_spark.queries import queries

    assert not set(DISPLACED) & set(list(queries())[:50])


def _driver_verified() -> set[str]:
    """Union of green rows across every recorded CORRECTNESS_r*.json.

    The evidence files are tracked in git, so their absence is a broken
    checkout, not a skippable condition (round-3 advice finding)."""
    import json
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    files = sorted(root.glob("CORRECTNESS_r*.json"))
    assert len(files) >= 3, (
        f"expected the tracked CORRECTNESS_r01..r03 evidence files, found {files}"
    )
    verified: set[str] = set()
    for p in files:
        rows = json.loads(p.read_text())
        verified |= {
            name for name, row in rows.items()
            if row.get("rows_match") and row.get("schema_match")
        }
    return verified


def _last_green_slot() -> dict[str, tuple[int, int]]:
    """Map each query to the LAST round whose CORRECTNESS file recorded a
    green row for it, and its index in that round's sample — the
    staleness metric the rotation runs on."""
    import json
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    last: dict[str, tuple[int, int]] = {}
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        rnd = int(p.stem.split("_r")[1])
        for i, (name, row) in enumerate(json.loads(p.read_text()).items()):
            if row.get("rows_match") and row.get("schema_match"):
                last[name] = max(last.get(name, (0, 0)), (rnd, i))
    return last


def _stalest_first() -> list[str]:
    """The registry in rotation order, computed here from the evidence
    files: last green round ascending (never green counts as round 0),
    ties by sample order within that round's file, then registration
    order."""
    slot = _last_green_slot()
    reg = list(REGISTRY)
    return sorted(reg, key=lambda n: (*slot.get(n, (0, 0)), reg.index(n)))


def test_priority_prefix_covers_every_family():
    """External verification records exactly the first 50 registry entries
    per round; round 11 drove the never-driver-sampled set to ZERO, so
    from round 12 on the window is pure rotation. The window is the 50
    registered queries with the stalest green driver rows and slots
    51-100 the next 50, both computed here from the CORRECTNESS files,
    so every round's evidence advances the rotation by itself.
    Everything outside the window already holds a green driver row."""
    from weather_api_automate_etl_spark.queries import queries

    q = queries()
    assert len(q) == len(REGISTRY), "ordering must not drop registered queries"
    names = list(q)
    verified = _driver_verified()
    unverified = set(REGISTRY) - verified
    assert not unverified, (
        "round 11 drove the never-driver-sampled set to zero; it must "
        f"stay zero: {unverified}"
    )
    expected = _stalest_first()
    assert names[:50] == expected[:50], (
        "the window must be the 50 stalest registered queries"
    )
    assert names[50:100] == expected[50:100], (
        "slots 51-100 must be the next 50 stalest registered queries"
    )
    # every registered query carries a DuckDB oracle (no no_oracle rows
    # since the round-9 portable-HLL / zlib-lookup upgrades).
    from weather_api_automate_etl_spark.queries import oracle_sql

    assert set(oracle_sql()) == set(REGISTRY), (
        "every registered query must carry a DuckDB oracle: "
        f"missing {set(REGISTRY) - set(oracle_sql())}"
    )
    # Staleness guard — the HONEST bound. With 327 queries and a 50-slot
    # window the full cycle is ceil(327/50) = 7 rounds, so "≤4 rounds
    # stale" is impossible registry-wide. What the rotation guarantees:
    # a row last verified in round r exceeds 7 rounds at the close of
    # round r+8, so with evidence through round N every registered row
    # with r <= N-6 must already sit in the current or next window (it
    # re-verifies within two rounds, before the bound trips). Displaced
    # names hold no slot, so they are not counted.
    last = {n: r for n, (r, _) in _last_green_slot().items()}
    n_max = max(last.values())  # latest recorded round
    overdue = {n for n, r in last.items() if r <= n_max - 6 and n in REGISTRY}
    assert overdue <= set(names[:100]), (
        f"rows about to exceed the 7-round freshness bound are unscheduled: "
        f"{overdue - set(names[:100])}"
    )
    # everything outside the window must already be driver-verified
    outside = set(names[50:]) - verified
    assert not outside, (
        f"queries outside the window lack prior driver rows: {outside}"
    )


def test_window_order_is_derived_from_evidence(monkeypatch, tmp_path):
    """The rotation rule on a small registry: a registered query with no
    green row leads the window (never-green counts as round 0), a
    displaced name never reaches queries(), and an evidence file of the
    wrong shape raises instead of reordering the window."""
    from weather_api_automate_etl_spark import queries as qmod

    green = [n for n in qmod.PRIORITY_ORDER if n in REGISTRY]
    fresh, stale = green[-1], green[0]
    spec = REGISTRY[fresh]
    small = {fresh: spec, "q_new_a": spec, stale: spec, "q_new_b": spec}
    assert "q_compression_fixed" in qmod.PRIORITY_ORDER
    assert "q_compression_fixed" in qmod.DISPLACED
    monkeypatch.setattr(qmod, "REGISTRY", small)
    assert list(qmod.queries()) == ["q_new_a", "q_new_b", stale, fresh]
    # with no evidence the order is registration order
    monkeypatch.setattr(qmod, "PRIORITY_ORDER", qmod._stalest_first(tmp_path))
    assert list(qmod.queries()) == list(small)
    (tmp_path / "CORRECTNESS_r01.json").write_text('{"q_a": {}}')
    with pytest.raises(ValueError, match="malformed"):
        qmod._stalest_first(tmp_path)


def test_stray_query_module_raises(monkeypatch, tmp_path):
    """A sibling matching ``queries_*.py`` that is not a family module
    (a numbered scratch or backup copy) fails the registry import loudly
    instead of silently registering its queries."""
    from weather_api_automate_etl_spark import queries as qmod

    (tmp_path / "queries_text2.py").write_text("")
    monkeypatch.setattr(qmod, "__file__", str(tmp_path / "queries.py"))
    with pytest.raises(ImportError, match="queries_text2.py"):
        qmod._load_extensions()
