"""Ownership guard (no Spark): scratch directories and availableNow drains
each have exactly one owner in the package.

Every query makes its scratch state through ``queries.scratch`` and every
stream drains through ``streaming/events.py::drain``, which owns the stale
same-name stop. A second ``mkdtemp``, ``streams.active`` or
``availableNow=True`` anywhere else — code, comment or docstring — fails
here, naming the file and function it appeared in."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "weather_api_automate_etl_spark"

OWNERS = {
    "mkdtemp": {"queries.py::scratch"},
    "streams.active": {"streaming/events.py::drain"},
    "availableNow=True": {"streaming/events.py::drain"},
}


def _innermost_function(tree: ast.AST, lineno: int) -> str | None:
    spans = [
        (node.end_lineno - node.lineno, node.name)
        for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and node.lineno <= lineno <= node.end_lineno
    ]
    return min(spans)[1] if spans else None


def test_scratch_and_drain_have_one_owner():
    found: dict[str, set[str]] = {token: set() for token in OWNERS}
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text()
        tree = None
        for lineno, line in enumerate(src.splitlines(), start=1):
            squeezed = line.replace(" ", "")
            for token in OWNERS:
                if token in squeezed:
                    tree = tree or ast.parse(src)
                    where = _innermost_function(tree, lineno)
                    found[token].add(f"{path.relative_to(PKG).as_posix()}::{where}")
    assert found == OWNERS
