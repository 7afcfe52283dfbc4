"""Ownership guards (no Spark): each cross-cutting mechanism has exactly
one owner in the package.

Every query makes its scratch state through ``queries.scratch`` and every
stream drains through ``streaming/events.py::drain``, which owns the stale
same-name stop. The DuckDB tokenizer and dot-product oracle fragments are
written once, in ``queries.py``. A second ``mkdtemp``, ``streams.active``,
``availableNow=True``, tokenizer literal or dot-product template anywhere
else — code, comment or docstring — fails here, naming the file and the
function or module-level name it appeared in. Module-level imports must be
used, and every ``queries_<family>.py::q_<name>`` that the docs cite must
exist."""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "weather_api_automate_etl_spark"

OWNERS = {
    "mkdtemp": {"queries.py::scratch"},
    "streams.active": {"streaming/events.py::drain"},
    "availableNow=True": {"streaming/events.py::drain"},
}

#: oracle fragments shared across query families, matched with spaces
#: removed; a dot product already expanded for a concrete column
#: (``len(embedding) + 1``) is not the template
FRAGMENT_OWNERS = {
    "regexp_split_to_array(lower(trim(text))": {"queries.py::_TOKENS_SQL"},
    "len({a})+1": {"queries.py::_DOT_SQL"},
}


def _owner(tree: ast.Module, lineno: int) -> str | None:
    """The innermost function around ``lineno``, else the name a
    module-level assignment around it binds."""
    spans = [
        (node.end_lineno - node.lineno, node.name)
        for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and node.lineno <= lineno <= node.end_lineno
    ]
    if spans:
        return min(spans)[1]
    for node in tree.body:
        if isinstance(node, ast.Assign) and node.lineno <= lineno <= node.end_lineno:
            return ast.unparse(node.targets[0])
    return None


def _sites(owners: dict[str, set[str]]) -> dict[str, set[str]]:
    found: dict[str, set[str]] = {token: set() for token in owners}
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text()
        tree = None
        for lineno, line in enumerate(src.splitlines(), start=1):
            squeezed = line.replace(" ", "")
            for token in owners:
                if token in squeezed:
                    tree = tree or ast.parse(src)
                    where = _owner(tree, lineno)
                    found[token].add(f"{path.relative_to(PKG).as_posix()}::{where}")
    return found


def test_scratch_and_drain_have_one_owner():
    assert _sites(OWNERS) == OWNERS


def test_oracle_fragments_have_one_owner():
    assert _sites(FRAGMENT_OWNERS) == FRAGMENT_OWNERS


def test_module_level_imports_are_used():
    """A module-level import whose name its module never reads is dead
    weight on every import of the registry. ``__init__.py`` re-exports
    and names listed in ``__all__`` are exempt."""
    unused = []
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "__init__.py":
            continue
        tree = ast.parse(path.read_text())
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in tree.body:
            if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
            ):
                used |= {e.value for e in node.value.elts}
        for node in tree.body:
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            for alias in node.names:
                name = alias.asname or alias.name.split(".")[0]
                if name not in used:
                    unused.append(f"{path.relative_to(PKG).as_posix()}:{node.lineno} {name}")
    assert not unused, f"unused module-level imports: {unused}"


def test_docs_cite_existing_query_functions():
    """Every ``queries*.py::q_<name>`` that PARITY.md or README.md cites
    names a query module that exists and a ``q_`` function defined in it."""
    ref = re.compile(r"\b(queries(?:_[a-z]+)?)\.py::(q_\w+)")
    defined: dict[str, set[str]] = {}
    for path in PKG.glob("queries*.py"):
        defined[path.stem] = {
            node.name
            for node in ast.parse(path.read_text()).body
            if isinstance(node, ast.FunctionDef)
        }
    stale = []
    cited = 0
    for doc in ("PARITY.md", "README.md"):
        for lineno, line in enumerate((ROOT / doc).read_text().splitlines(), 1):
            for module, fn in ref.findall(line):
                cited += 1
                if fn not in defined.get(module, ()):
                    stale.append(f"{doc}:{lineno} {module}.py::{fn}")
    assert cited, "the docs cite no query function; the pattern is stale"
    assert not stale, f"docs cite query functions that do not exist: {stale}"
