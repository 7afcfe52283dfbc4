"""Ownership guards (no Spark): each cross-cutting mechanism has exactly
one owner in the package.

Every query makes its scratch state through ``queries.scratch`` and every
stream drains through ``streaming/events.py::drain``, which owns the stale
same-name stop. The DuckDB tokenizer and dot-product oracle fragments are
written once, in ``queries.py``. A second ``mkdtemp``, ``streams.active``,
``availableNow=True``, tokenizer literal or dot-product template anywhere
else — code, comment or docstring — fails here, naming the file and the
function or module-level name it appeared in. The ledger's manifest layout
and commit choice live in ``sources/ledger.py``: only ``ledger_write``
spells a manifest out, only the whole-table operations and the rebase loop
call the plain CAS ``_commit``, and no other module spells the ``_ledger``
directory. Module-level imports must be used and never re-imported inside
a function, and every ``queries_<family>.py::q_<name>`` that the docs cite
must exist."""

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

#: only ``ledger_write`` builds a manifest from scratch; every other
#: operation derives its next one from the current one (``_next_manifest``)
MANIFEST_OWNERS = {"sources/ledger.py::ledger_write"}

#: the plain CAS commit serves the operations whose read set is the whole
#: table, plus the rebase loop; partition-scoped ones commit by rebase
CAS_OWNERS = {
    f"sources/ledger.py::{fn}"
    for fn in (
        "ledger_write", "ledger_clone", "ledger_add_check", "ledger_restore",
        "ledger_repartition", "_commit_with_rebase",
    )
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


def _ast_sites(match) -> set[str]:
    """``file::owner`` of every AST node in the package ``match`` accepts."""
    found = set()
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if match(node):
                where = _owner(tree, node.lineno)
                found.add(f"{path.relative_to(PKG).as_posix()}::{where}")
    return found


def _import_bindings(node: ast.Import | ast.ImportFrom, module: str) -> list:
    """(bound name, dotted path of the object bound) per imported alias;
    relative imports resolve against ``module``, a module's dotted name
    (a package's is ``pkg.__init__``)."""
    if isinstance(node, ast.Import):
        return [
            (a.asname, a.name) if a.asname else (a.name.split(".")[0],) * 2
            for a in node.names
        ]
    base = node.module or ""
    if node.level:
        parent = module.split(".")[: -node.level]
        base = ".".join(parent + ([base] if base else []))
    return [(a.asname or a.name, f"{base}.{a.name}") for a in node.names]


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


def test_ledger_commit_has_one_owner():
    def manifest_literal(node):
        return isinstance(node, ast.Dict) and any(
            isinstance(k, ast.Constant) and k.value == "partition_col"
            for k in node.keys
        )

    def cas_call(node):
        return isinstance(node, ast.Call) and "_commit" in (
            getattr(node.func, "id", None), getattr(node.func, "attr", None)
        )

    assert _ast_sites(manifest_literal) == MANIFEST_OWNERS
    assert _ast_sites(cas_call) == CAS_OWNERS
    dir_owner = {'"_ledger"': {"sources/ledger.py::_LEDGER_DIR"}}
    assert _sites(dir_owner) == dir_owner


def test_function_imports_are_not_redundant():
    """An import inside a function that binds a name its module already
    imports at top level to the same object, or that imports from its own
    module, only repeats a lookup the module global already answers."""
    redundant = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(ROOT).with_suffix("").as_posix()
        module = rel.replace("/", ".")
        tree = ast.parse(path.read_text())
        top = {
            name: target
            for node in tree.body
            if isinstance(node, (ast.Import, ast.ImportFrom))
            for name, target in _import_bindings(node, module)
        }
        own = module.removesuffix(".__init__")
        for node in ast.walk(tree):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for imp in ast.walk(node):
                if not isinstance(imp, (ast.Import, ast.ImportFrom)):
                    continue
                for name, target in _import_bindings(imp, module):
                    if top.get(name) == target or (
                        isinstance(imp, ast.ImportFrom)
                        and target.rpartition(".")[0] == own
                    ):
                        redundant.append(
                            f"{path.relative_to(PKG).as_posix()}:{imp.lineno} {name}"
                        )
    assert not redundant, f"redundant function-local imports: {sorted(set(redundant))}"


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
