"""No package code that only tests call.

Each kernel keeps one implementation; its twin is the DuckDB oracle,
not a second in-package expression kept alive for a parity test. This
scan fails when a top-level definition in ``rstreams_spark/`` has no
reference anywhere in the repo outside ``tests/`` and outside its own
body. It covers every underscore-prefixed definition in the package
and every definition in ``rstreams_spark/queries/`` (the catalog
modules, whose public names are reached through ``QUERIES``, not
imported by users). A re-export in an ``__init__.py`` is not a use,
and neither is a name inside a string.

Stdlib ``ast`` only, no Spark session.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "rstreams_spark"
SKIP_DIRS = {"tests", "__pycache__", "spark-warehouse"}


def _sources():
    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT)
        if any(p in SKIP_DIRS or p.startswith(".") for p in rel.parts[:-1]):
            continue
        yield path, ast.parse(path.read_text(encoding="utf-8"), str(path))


def _refs(node: ast.AST) -> set[str]:
    """Identifiers READ under ``node``: bare names and attribute
    names. Import aliases are not reads, so a re-export is no use."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _scan():
    """(defs, uses): defs = [(path, name)] of covered top-level
    definitions; uses = {name: {(path, owner)}} where ``owner`` is the
    top-level definition whose body holds the read (None at module
    level)."""
    defs, uses = [], {}
    for path, tree in _sources():
        in_pkg = PKG in path.parents
        in_queries = path.parent == PKG / "queries"
        for stmt in tree.body:
            owner = None
            if isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                owner = stmt.name
                if in_pkg and (in_queries or stmt.name.startswith("_")):
                    defs.append((path, stmt.name))
            for name in _refs(stmt):
                uses.setdefault(name, set()).add((path, owner))
    return defs, uses


def test_no_definition_is_reached_only_from_tests():
    defs, uses = _scan()
    assert len(defs) > 100  # the scan really sees the package
    dead = sorted(
        f"{path.relative_to(ROOT)}::{name}"
        for path, name in defs
        if not (uses.get(name, set()) - {(path, name)})
    )
    assert not dead, (
        "top-level definitions with no reference outside tests/ and "
        "their own body (delete them, or pin the behaviour against the "
        f"DuckDB oracle instead): {dead}"
    )
