"""Engine code is reached from the programs that run it, not only from tests.

Every top-level def or class in s2js_spark/spark/*.py must be reached
by name, transitively, from the entry contract (__spark_entry__.py),
the benchmarks (bench.py, bench_extra.py, perfbench/*.py other than
its tests), tools/*.py, or an engine module's module-level statements
(say, a worker entry's ``__main__`` block). A function only tests call
fails this test until it is deleted or listed here with its reason.

Reach is by name, not by binding: a use of ``f`` anywhere in a reached
body reaches every top-level ``f`` in the engine. That over-approximates
and never misses a real call.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
SPARK_DIR = ROOT / "s2js_spark" / "spark"

ALLOWLIST = {
    "functions.register_all": "the SQL-callable function surface (SURVEY §2.13)",
    "textops.simhash64": "the scalar form simhash_rows is checked against",
}


def root_files() -> list[pathlib.Path]:
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "bench_extra.py"]
    files += [p for p in sorted((ROOT / "perfbench").glob("*.py"))
              if not p.name.startswith("test_")]
    files += sorted((ROOT / "tools").glob("*.py"))
    return files


def _names(nodes) -> set[str]:
    """Every identifier used in ``nodes``: bare names and attributes."""
    found: set[str] = set()
    for node in nodes:
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                found.add(sub.id)
            elif isinstance(sub, ast.Attribute):
                found.add(sub.attr)
    return found


def _defs(tree: ast.Module, module: str) -> dict[str, ast.AST]:
    return {
        f"{module}.{node.name}": node
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    }


def unreached(engine: dict[str, ast.Module], roots: list[ast.Module],
              allow: set[str]) -> set[str]:
    """Engine defs (``module.name``) that no root reaches by name."""
    defs: dict[str, ast.AST] = {}
    for module, tree in engine.items():
        defs.update(_defs(tree, module))
    frontier = _names(roots)
    for tree in engine.values():
        frontier |= _names(node for node in tree.body if not isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)))
    reached: set[str] = set()
    pending = {q for q in defs if q in allow}
    while True:
        pending |= {q for q in defs if q.split(".", 1)[1] in frontier} - reached
        if not pending:
            return set(defs) - reached
        reached |= pending
        frontier = _names(defs[q] for q in pending)
        pending = set()


def test_engine_defs_are_reached():
    engine = {p.stem: ast.parse(p.read_text()) for p in sorted(SPARK_DIR.glob("*.py"))}
    roots = [ast.parse(p.read_text()) for p in root_files()]
    dead = unreached(engine, roots, set(ALLOWLIST))
    assert not dead, f"engine defs only tests reach: {sorted(dead)}"
    defs = {q for m, tree in engine.items() for q in _defs(tree, m)}
    stale = sorted(set(ALLOWLIST) - defs)
    assert not stale, f"allowlist entries with no def left: {stale}"


def test_reach_is_transitive_and_by_name():
    engine = {
        "a": ast.parse(
            "X = helper_const()\n"
            "def helper_const(): return 1\n"
            "def entry(): return inner()\n"
            "def inner(): return 2\n"
            "def only_tests(): return inner()\n"
            "class Kept:\n"
            "    def m(self): return via_class()\n"
            "def via_class(): return 3\n"
            "def listed(): return via_listed()\n"
            "def via_listed(): return 4\n"
        ),
    }
    roots = [ast.parse("import a\na.entry()\nk = a.Kept()\n")]
    assert unreached(engine, roots, {"a.listed"}) == {"a.only_tests"}
