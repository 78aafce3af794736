"""Module state in the engine lives in one place: the plan memo.

An empty mutable container assigned at module level ({}, [], set(),
dict(), OrderedDict()) or a ``global`` statement is how an ad-hoc cache
starts. Every one under s2js_spark/spark/ and in __spark_entry__.py is
listed here with its reason; a new one fails this test until it is
either routed through s2js_spark.spark.memo or listed with its reason.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
SOURCES = sorted((ROOT / "s2js_spark" / "spark").glob("*.py")) + [ROOT / "__spark_entry__.py"]

EMPTY_FACTORIES = ("dict", "set", "list", "OrderedDict")

ALLOWLIST = {
    "memo._table": "the one plan memo (locked, LRU-bounded)",
    "__spark_entry__._TS_CACHE": "five constant tile sets; session-independent",
}


def _is_empty_container(node: ast.AST | None) -> bool:
    if isinstance(node, (ast.Dict, ast.List, ast.Set)):
        return not (getattr(node, "keys", None) or getattr(node, "elts", None))
    if isinstance(node, ast.Call) and not node.args and not node.keywords:
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        return name in EMPTY_FACTORIES
    return False


def _state(tree: ast.Module, module: str) -> set[str]:
    """``module.name`` for every module-level empty mutable container
    and every name a ``global`` statement declares."""
    found: set[str] = set()
    for stmt in tree.body:
        if isinstance(stmt, ast.Assign) and _is_empty_container(stmt.value):
            targets = stmt.targets
        elif isinstance(stmt, ast.AnnAssign) and _is_empty_container(stmt.value):
            targets = [stmt.target]
        else:
            continue
        found |= {f"{module}.{t.id}" for t in targets if isinstance(t, ast.Name)}
    for node in ast.walk(tree):
        if isinstance(node, ast.Global):
            found |= {f"{module}.{n}" for n in node.names}
    return found


def module_state() -> set[str]:
    found: set[str] = set()
    for path in SOURCES:
        found |= _state(ast.parse(path.read_text()), path.stem)
    return found


def test_module_state_matches_allowlist():
    found, listed = module_state(), set(ALLOWLIST)
    assert not found - listed, f"module state without a reason: {sorted(found - listed)}"
    assert not listed - found, f"allowlist entries with no state left: {sorted(listed - found)}"


def test_state_scanner_sees_every_form():
    src = (
        "from collections import OrderedDict\n"
        "A = {}\n"
        "B: dict = dict()\n"
        "C = []\n"
        "D = set()\n"
        "E = OrderedDict()\n"
        "F = {1: 2}\n"
        "G = [1]\n"
        "H = None\n"
        "def f():\n"
        "    global H\n"
        "    local = {}\n"
        "    H = local\n"
    )
    assert _state(ast.parse(src), "m") == {"m.A", "m.B", "m.C", "m.D", "m.E", "m.H"}
