"""Python runs in the engine only where the Python work is the operator.

Every pandas_udf / mapInPandas / applyInPandas / applyInPandasWithState
site under s2js_spark/spark/ and in __spark_entry__.py is listed here
by module and enclosing (or decorated) function, with the reason it is
Python. A new site — say a Python twin of a SQL path — fails this test
until it is added to the allowlist with its reason.
"""

from __future__ import annotations

import ast
import fnmatch
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
SOURCES = sorted((ROOT / "s2js_spark" / "spark").glob("*.py")) + [ROOT / "__spark_entry__.py"]

PYTHON_ENTRYPOINTS = ("pandas_udf", "mapInPandas", "applyInPandas", "applyInPandasWithState")

ALLOWLIST = {
    "functions.s2_cover": "GeoJSON covering: the scalar RegionCoverer is the operator",
    "functions.s2_cell_union_normalize": "CellUnion.normalize of a per-row cell array",
    "functions.s2_point_in_polygon": "exact polygon containment of the scalar port",
    "functions.s2_rect_contains": "SQL-callable predicate surface (SURVEY §2.13)",
    "functions.s2_cap_contains": "SQL-callable predicate surface (SURVEY §2.13)",
    "tagjoin._exact_or_keep": "exact residual over triage-uncertified polygon lanes",
    "multimodal.synth_real_media": "media container synthesis (PPM/WAV encode)",
    "multimodal.synth_mixed_media": "media container synthesis (PPM/WAV encode)",
    "multimodal.extract_features": "media decode + feature extraction",
}


def _name(node: ast.AST) -> str | None:
    f = node.func if isinstance(node, ast.Call) else node
    if isinstance(f, ast.Attribute):
        return f.attr
    if isinstance(f, ast.Name):
        return f.id
    return None


def _sites(tree: ast.AST, module: str) -> set[str]:
    """``module.function`` for every Python-execution site in ``tree``:
    the decorated function for a decorator, else the enclosing one."""
    found: set[str] = set()

    def visit(node: ast.AST, enclosing: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if any(_name(d) in PYTHON_ENTRYPOINTS for d in node.decorator_list):
                found.add(f"{module}.{node.name}")
            for stmt in node.body:
                visit(stmt, node.name)
            return
        if isinstance(node, ast.Call) and _name(node) in PYTHON_ENTRYPOINTS:
            found.add(f"{module}.{enclosing}")
        for child in ast.iter_child_nodes(node):
            visit(child, enclosing)

    visit(tree, "<module>")
    return found


def python_sites() -> set[str]:
    found: set[str] = set()
    for path in SOURCES:
        found |= _sites(ast.parse(path.read_text()), path.stem)
    return found


def test_python_sites_match_allowlist():
    sites = python_sites()
    unlisted = sorted(
        s for s in sites if not any(fnmatch.fnmatchcase(s, p) for p in ALLOWLIST)
    )
    stale = sorted(
        p for p in ALLOWLIST if not any(fnmatch.fnmatchcase(s, p) for s in sites)
    )
    assert not unlisted, f"Python sites without an allowlist reason: {unlisted}"
    assert not stale, f"allowlist entries with no site left: {stale}"


def test_site_scanner_sees_every_form():
    """Decorated UDFs, inline pandas_udf calls and the DataFrame
    Pandas-function APIs are all found, each under the right name."""
    src = (
        "@F.pandas_udf('long')\n"
        "def deco(x): return x\n"
        "def inline(df):\n"
        "    f = pandas_udf(lambda s: s, 'long')\n"
        "    return df.mapInPandas(f, 's')\n"
        "def grouped(df):\n"
        "    def run(k, p): return p\n"
        "    return df.groupBy('k').applyInPandas(run, 's')\n"
        "def stateful(df):\n"
        "    return df.groupBy('k').applyInPandasWithState(f, 's', 's', 'append', 'none')\n"
        "def plain(df):\n"
        "    return df.select('k')\n"
    )
    assert _sites(ast.parse(src), "m") == {
        "m.deco", "m.inline", "m.grouped", "m.stateful",
    }
