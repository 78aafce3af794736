"""Python runs in the engine only where the Python work is the operator,
and point geometry has one SQL spelling.

Every pandas_udf / mapInPandas / applyInPandas / applyInPandasWithState
site under s2js_spark/spark/ and in __spark_entry__.py is listed here
by module and enclosing (or decorated) function, with the reason it is
Python. A new site — say a Python twin of a SQL path — fails this test
until it is added to the allowlist with its reason.

Under s2js_spark/spark/, only ``sqlkernels`` spells ``cos(`` / ``sin(``
in an SQL string or calls ``F.cos`` / ``F.sin``: every lat/lng -> xyz
goes through its helpers. The DuckDB oracle texts of __spark_entry__.py
stay independent of the engine's and are not scanned. On the driver,
no module there calls ``math`` / NumPy ``cos``, ``sin``, ``tan`` or
``cross`` or uses ``@``: the geometry literals of its plans come from
the scalar ``geometry/`` port.
"""

from __future__ import annotations

import ast
import fnmatch
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
SOURCES = sorted((ROOT / "s2js_spark" / "spark").glob("*.py")) + [ROOT / "__spark_entry__.py"]

PYTHON_ENTRYPOINTS = ("pandas_udf", "mapInPandas", "applyInPandas", "applyInPandasWithState")

ALLOWLIST = {
    "functions.s2_cover": "GeoJSON covering: the scalar RegionCoverer is the operator",
    "functions.s2_cell_union_normalize": "CellUnion.normalize of a per-row cell array",
    "functions.s2_point_in_polygon": "exact polygon containment of the scalar port",
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


_TRIG_SQL = re.compile(r"\b(cos|sin)\(")


def _trig_sites(tree: ast.AST, module: str) -> set[str]:
    """``module:line`` of every string constant (docstrings aside) that
    spells cos( or sin(, and of every call to an attribute cos / sin
    of ``F`` or ``functions``."""
    docs = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    found = set()
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docs
            and _TRIG_SQL.search(node.value)
        ) or (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("cos", "sin")
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id in ("F", "functions")
        ):
            found.add(f"{module}:{node.lineno}")
    return found


def test_only_sqlkernels_spells_point_trig():
    sites = set()
    for path in sorted((ROOT / "s2js_spark" / "spark").glob("*.py")):
        if path.stem != "sqlkernels":
            sites |= _trig_sites(ast.parse(path.read_text()), path.stem)
    assert not sites, f"cos/sin spelled outside sqlkernels: {sorted(sites)}"


def test_trig_scanner_sees_every_form():
    """f-string parts, plain strings and F.cos / F.sin calls are found;
    docstrings, NumPy / math calls and words like isin( are not."""
    src = (
        '"""Module doc: cos(lat)."""\n'
        "def f(lat):\n"
        '    """cos(lng) * cos(lat) in the docstring."""\n'
        '    a = f"(cos({lat}) * 2)"\n'
        '    b = "sin(_latr) AS _pz"\n'
        "    c = F.cos(F.col(lat))\n"
        "    d = np.sin(lat) + math.cos(lat)\n"
        '    e = "x.isin(y) AND asin(z)"\n'
        "    return a, b, c, d, e\n"
    )
    assert _trig_sites(ast.parse(src), "m") == {"m:4", "m:5", "m:6"}


_DRIVER_TRIG = ("cos", "sin", "tan", "cross")
_DRIVER_TRIG_MODULES = ("math", "np", "numpy")


def _driver_geometry_sites(tree: ast.AST, module: str) -> set[str]:
    """``module:line`` of every call of math / NumPy cos, sin, tan or
    cross (as ``math.cos(...)`` or imported by name) and of every ``@``
    operator."""
    found = set()
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in _DRIVER_TRIG
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id in _DRIVER_TRIG_MODULES
        ) or (
            isinstance(node, ast.ImportFrom)
            and node.module in ("math", "numpy")
            and any(a.name in _DRIVER_TRIG for a in node.names)
        ) or (
            isinstance(node, (ast.BinOp, ast.AugAssign))
            and isinstance(node.op, ast.MatMult)
        ):
            found.add(f"{module}:{node.lineno}")
    return found


def test_driver_geometry_goes_through_the_scalar_port():
    sites = set()
    for path in sorted((ROOT / "s2js_spark" / "spark").glob("*.py")):
        sites |= _driver_geometry_sites(ast.parse(path.read_text()), path.stem)
    assert not sites, f"driver geometry outside geometry/: {sorted(sites)}"


def test_driver_geometry_scanner_sees_every_form():
    """math / np / numpy trig and cross calls, names imported from math
    or numpy, and @ are found; the port's Point.cross, F.cos and other
    math calls are not."""
    src = (
        "from math import sin\n"
        "def f(a, b, lat):\n"
        "    x = math.cos(lat) + np.sin(lat) + numpy.tan(lat)\n"
        "    c = np.cross(a, b)\n"
        "    d = c @ c\n"
        "    d @= c\n"
        "    e = a.cross(b) + F.cos(lat) + math.sqrt(lat) + np.hypot(a, b)\n"
        "    return x, c, d, e\n"
    )
    assert _driver_geometry_sites(ast.parse(src), "m") == {
        "m:1", "m:3", "m:4", "m:5", "m:6",
    }
