"""Engine and port code is reached from the programs that run it, not only from tests.

Every def in s2js_spark/spark/*.py (top-level defs, classes and their
methods) must be reached by name, transitively, from the entry contract
(__spark_entry__.py), the benchmarks (bench.py, bench_extra.py,
perfbench/*.py other than its tests), tools/*.py, or an engine module's
module-level statements (say, a worker entry's ``__main__`` block). A
function only tests call fails this test until it is deleted or listed
here with its reason.

Every def in s2js_spark/geometry/*.py must be reached the same way from
those roots, from spark/*.py, from the ported tests of the gated s2js
families (cellid, cap, rect, loop, regioncoverer) and from every test
that checks the engine against the port (one that imports
s2js_spark.spark or __spark_entry__).

A module-level constant (``NAME = ...``, or ``A, B = ...``) in either
package counts as a def: it must be read by reached code, and reading
it reaches what its value uses. Every other module-level statement
(imports, a ``__main__`` block) is a root of its module.

Reach is by name, not by binding: a use of ``f`` anywhere in a reached
body reaches every def named ``f``. A string constant passed to
``getattr``/``hasattr`` is a use, and dunders are reached, because the
language calls them. That over-approximates and never misses a real call.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
SPARK_DIR = ROOT / "s2js_spark" / "spark"
GEOMETRY_DIR = ROOT / "s2js_spark" / "geometry"
TESTS_DIR = ROOT / "tests"

ALLOWLIST = {
    "functions.register_all": "the SQL-callable function surface (SURVEY §2.13)",
    "textops.simhash64": "the scalar form simhash_rows is checked against",
}

# The ported tests of the s2js families the paper gates.
GATED_TESTS = (
    "test_cellid_scalar", "test_cellid_kernels", "test_cap", "test_rect",
    "test_rectbounder", "test_loop", "test_loop_relations",
    "test_regioncoverer", "test_geojson_coverer",
)

_METRIC_TABLE = ("a row of the reference's metric table (Metric_constants.ts); the"
                 " ported Metric tests bound the live rows by it (test_angles_metrics)")

GEOMETRY_ALLOWLIST = {
    "edge_distances.distance_from_segment":
        "measures the error of the live intersection (test_intersection)",
    "edge_distances.interpolate":
        "samples the points Cell.from_point/contains_point are checked on (test_cell)",
    **{f"metric.{name}": _METRIC_TABLE for name in (
        "MIN_ANGLE_SPAN_METRIC", "AVG_ANGLE_SPAN_METRIC", "MAX_ANGLE_SPAN_METRIC",
        "AVG_WIDTH_METRIC", "MAX_WIDTH_METRIC", "MIN_EDGE_METRIC", "MAX_EDGE_METRIC",
        "MAX_EDGE_ASPECT", "MIN_AREA_METRIC", "MAX_AREA_METRIC",
        "MIN_DIAG_METRIC", "AVG_DIAG_METRIC", "MAX_DIAG_METRIC", "MAX_DIAG_ASPECT",
    )},
}

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)
_DEFS = _FUNCS + (ast.ClassDef,)


def root_files() -> list[pathlib.Path]:
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "bench_extra.py"]
    files += [p for p in sorted((ROOT / "perfbench").glob("*.py"))
              if not p.name.startswith("test_")]
    files += sorted((ROOT / "tools").glob("*.py"))
    return files


def _checks_engine(tree: ast.Module) -> bool:
    """True for a test that imports the engine or the entry contract."""
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            mods = [node.module or ""]
        elif isinstance(node, ast.Import):
            mods = [a.name for a in node.names]
        else:
            continue
        if any(m == "__spark_entry__" or m.split(".")[:2] == ["s2js_spark", "spark"]
               for m in mods):
            return True
    return False


def geometry_root_files() -> list[pathlib.Path]:
    files = root_files() + sorted(SPARK_DIR.glob("*.py"))
    files += [TESTS_DIR / f"{name}.py" for name in GATED_TESTS]
    files += [p for p in sorted(TESTS_DIR.glob("test_*.py"))
              if p not in files and _checks_engine(ast.parse(p.read_text()))]
    return files


def _names(nodes) -> set[str]:
    """Every identifier used in ``nodes``: bare names, attributes and the
    string constants passed to ``getattr``/``hasattr``."""
    found: set[str] = set()
    for node in nodes:
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                found.add(sub.id)
            elif isinstance(sub, ast.Attribute):
                found.add(sub.attr)
            elif (isinstance(sub, ast.Call) and isinstance(sub.func, ast.Name)
                  and sub.func.id in ("getattr", "hasattr") and len(sub.args) > 1
                  and isinstance(sub.args[1], ast.Constant)
                  and isinstance(sub.args[1].value, str)):
                found.add(sub.args[1].value)
    return found


def _constants(node: ast.stmt) -> list[str]:
    """The names a module-level ``NAME = ...`` or ``A, B = ...`` binds;
    [] for any other statement."""
    if isinstance(node, ast.AnnAssign) and node.value is not None:
        targets = [node.target]
    elif isinstance(node, ast.Assign):
        targets = node.targets
    else:
        return []
    names = []
    for target in targets:
        elts = target.elts if isinstance(target, ast.Tuple) else [target]
        if not all(isinstance(e, ast.Name) for e in elts):
            return []
        names += [e.id for e in elts]
    return names


def _defs(tree: ast.Module, module: str) -> dict[str, list[ast.AST]]:
    """``module.name`` for each top-level def and module-level constant
    and ``module.Class.name`` for each method, mapped to the nodes
    reaching it walks. A class walks only its header and the statements
    of its body that are not methods; a constant walks its value."""
    defs: dict[str, list[ast.AST]] = {}
    for node in tree.body:
        if names := _constants(node):
            defs.update((f"{module}.{name}", [node.value]) for name in names)
        elif isinstance(node, ast.ClassDef):
            own = [n for n in node.body if not isinstance(n, _FUNCS)]
            defs[f"{module}.{node.name}"] = node.bases + node.keywords + node.decorator_list + own
            defs.update((f"{module}.{node.name}.{m.name}", [m])
                        for m in node.body if isinstance(m, _FUNCS))
        elif isinstance(node, _FUNCS):
            defs[f"{module}.{node.name}"] = [node]
    return defs


def _is_dunder(qualname: str) -> bool:
    name = qualname.rsplit(".", 1)[1]
    return name.startswith("__") and name.endswith("__")


def unreached(engine: dict[str, ast.Module], roots: list[ast.Module],
              allow: set[str]) -> set[str]:
    """Defs (``module.name`` or ``module.Class.name``) that no root
    reaches by name."""
    defs: dict[str, list[ast.AST]] = {}
    for module, tree in engine.items():
        defs.update(_defs(tree, module))
    frontier = _names(roots)
    for tree in engine.values():
        frontier |= _names(node for node in tree.body
                           if not isinstance(node, _DEFS) and not _constants(node))
    reached: set[str] = set()
    pending = {q for q in defs if q in allow or _is_dunder(q)}
    while True:
        pending |= {q for q in defs if q.rsplit(".", 1)[1] in frontier} - reached
        if not pending:
            return set(defs) - reached
        reached |= pending
        frontier = _names(node for q in pending for node in defs[q])
        pending = set()


def _check_reach(package: pathlib.Path, roots: list[pathlib.Path],
                 allow: dict[str, str]) -> None:
    engine = {p.stem: ast.parse(p.read_text()) for p in sorted(package.glob("*.py"))}
    dead = unreached(engine, [ast.parse(p.read_text()) for p in roots], set(allow))
    assert not dead, f"{package.name}/ defs and constants only tests reach: {sorted(dead)}"
    defs = {q for m, tree in engine.items() for q in _defs(tree, m)}
    stale = sorted(set(allow) - defs)
    assert not stale, f"allowlist entries with no def left: {stale}"


def test_engine_defs_are_reached():
    _check_reach(SPARK_DIR, root_files(), ALLOWLIST)


def test_geometry_defs_are_reached():
    _check_reach(GEOMETRY_DIR, geometry_root_files(), GEOMETRY_ALLOWLIST)


def test_reach_is_transitive_and_by_name():
    engine = {
        "a": ast.parse(
            "X = helper_const()\n"
            "def helper_const(): return BASE\n"
            "BASE, OTHER = 1, 2\n"
            "UNREAD: int = 3\n"
            "LIMIT = 4\n"
            "if __name__ == '__main__':\n"
            "    from_main()\n"
            "def from_main(): return 8\n"
            "def entry(): return inner() + X\n"
            "def inner(): return LIMIT\n"
            "def only_tests(): return inner()\n"
            "class Kept:\n"
            "    def m(self): return via_class()\n"
            "    def __repr__(self): return via_dunder()\n"
            "    def by_string(self): return 5\n"
            "    def never_named(self): return 6\n"
            "def via_class(): return 3\n"
            "def via_dunder(): return 7\n"
            "def listed(): return via_listed()\n"
            "def via_listed(): return 4\n"
        ),
    }
    roots = [ast.parse("import a\na.entry()\nk = a.Kept()\nk.m()\n"
                       "getattr(k, 'by_string')\n")]
    assert unreached(engine, roots, {"a.listed"}) == {
        "a.only_tests", "a.Kept.never_named", "a.OTHER", "a.UNREAD",
    }
