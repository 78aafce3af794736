"""All-JVM spatial tag join: covering broadcast join + SQL refinement.

The one tag path. Its answer must equal the scalar ``geometry/`` port
(and so the s2js reference) for every (point, tile) pair: a point is
tagged with a tile iff ``shape.contains_point`` (``Rect.contains_latlng``
for rects) holds for the point built as
``Point.from_latlng_radians(lat * pi/180, lng * pi/180)``. The
certified path runs with ZERO Python:

1.  leaf cell ids via the pure-SQL encode (sqlkernels.with_s2_cellid);
2.  candidate lookup (``covering_candidates``): each tile's
    RegionCoverer covering becomes a row set (cell, tile_i, the
    driver's decision code ``dec``, and for a polygon's boundary cell
    its centre data below); points compute their ancestor at every
    covering level (pure bigint bit-ops) and broadcast-hash-join
    ancestors == covering cells, the join's one broadcast (each costs
    a Spark job): per-tile constants are a plan literal read by tile_i.
    Coverings are normalized CellUnions, so a point matches at most one
    covering cell per tile — no dedup needed. This is the canonical S2
    spatial join shape at 100 TB: map-side broadcast, no shuffle,
    skew-immune (hot cells fan out across whatever partitioning the
    input already has).
3.  refinement entirely in SQL, from the point-geometry texts of
    ``sqlkernels``, by the covering row's ``DEC_*`` code:
    - rect tiles: ``sqlkernels.rect_contains_sql`` on the radians
      (multiply/compare only, so exactly ``Rect.contains_latlng``,
      whose invalid-LatLng answer is no, interior cell or not);
    - interior covering cells of caps and polygons: candidate is in by
      construction (the reference's locateCellID INDEXED/interior
      trichotomy): the polygon arm below with no edge and the centre in;
    - cap tiles: ``sqlkernels.cap_contains_sql``, the chord^2 test in
      the operation order of ``Point.chord_angle_between`` (so exactly
      ``Cap.contains_point``);
    - polygon tiles, boundary covering cells: the reference's
      ContainsPointQuery (ContainsPointQuery.ts:76-117). The driver
      records, per boundary cell, its centre X (``Cell.center``),
      whether the polygon contains X (``Polygon.contains_point``,
      exact) and the short list of polygon edges that meet the cell's
      uv rectangle padded by ``edge_bucket_index._UV_MARGIN``
      (``edge_bucket_index.cell_edges``). A point p of the cell is in
      the polygon iff X is, XOR an odd count of edges crossing the arc
      X->p. That parity does not depend on the path, so it is the
      port's origin-based winding parity (Loop.ts:372-380). The point
      lies in the padded cell (its leaf cell is a descendant of the
      covering cell, and the encode's rounding is far inside the
      margin); the face's gnomonic projection maps the arc X->p to a
      straight uv segment inside that convex rectangle, so every edge
      that crosses it is in the cell's list.
4.  uncertified polygon lanes (statistically never on organic data)
    are exactly resolved by the scalar geometry library in one
    map-side filter over the matched rows when ``exact_residuals=True``
    (the default; graded queries keep it on).

Certification of the crossing count. Edge C->D (normal N = C x D,
``Point.cross``) crosses X->p iff the EdgeCrosser signs acb = -s(ab.C),
bda = s(ab.D), cbd = -s(N.p) and dac = s(N.X) are all equal and
nonzero (ab = X x p). Each determinant is evaluated in the operation
order of ``predicates.triage_sign`` on unit vectors: ab.C and ab.D are
``triage_sign(X, p, .)`` with X read from the covering row and p the
SQL point (left-to-right sums, no fused multiply-add in the JVM); N.p
is ``triage_sign(C, D, p)`` with N a round-trip double literal; N.X is
``triage_sign(C, D, X)``, evaluated by ``Point.dot`` on the driver.
``MAX_DETERMINANT_ERROR`` (1.8274 * eps, predicates.ts:186-191) bounds
the rounding error of each for unit-length operands, which the
normalized centre, vertices and point are, so a determinant outside
that band has its exact sign. N.X is folded on the driver to +1.0 or
-1.0 outside the band and 0.0 inside it; the SQL multiplies the other
three determinants by it (an exact sign flip) and compares each
strictly against the band. A lane with any of ab.C, ab.D or N.p in the
band, and every lane of a cell with an N.X in the band, is counted
into the accumulator's high digits and flagged uncertified; on a
certified lane no vertex lies on the arc, so each crossing is proper
and the count is the port's ``edge_or_vertex_crossing`` count.

Every geometry literal comes from the tile set's scalar shapes: edge
vertices and normals from ``polyline_ops.ring_edges`` over a polygon
loop's vertices, cell centres and their containment from the port.
Rect bounds and cap centers and radii are the shapes' own fields.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ..geometry import cellid_scalar as cs
from ..geometry.cell import Cell
from ..geometry.edge_bucket_index import cell_edges
from ..geometry.edge_clipping import face_segments
from ..geometry.polygon import Polygon
from ..geometry.predicates import MAX_DETERMINANT_ERROR
from ..geometry.rect import Rect
from . import memo
from . import sqlkernels as sq
from .polyline_ops import ring_edges
from .tiles import TileSetStruct

# A covering row's decision code (module docstring, step 3), set on
# the driver from the tile's shape and whether the cell is interior.
DEC_INTERIOR, DEC_RECT, DEC_CAP, DEC_POLY = range(4)

_UNCERT = 1_000_000  # accumulator stride separating crossing count / flags

# One polygon edge C->D of a boundary cell's list: C, D, N = C x D and
# s, the cell centre's determinant N.X folded to its certified sign.
_EDGE_FIELDS = ("cx", "cy", "cz", "dx", "dy", "dz", "nx", "ny", "nz", "s")

# The covering frame's per-cell columns, and their values off a
# polygon's boundary cells. ctr_in is never NULL: a nullable input
# grows the generated code of the stage that reads the decision. It
# is true on an interior cell, which the shape contains: with no edge
# to cross, the crossing count's decision keeps its candidates.
_CELL_COLS = (
    ("ctr_x", "DOUBLE"), ("ctr_y", "DOUBLE"), ("ctr_z", "DOUBLE"),
    ("ctr_in", "BOOLEAN"), ("edges", sq.struct_array_type(_EDGE_FIELDS)),
)
_NO_CELL = "NULL, NULL, NULL, {}, NULL"

# A tile's constants: a rect's bounds (radians), a cap's centre and
# chord^2 radius; zeros for the fields its shape does not have.
_TILE_FIELDS = ("lat_lo", "lat_hi", "lng_lo", "lng_hi", "ccx", "ccy", "ccz", "cr2")


def _boundary_cells(poly: Polygon, cells: list[int]) -> list[str]:
    """Per boundary covering cell of ``poly``, the SQL values of its
    _CELL_COLS: the centre X, whether ``poly`` contains X, and the
    edges that meet the padded cell."""
    edges = [
        (c, d, n)
        for loop in poly.loops
        if not loop.is_empty_or_full()
        for c, d, n, _ in ring_edges(loop.vertices)
    ]
    segments = [face_segments(c, d) for c, d, _ in edges]
    rows = []
    for cell in cells:
        x = Cell.from_cellid(cell).center()
        planes = []
        for k in cell_edges(cell, segments):
            c, d, n = edges[k]
            det = n.dot(x)
            s = (1.0 if det > MAX_DETERMINANT_ERROR
                 else -1.0 if det < -MAX_DETERMINANT_ERROR else 0.0)
            planes.append((c.x, c.y, c.z, d.x, d.y, d.z, n.x, n.y, n.z, s))
        inside = "true" if poly.contains_point(x) else "false"
        rows.append(
            f"{sq.cast_lit(x.x)}, {sq.cast_lit(x.y)}, {sq.cast_lit(x.z)}, {inside},"
            f" {sq.struct_array_sql(_EDGE_FIELDS, planes)}"
        )
    return rows


def _decisions(ts: TileSetStruct) -> list[int]:
    """The DEC_* code of each covering row of ``ts``."""
    return [
        DEC_RECT if isinstance(ts.shapes[t], Rect) else DEC_INTERIOR if interior
        else DEC_POLY if isinstance(ts.shapes[t], Polygon) else DEC_CAP
        for t, interior in zip(ts.cov_tile, ts.cov_interior)
    ]


def covering_frames(spark: SparkSession, ts: TileSetStruct) -> tuple[DataFrame, list[int]]:
    """(covering cells df, sorted covering levels).

    The frame is broadcast-sized, O(covering cells + the edges that
    meet boundary cells): a row per (cell, tile_i) with its DEC_* code
    ``dec``. A polygon's boundary covering rows carry the cell-local
    refinement data (_CELL_COLS); every other row has _NO_CELL there.

    It is inline ``VALUES`` SQL, a LocalRelation: its broadcast runs one
    Spark job, but one without Python (a ``createDataFrame`` frame's
    broadcast ran Python-deserializing tasks). Not memoized itself:
    its one engine caller, tag_tiles_pairs, builds it only on a
    ``memo`` miss.
    """
    levels = sorted({int(cs.level(int(c))) for c in ts.cov_cell})
    decisions = _decisions(ts)

    boundary: dict[int, list[int]] = {}
    for c, t, dec in zip(ts.cov_cell, ts.cov_tile, decisions):
        if dec == DEC_POLY:
            boundary.setdefault(int(t), []).append(int(c))
    cell_sql = {
        (c, t): row
        for t, cells in boundary.items()
        for c, row in zip(cells, _boundary_cells(ts.shapes[t], cells))
    }
    cov = sq.values_frame(
        spark,
        [
            f"({int(np.uint64(c).astype(np.int64))}L, {int(t)}, {dec},"
            f" {cell_sql.get((int(c), int(t)), _NO_CELL.format(dec == DEC_INTERIOR))})"
            for c, t, dec in zip(ts.cov_cell, ts.cov_tile, decisions)
        ],
        f"(0L, 0, 0, {_NO_CELL.format(False)})",
        f"_cov(cell, tile_i, dec, {', '.join(n for n, _ in _CELL_COLS)})",
    ).selectExpr(
        "cell", "tile_i", "dec",
        *(f"CAST({n} AS {t}) AS {n}" for n, t in _CELL_COLS),
    )
    return cov, levels


def _tile_sql(ts: TileSetStruct) -> str:
    """The covering row's tile's _TILE_FIELDS struct, looked up by
    tile_i in a plan literal built from the shapes' own fields."""
    zero = (0.0,) * 4
    rows = [
        (s.lat.lo, s.lat.hi, s.lng.lo, s.lng.hi) + zero if isinstance(s, Rect)
        else zero * 2 if isinstance(s, Polygon)
        else zero + (s.center.x, s.center.y, s.center.z, s.rad)
        for s in ts.shapes
    ]
    return f"element_at({sq.struct_array_sql(_TILE_FIELDS, rows)}, tile_i + 1)"


_EPS = repr(MAX_DETERMINANT_ERROR)


def _winding_sql() -> str:
    """Crossings of the arc X->p over the covering row's ``edges``.

    acc % _UNCERT   = certified crossing count,
    acc / _UNCERT  >0 = some determinant fell in the triage band.

    The edge's folded sign ``e.s`` multiplies the three SQL
    determinants, so a crossing is three strict comparisons against
    the band: ab.C < -eps AND ab.D > eps AND N.p < -eps (the EdgeCrosser
    identities of the module docstring, for s = +1; s = -1 flips every
    side, and s = 0.0 fails them all). A cell's list need not close
    its loops, so each of the three is band-tested.
    """
    ab_c = "(_abx * e.cx + _aby * e.cy + _abz * e.cz)"
    ab_d = "(_abx * e.dx + _aby * e.dy + _abz * e.dz)"
    n_p = "(e.nx * _px + e.ny * _py + e.nz * _pz)"
    band = " OR ".join(f"abs({x}) <= {_EPS}" for x in (ab_c, ab_d, n_p))
    return (
        f"aggregate(edges, 0L, (acc, e) -> acc"
        f" + (CASE WHEN e.s * {ab_c} < -{_EPS} AND e.s * {ab_d} > {_EPS}"
        f" AND e.s * {n_p} < -{_EPS} THEN 1L ELSE 0L END)"
        f" + (CASE WHEN e.s = 0.0 OR {band} THEN {_UNCERT}L ELSE 0L END))"
    )


def covering_candidates(
    df: DataFrame,
    cov: DataFrame,
    levels: list[int],
    lat_col: str = "lat",
    lng_col: str = "lng",
    cellid_col: str | None = None,
) -> DataFrame:
    """Rows of ``df`` with a non-null (lat, lng) joined with each
    ``cov`` row (a ``cell`` column, at one of ``levels``) whose cell
    holds the point: df columns (and ``cellid_col``, the leaf id) +
    ``cov``'s columns but ``cell`` + the ``_bar1`` barrier."""
    # Pre-filter on the BASE columns (pushes to the scan as a plain
    # predicate); never filter on the derived _leaf — see
    # sqlkernels.pushdown_barrier for the optimizer blow-up that causes.
    base = df.filter(F.col(lat_col).isNotNull() & F.col(lng_col).isNotNull())
    pts = sq.with_s2_cellid(
        base, lat_col, lng_col, out_col="_leaf", assume_nonnull=True
    )
    if cellid_col is not None:
        pts = pts.withColumn(cellid_col, F.col("_leaf"))
    # barrier 1: protects the 14-layer encode chain from any predicate
    # that later rules (join constraints, user filters) try to push down.
    pts = sq.pushdown_barrier(pts, "_bar1")
    anc = F.array(*[sq.s2_parent_sql("_leaf", lv) for lv in levels])
    # explode_OUTER: the non-outer variant triggers Spark's
    # InferFiltersFromGenerate rule, which synthesizes a filter over the
    # full 14-ancestor array expression (same disease + cure as
    # textops.minhash_dedup_groups round 1). The array is built from a
    # non-null _leaf and is never empty, so outer semantics are
    # identical.
    return (
        pts.withColumn("_anc", F.explode_outer(anc))
        .join(F.broadcast(cov), F.col("_anc") == cov["cell"])
        .drop("cell", "_anc", "_leaf")
    )


def tag_candidates(
    spark: SparkSession,
    df: DataFrame,
    ts: TileSetStruct,
    lat_col: str = "lat",
    lng_col: str = "lng",
    cellid_col: str | None = None,
) -> DataFrame:
    """df -> candidate rows with their covering row's columns + decision columns.

    Appends ``tile_i``, ``_keep_sql`` (certified decision) and
    ``_uncert_poly`` (needs exact residual check). All JVM.
    """
    cov, levels = covering_frames(spark, ts)
    cand = covering_candidates(df, cov, levels, lat_col, lng_col, cellid_col)

    px, py, pz = sq.xyz_sql(lat_col, lng_col)
    tile = [f"_tile.{n}" for n in _TILE_FIELDS]
    # One selectExpr of lateral aliases (single analysis pass; nested
    # Projects at runtime — see sqlkernels.with_s2_cellid). The point
    # must be exactly Point.from_latlng_radians(lat * d, lng * d): the
    # one the exact residual and the scalar reference decide on.
    # Polygons and caps decide on that point; rects decide on the
    # radians, and an invalid LatLng (|lat| > 90 or |lng| > 180) is in
    # no rect, interior covering cell or not, as Rect.contains_latlng.
    refine_exprs = [
        f"{px} AS _px",
        f"{py} AS _py",
        f"{pz} AS _pz",
        "(ctr_y * _pz - ctr_z * _py) AS _abx",
        "(ctr_z * _px - ctr_x * _pz) AS _aby",
        "(ctr_x * _py - ctr_y * _px) AS _abz",
        f"{sq.radians_sql(lat_col)} AS _latr",
        f"{sq.radians_sql(lng_col)} AS _lngr",
        f"{_tile_sql(ts)} AS _tile",
        f"{sq.rect_contains_sql('_latr', '_lngr', *tile[:4])} AS _rect_ok",
        f"{sq.cap_contains_sql(('_px', '_py', '_pz'), tuple(tile[4:7]), tile[7])} AS _cap_ok",
        # The refinement's one aggregate() STAYS a CodegenFallback (a
        # higher-order function has no codegen): it keeps this
        # refinement Project out of whole-stage codegen. Fused into the
        # scan/join stage instead, the flagship plan's largest generated
        # method is 12,925 bytes of bytecode (6,655 with it; `bench_extra.py
        # plancost`), above HotSpot's 8,000-byte huge-method limit: that
        # method is never JIT-compiled and every row runs through it
        # interpreted. Best `bench_extra.py flagship` pass at local[4] on
        # a 4-core host: x256 (1.28M pages) 8.45 s fused vs 5.83 s with
        # the fallback; x32 3.78 vs 4.16 s. With
        # -XX:-DontCompileHugeMethods the order flips at x256 (4.85 vs
        # 5.93 s), so the slowdown is this JIT limit. Rect and cap tile
        # sets keep it too: its CASE arm is off for them, but the
        # expression is in the Project.
        f"(CASE WHEN dec = {DEC_POLY} THEN {_winding_sql()} ELSE 0L END) AS _wind",
        f"(_wind >= {_UNCERT}L) AS _uncert",
        f"(((_wind % {_UNCERT}L) % 2 = 1) != ctr_in) AS _poly_parity",
        f"(CASE dec WHEN {DEC_RECT} THEN _rect_ok WHEN {DEC_CAP} THEN _cap_ok"
        " ELSE (NOT _uncert) AND _poly_parity END) AS _keep_sql",
        f"(dec = {DEC_POLY} AND _uncert) AS _uncert_poly",
    ]
    cand = cand.selectExpr("*", *refine_exprs).drop(
        "_px", "_py", "_pz", "_abx", "_aby", "_abz", "_latr", "_lngr", "_tile",
        "_rect_ok", "_cap_ok", "_wind", "_uncert", "_poly_parity",
    )
    # barrier 2: keeps the _keep_sql / _uncert_poly filters as cheap
    # attribute references instead of letting pushdown re-inline the
    # whole refinement stack (winding aggregate included, twice).
    return sq.pushdown_barrier(cand, "_bar2")


def tag_tiles_pairs(
    spark: SparkSession,
    df: DataFrame,
    ts: TileSetStruct,
    lat_col: str = "lat",
    lng_col: str = "lng",
    exact_residuals: bool = True,
    cellid_col: str | None = None,
) -> DataFrame:
    """(df rows x matching tiles) as pairs: df columns + ``tile_i``.

    The certified decision runs 100% JVM in one pass. With
    ``exact_residuals`` (default), triage-uncertified polygon lanes
    are re-decided by the scalar geometry library in the same pass, a
    map-side filter over the matched rows (zero such lanes on organic
    data), so every pair is exactly the scalar port's decision.
    Without it, uncertified lanes are dropped. ``cellid_col``
    additionally carries the leaf cell id through. An empty tile set
    gives zero pairs with the same output columns.

    The fully-analyzed result is memoized (``memo``): a call hits when
    it has the same live session, the same live tile set object, an
    input plan with the same semantics and the same arguments.
    Catalyst analysis of the inlined encode chain + refinement is
    seconds of fixed driver cost, and interactive workloads re-issue
    the same query shape.
    """
    return memo.cached(
        spark,
        ("tagjoin.pairs", lat_col, lng_col, exact_residuals, cellid_col, tuple(df.columns)),
        lambda: _tag_tiles_pairs_build(
            spark, df, ts, lat_col, lng_col, exact_residuals, cellid_col
        ),
        plan=df,
        owner=ts,
    )


def _tag_tiles_pairs_build(
    spark: SparkSession,
    df: DataFrame,
    ts: TileSetStruct,
    lat_col: str,
    lng_col: str,
    exact_residuals: bool,
    cellid_col: str | None,
) -> DataFrame:
    cand = tag_candidates(spark, df, ts, lat_col, lng_col, cellid_col)
    out_cols = df.columns + ([cellid_col] if cellid_col else []) + ["tile_i"]
    # barrier_guard: keeps the decision filters ABOVE the _bar2
    # barrier as plain attribute references — without it, Catalyst
    # prunes the barrier and pushes the filter into the covering join
    # with the entire refinement stack alias-substituted into the join
    # condition (measured: 530 KB plan, ~2s/execution fixed cost).
    guard = sq.barrier_guard("_bar2")
    easy = cand.filter(F.col("_keep_sql") & guard).select(*out_cols)
    # Only DEC_POLY covering rows can produce uncertified lanes; a tile
    # set without them makes the residual branch (a second full scan) a
    # provable no-op — skip it.
    has_poly = DEC_POLY in _decisions(ts)
    if not exact_residuals or not has_poly:
        return easy

    # Single pass (round 2 ran easy + hard as a union of two FULL
    # scans — 2x the whole pipeline per query): pre-filter to matched
    # rows in the JVM (certified keeps + uncertified lanes — an
    # OUTPUT-sized set, not corpus-sized), then one Arrow-batched
    # decision that passes certified rows through untouched and
    # resolves the (statistically empty) uncertified lanes with the
    # exact scalar geometry. The corpus-wide work is all JVM; the
    # Python node's cost is fixed per task, not per row. Each task's
    # worker setup used to re-parse every zip archive on the worker's
    # sys.path: 0.14-0.20 s a task at local[2] on a 4-core host, with
    # 0 lanes resolved. Under the engine's worker daemon (pydaemon)
    # that setup takes about 0.1 ms, and a traced geotag_bulk run's
    # Python eval time fell from 1.53 s to 0.42 s.
    bc = spark.sparkContext.broadcast(ts)

    @F.pandas_udf(BooleanType())
    def _exact_or_keep(
        lat: pd.Series, lng: pd.Series, tile_i: pd.Series,
        keep: pd.Series, uncert: pd.Series,
    ) -> pd.Series:
        from ..geometry.point import Point

        out = keep.to_numpy(dtype=bool).copy()
        pending = np.flatnonzero(uncert.to_numpy(dtype=bool) & ~out)
        if len(pending):
            t = bc.value
            d = math.pi / 180.0
            la = lat.to_numpy(np.float64)
            ln = lng.to_numpy(np.float64)
            ti = tile_i.to_numpy()
            for n in pending:
                shape = t.shapes[int(ti[n])]
                out[n] = bool(
                    shape.contains_point(
                        Point.from_latlng_radians(la[n] * d, ln[n] * d)
                    )
                )
        return pd.Series(out)

    matched = cand.filter((F.col("_keep_sql") | F.col("_uncert_poly")) & guard)
    return matched.filter(
        _exact_or_keep(
            F.col(lat_col), F.col(lng_col), F.col("tile_i"),
            F.col("_keep_sql"), F.col("_uncert_poly"),
        )
    ).select(*out_cols)
