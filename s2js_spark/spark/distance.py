"""Distance / buffer tag join: rows within chord distance d of a
convex polygon (inside it, or within d of its boundary) — pure SQL.

The per-edge point-to-segment distance is the reference's
interiorDist/updateMinDistance semantics
(/root/reference/s2/edge_distances.ts:239-333, ported in
geometry/edge_distances.py) specialised to plan-time edge literals.
The literals are the scalar port's: ``polyline_ops.ring_edges`` gives
each edge's ``Point`` endpoints, its ``Point.cross`` normal C and
``Point.norm2`` |C|^2, and one edge-term text (``_edge_terms``) serves
both the inlined literals and the broadcast edge-array aggregate:

- closest point interior to arc AB iff (A-X).(CxX) < 0 < (B-X).(CxX)
  with C = A x B (plain cross: the reference's robust point_cross is
  2(AxB) and every term below is scale-invariant in C);
- interior chord^2 distance = (X.C)^2/|C|^2 + (1 - sqrt(|CxX|^2/|C|^2))^2;
- otherwise min(|X-A|^2, |X-B|^2).

Everything is +,-,*,/ and sqrt over plan-time literals — the same
expression TEXT runs in Spark SQL and DuckDB (`lit` spells the double
literal per dialect), which is what makes the buffer_tag oracle
exact. The Spark side stages the computation behind pushdown barriers
(the clip_segments_convex pattern) so heavy upstream expressions are
never re-inlined into every edge term (janino 64 KB limit, round-3
verdict #2).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geometry.angle import chord_from_angle
from . import sqlkernels as sq
from .polyline_ops import ring_edges, ring_points
from .tagjoin import covering_candidates

_D = math.pi / 180.0


# One boundary edge as ten doubles: endpoints A/B, plane normal
# C = A x B and |C|^2 (the fields of the broadcast edge struct).
_EDGE_FIELDS = ("ax", "ay", "az", "bx", "by", "bz", "cx", "cy", "cz", "c2")


def _edge_values(ring: list[list[float]]) -> list[tuple[float, ...]]:
    """Per edge of the closed ring, its _EDGE_FIELDS values, all from
    the scalar port (polyline_ops.ring_edges)."""
    return [
        (a.x, a.y, a.z, b.x, b.y, b.z, c.x, c.y, c.z, c2)
        for a, b, c, c2 in ring_edges(ring_points(ring))
    ]


def _edge_terms(
    p: tuple[str, str, str], e: list[str], lit=sq.spark_lit
) -> tuple[str, str]:
    """(X.C, chord^2 from X to arc AB) as SQL text, for point X = ``p``
    and an edge spelled by its _EDGE_FIELDS operands ``e`` (literals,
    or the fields of a broadcast edge struct). ``lit`` spells the
    constants 0 and 1."""
    px, py, pz = p
    ax, ay, az, bx, by, bz, cx, cy, cz, c2 = e
    xa2 = (
        f"(({px} - {ax}) * ({px} - {ax})"
        f" + ({py} - {ay}) * ({py} - {ay})"
        f" + ({pz} - {az}) * ({pz} - {az}))"
    )
    xb2 = (
        f"(({px} - {bx}) * ({px} - {bx})"
        f" + ({py} - {by}) * ({py} - {by})"
        f" + ({pz} - {bz}) * ({pz} - {bz}))"
    )
    xc = f"({cx} * {px} + {cy} * {py} + {cz} * {pz})"
    # CX = C x X
    cxx = f"({cy} * {pz} - {cz} * {py})"
    cxy = f"({cz} * {px} - {cx} * {pz})"
    cxz = f"({cx} * {py} - {cy} * {px})"
    ia = (
        f"(({ax} - {px}) * {cxx} + ({ay} - {py}) * {cxy}"
        f" + ({az} - {pz}) * {cxz}) < {lit(0.0)}"
    )
    ib = (
        f"(({bx} - {px}) * {cxx} + ({by} - {py}) * {cxy}"
        f" + ({bz} - {pz}) * {cxz}) > {lit(0.0)}"
    )
    cx2 = f"({cxx} * {cxx} + {cxy} * {cxy} + {cxz} * {cxz})"
    qr = f"({lit(1.0)} - sqrt({cx2} / {c2}))"
    d_int = f"(({xc} * {xc}) / {c2} + {qr} * {qr})"
    return xc, (
        f"(CASE WHEN {ia} AND {ib} THEN {d_int}"
        f" ELSE least({xa2}, {xb2}) END)"
    )


def buffer_exprs(
    ring: list[list[float]],
    lat: str,
    lng: str,
    lit=sq.spark_lit,
    px: str | None = None,
    py: str | None = None,
    pz: str | None = None,
) -> tuple[str, str]:
    """(inside_predicate, boundary_chord2) over degree columns (or
    pre-spelled unit-vector component expressions px/py/pz), for the
    closed convex CCW ring: inside all edge planes, and the least
    per-edge chord^2 to the boundary."""
    if px is None:
        px, py, pz = sq.xyz_sql(lat, lng, lit)
    terms = [
        _edge_terms((px, py, pz), [lit(v) for v in e], lit)
        for e in _edge_values(ring)
    ]
    inside = " AND ".join(f"{xc} > {lit(0.0)}" for xc, _ in terms)
    return f"({inside})", f"least({', '.join(d for _, d in terms)})"


def chord2_limit(radius_deg: float) -> float:
    """chord^2 of an angular radius in degrees: s1.chord_from_angle
    (4 from 180 degrees on, -1 for a negative radius)."""
    return chord_from_angle(radius_deg * _D)


def buffered_covering(
    rings: list[tuple[str, list[list[float]]]],
    radius_deg: float,
    max_cells: int = 64,
    max_level_diff: int = 2,
) -> tuple[list[tuple[int, int]], list[int]]:
    """Driver-side prefilter index for the multi-polygon distance
    join: each ring's covering EXPANDED by the search radius
    (CellUnion.expand_by_radius, CellUnion.ts:420-427) — a superset of
    the buffer region, so the candidate equi-join can never drop a
    true match (the oracle certifies this end-to-end). Returns
    ((cell_int64, tile_i) rows, sorted covering levels)."""
    from ..geometry import cellid_scalar as cs
    from ..geometry.cellunion import CellUnion
    from ..geometry.geojson import GeoJSONRegionCoverer

    coverer = GeoJSONRegionCoverer(max_cells=max_cells)
    rows: list[tuple[int, int]] = []
    levels: set[int] = set()
    for idx, (_tid, ring) in enumerate(rings):
        cu = CellUnion(
            coverer.covering({"type": "Polygon", "coordinates": [ring]})
        )
        cu.expand_by_radius(radius_deg * _D, max_level_diff)
        for c in cu:
            rows.append((int(np.uint64(c).astype(np.int64)), idx))
            levels.add(cs.level(int(c)))
    return rows, sorted(levels)


def _buffer_agg_sql(px: str, py: str, pz: str, edges: str) -> str:
    """One aggregate() over the ``edges`` array text producing
    struct(ins: inside-all-planes, d: min boundary chord^2): an
    O(1)-expression-width refinement, so plan size does not grow with
    the ring count. Per-edge arithmetic is buffer_exprs' own
    (_edge_terms over the struct fields), so the two agree bitwise
    except that the fold's pairwise least() replaces the variadic
    least() — min is exact either way."""
    xc, d_edge = _edge_terms((px, py, pz), [f"e.{n}" for n in _EDGE_FIELDS])
    return (
        f"aggregate({edges},"
        f" named_struct('ins', true, 'd', cast('Infinity' as double)),"
        f" (acc, e) -> named_struct("
        f"'ins', acc.ins AND {xc} > 0.0D,"
        f" 'd', least(acc.d, {d_edge})))"
    )


def tag_within_distance_multi(
    df: DataFrame,
    rings: list[tuple[str, list[list[float]]]],
    radius_deg: float,
    lat_col: str = "lat",
    lng_col: str = "lng",
    dist_col: str = "bdist",
) -> DataFrame:
    """MANY-polygon distance/buffer join, the 100 TB shape: instead of
    evaluating every polygon's distance against every row (a full
    scan PER polygon), candidates come from the tag join's covering
    stage (``tagjoin.covering_candidates``) over the radius-EXPANDED
    coverings, and only candidates run the exact
    inside-or-within-distance refinement: ONE aggregate over the
    ring's edge array, a plan literal read by tile_i. Output: df
    columns + (tile_i, ``dist_col``). All JVM; the only non-map stage
    is the one broadcast, of the covering index (O(tiles x cells))."""
    cov_rows, levels = buffered_covering(rings, radius_deg)
    cov = sq.values_frame(
        df.sparkSession, [f"({c}L, {t})" for c, t in cov_rows], "(0L, 0)", "_bufcov(cell, tile_i)"
    )
    cand = covering_candidates(df, cov, levels, lat_col, lng_col)

    # staged refinement (tag_within_distance pattern): unit vector
    # once, then the aggregate over the ring's edges, a plan literal
    # read by tile_i (an edgeless ring types it when there is no ring)
    ax, ay, az = sq.xyz_sql(lat_col, lng_col)
    edges = ", ".join(
        sq.struct_array_sql(_EDGE_FIELDS, _edge_values(ring)) for _, ring in rings or [("", [])]
    )
    agg = _buffer_agg_sql("_bpx", "_bpy", "_bpz", f"element_at(array({edges}), tile_i + 1)")
    staged = cand.selectExpr(
        "*", f"{ax} AS _bpx", f"{ay} AS _bpy", f"{az} AS _bpz"
    )
    # barrier 2, after the aggregate: without it the filter below is
    # pushed through the aggregate's Project, and the aggregate runs
    # there and again for the output column
    staged = staged.withColumn("_bres", F.expr(agg)).withColumn(
        "_bufm_b2", F.col("_bar1") + F.rand()
    )
    limit = chord2_limit(radius_deg)
    out = staged.filter(
        F.expr(f"_bres.ins OR _bres.d <= {sq.spark_lit(limit)}")
        & sq.barrier_guard("_bufm_b2")
    ).withColumn(dist_col, F.expr("round(_bres.d, 9)"))
    return out.drop("_bpx", "_bpy", "_bpz", "_bar1", "_bufm_b2", "_bres")


def tag_within_distance(
    df: DataFrame,
    ring: list[list[float]],
    radius_deg: float,
    lat_col: str = "lat",
    lng_col: str = "lng",
    dist_col: str = "bdist",
) -> DataFrame:
    """Rows of ``df`` inside the convex CCW ring OR within
    ``radius_deg`` of its boundary, with ``dist_col`` = boundary
    chord^2 rounded to 1e-9 (cross-engine FMA drift ~ulp; see
    polyline_ops). Map-only, zero shuffle; staged behind pushdown
    barriers so whole-stage codegen always compiles. A ring without
    ``ring_points`` bounds nothing: zero rows."""
    if not ring_points(ring):
        return df.withColumn(dist_col, F.lit(None).cast("double")).limit(0)
    ax, ay, az = sq.xyz_sql(lat_col, lng_col)
    base = df.selectExpr(
        "*", f"{ax} AS _bpx", f"{ay} AS _bpy", f"{az} AS _bpz"
    )
    base = sq.pushdown_barrier(base, "_buf_b1")
    inside, dist = buffer_exprs(
        ring, lat_col, lng_col, px="_bpx", py="_bpy", pz="_bpz"
    )
    staged = base.selectExpr(
        "*", f"{inside} AS _binside", f"{dist} AS _bdist"
    ).withColumn("_buf_b2", F.col("_buf_b1") + F.rand())
    limit = chord2_limit(radius_deg)
    out = staged.filter(
        (F.col("_binside") | (F.col("_bdist") <= F.lit(limit)))
        & sq.barrier_guard("_buf_b2")
    )
    out = out.withColumn(dist_col, F.expr("round(_bdist, 9)"))
    return out.drop(
        "_bpx", "_bpy", "_bpz", "_binside", "_bdist", "_buf_b1", "_buf_b2"
    )
