"""Cell-bucketed edge index for sub-quadratic loop-loop relations.

The reference resolves loop x loop relations with LoopCrosser over two
ShapeIndexes (/root/reference/s2/Loop.ts:710-1050). This engine
replaces the ShapeIndex family by design (SURVEY §2.11); the same
O((n+m) log) candidate pruning is achieved here by bucketing every
edge into the level-L S2 cells it touches (via the ported face
segmentation + 2D clipping of edge_clipping.py) and intersecting the
two loops' bucket maps:

- a proper crossing point lies on both edges, so both edges' cell sets
  contain its level-L cell -> every crossing pair shares a bucket;
- a shared vertex likewise -> every wedge-relevant pair shares a
  bucket.

Buckets are therefore a SOUND candidate superset; the exact
EdgeCrosser + wedge logic decides each candidate pair.

The same padded cell rectangle picks, for the tag join's cell-local
point-in-polygon refinement, the edges that meet one covering cell
(``cell_edges``).
"""

from __future__ import annotations

import math
from collections import defaultdict

from . import cellid_scalar as cs
from .edge_clipping import FaceSegment, edge_intersects_rect, face_segments
from .interval import R1Interval
from .point import Point
from .r2 import R2Point, R2Rect

MAX_LEVEL = 30
MAX_SIZE = 1 << MAX_LEVEL

# Sound slack for uv-space cell rectangles: covers the face-clip and
# 2D-clip certified errors with orders of magnitude to spare; only
# widens the candidate superset.
_UV_MARGIN = 1e-10


def _ij_to_uv(x: int) -> float:
    return cs._st_to_uv_scalar(x / MAX_SIZE)


def _padded_rect(i_lo: int, j_lo: int, size: int) -> R2Rect:
    """uv rectangle of the (i,j)-grid square of side ``size`` at
    (i_lo, j_lo), padded by _UV_MARGIN on every side."""
    return R2Rect(
        R1Interval(_ij_to_uv(i_lo) - _UV_MARGIN, _ij_to_uv(i_lo + size) + _UV_MARGIN),
        R1Interval(_ij_to_uv(j_lo) - _UV_MARGIN, _ij_to_uv(j_lo + size) + _UV_MARGIN),
    )


def _edge_cells_on_face(
    face: int, a: R2Point, b: R2Point, level: int, out: set[int]
) -> None:
    """Level-``level`` cells of ``face`` touched by the uv segment ab
    (recursive quadtree descent on the (i,j) grid)."""
    stack = [(0, 0, 0)]  # depth, i_lo, j_lo
    while stack:
        depth, i_lo, j_lo = stack.pop()
        size = 1 << (MAX_LEVEL - depth)
        if not edge_intersects_rect(a, b, _padded_rect(i_lo, j_lo, size)):
            continue
        if depth == level:
            out.add(cs.parent(cs.from_face_ij(face, i_lo, j_lo), level))
            continue
        half = size >> 1
        stack.append((depth + 1, i_lo, j_lo))
        stack.append((depth + 1, i_lo + half, j_lo))
        stack.append((depth + 1, i_lo, j_lo + half))
        stack.append((depth + 1, i_lo + half, j_lo + half))


def edge_cells(a: Point, b: Point, level: int) -> set[int]:
    """All level-``level`` cells the geodesic edge AB touches."""
    out: set[int] = set()
    for seg in face_segments(a, b):
        _edge_cells_on_face(seg.face, seg.a, seg.b, level, out)
    return out


def cell_edges(cell: int, edge_segments: list[list[FaceSegment]]) -> list[int]:
    """Indexes of the edges, each given by its ``face_segments``, that
    meet the padded uv rectangle of ``cell``. Every edge that crosses an
    arc between two points of the cell is among them: the cell is
    convex in uv, so the arc and the crossing point lie in it."""
    face, i, j, _ = cs.face_ij_orientation(cell)
    size = cs.size_ij(cs.level(cell))
    rect = _padded_rect(i & -size, j & -size, size)
    return [
        k for k, segments in enumerate(edge_segments)
        if any(s.face == face and edge_intersects_rect(s.a, s.b, rect) for s in segments)
    ]


def pick_level(*loops) -> int:
    """Bucket level matched to the loops' mean edge length: cells about
    one edge long keep both cells-per-edge and edges-per-cell O(1)."""
    max_avg = 0.0
    for lp in loops:
        n = len(lp.vertices)
        if n < 2:
            continue
        total = sum(
            lp.vertex(i).angle(lp.vertex(i + 1)) for i in range(n)
        )
        max_avg = max(max_avg, total / n)
    if max_avg <= 0:
        return 10
    from .metric import AVG_EDGE_METRIC

    return max(0, min(MAX_LEVEL, AVG_EDGE_METRIC.closest_level(max_avg)))


class EdgeBucketIndex:
    """level-L bucket map cell -> [edge indexes] for one loop."""

    def __init__(self, loop, level: int) -> None:
        self.level = level
        self.buckets: dict[int, list[int]] = defaultdict(list)
        n = len(loop.vertices)
        for i in range(n):
            for c in edge_cells(loop.vertex(i), loop.vertex(i + 1), level):
                self.buckets[c].append(i)


def candidate_pairs(a_loop, b_loop) -> set[tuple[int, int]]:
    """Sound superset of (a-edge, b-edge) pairs that may cross or share
    the wedge vertex, via bucket intersection."""
    level = pick_level(a_loop, b_loop)
    ia = EdgeBucketIndex(a_loop, level)
    ib = EdgeBucketIndex(b_loop, level)
    small, big, flip = (
        (ia, ib, False) if len(ia.buckets) <= len(ib.buckets) else (ib, ia, True)
    )
    pairs: set[tuple[int, int]] = set()
    for cell, edges in small.buckets.items():
        other = big.buckets.get(cell)
        if not other:
            continue
        for e1 in edges:
            for e2 in other:
                pairs.add((e2, e1) if flip else (e1, e2))
    return pairs


CROSSING_TYPE_INTERIOR = 0
CROSSING_TYPE_ALL = 1


class CrossingEdgeQuery:
    """Edges of an indexed loop/polyline that cross a query edge.

    API equivalent of /root/reference/s2/CrossingEdgeQuery.ts:24-346
    over the bucket index instead of a ShapeIndex (SURVEY §2.11
    replacement): candidate edges come from the level-L cells the
    query edge touches; exact filtering uses the chained EdgeCrosser.
    CROSSING_TYPE_INTERIOR returns proper crossings only;
    CROSSING_TYPE_ALL also returns edges sharing a vertex.
    """

    def __init__(self, shape, level: int | None = None) -> None:
        self.shape = shape
        self.level = pick_level(shape) if level is None else level
        self.index = EdgeBucketIndex(shape, self.level)

    def candidates(self, a: Point, b: Point) -> list[int]:
        """Sorted candidate edge ids whose cells intersect AB's cells
        (a sound superset of all crossing / vertex-sharing edges)."""
        out: set[int] = set()
        for c in edge_cells(a, b, self.level):
            out.update(self.index.buckets.get(c, ()))
        return sorted(out)

    def crossings(
        self, a: Point, b: Point, cross_type: int = CROSSING_TYPE_INTERIOR
    ) -> list[int]:
        """Edge ids of the shape crossing AB (CrossingEdgeQuery.ts:47-69)."""
        from .edge_crossings import CROSS, MAYBE_CROSS, EdgeCrosser

        crosser = EdgeCrosser(a, b)
        out = []
        for e in self.candidates(a, b):
            sign = crosser.crossing_sign(
                self.shape.vertex(e), self.shape.vertex(e + 1)
            )
            if sign == CROSS or (cross_type == CROSSING_TYPE_ALL and sign == MAYBE_CROSS):
                out.append(e)
        return out
