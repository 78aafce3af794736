"""S2 Loop: a simple spherical polygon ring with CCW interior.

Semantics of /root/reference/s2/Loop.ts (originInside init, brute-force
winding-parity PIP, RectBounder bounds, turning angle / area /
normalization) plus /root/reference/s2/RectBounder.ts and
/root/reference/s2/wedge_relations.ts.

Deviation from the reference: the lazy ShapeIndex is NOT ported. The
reference uses the index for large-loop containsPoint and for
containsCell/intersectsCell (clip-based approximate boundary tests
with ~1e-15 UV error margins). Here containsPoint is always the brute
winding test (exact; O(n) driver-side only — the per-document path is
the vectorized kernel in spark/joins.py), and cell relations use exact
edge-crossing tests. The two disagree only when a cell boundary is
within ~1e-15 of a loop edge.
"""

from __future__ import annotations

import math

from .cell import Cell
from .edge_crossings import (
    CROSS,
    DO_NOT_CROSS,
    MAYBE_CROSS,
    EdgeCrosser,
    angle_contains_vertex,
    crossing_sign,
)
from .interval import R1Interval, S1Interval
from .latlng import LatLng
from .measures import signed_area, true_centroid, turn_angle
from .point import Point, get_frame, ordered_ccw
from .predicates import DBL_EPSILON
from .rect import Rect

PI = math.pi

# Single-vertex sentinels for the empty/full loops (Loop.ts:52-59).
EMPTY_LOOP_POINT = Point(0.0, 0.0, 1.0)
FULL_LOOP_POINT = Point(0.0, 0.0, -1.0)


def wedge_contains(a0: Point, ab1: Point, a2: Point, b0: Point, b2: Point) -> bool:
    return ordered_ccw(a2, b2, b0, ab1) and ordered_ccw(b0, a0, a2, ab1)


def wedge_intersects(a0: Point, ab1: Point, a2: Point, b0: Point, b2: Point) -> bool:
    return not (ordered_ccw(a0, b2, b0, ab1) and ordered_ccw(b0, a2, a0, ab1))


def wedge_contains_semiwedge(a0: Point, ab1: Point, a2: Point, b2: Point, reverse: bool) -> bool:
    """Whether wedge (a0,ab1,a2) contains the semi-wedge edge (ab1,b2)
    (Loop.ts:861-864)."""
    if b2.equals(a0) or b2.equals(a2):
        return b2.equals(a0) == reverse
    return ordered_ccw(a0, a2, b2, ab1)


class RectBounder:
    """Conservative lat/lng bound of an edge chain (RectBounder.ts:19-125)."""

    def __init__(self):
        self.a = Point(0.0, 0.0, 0.0)
        self.a_ll = LatLng(0.0, 0.0)
        self.bound = Rect.empty()

    def add_point(self, b: Point) -> None:
        b_ll = LatLng.from_point(b)

        if self.bound.is_empty():
            self.a = b
            self.a_ll = b_ll
            self.bound = self.bound.add_point(b_ll)
            return

        n = self.a.sub(b).cross(self.a.add(b))  # N = 2 * (A x B)
        n_norm = n.norm()
        if n_norm < 1.91346e-15:
            if self.a.dot(b) < 0:
                self.bound = Rect.full()
            else:
                self.bound = self.bound.union(Rect.from_latlng(self.a_ll).add_point(b_ll))
            self.a = b
            self.a_ll = b_ll
            return

        lng_ab = S1Interval.empty().add_point(self.a_ll.lng).add_point(b_ll.lng)
        if lng_ab.length() >= PI - 2 * DBL_EPSILON:
            lng_ab = S1Interval.full()

        lat_lo = min(self.a_ll.lat, b_ll.lat)
        lat_hi = max(self.a_ll.lat, b_ll.lat)

        m = n.cross(Point(0.0, 0.0, 1.0))
        m_a = m.dot(self.a)
        m_b = m.dot(b)
        m_error = 6.06638e-16 * n_norm + 6.83174e-31
        if m_a * m_b < 0 or abs(m_a) <= m_error or abs(m_b) <= m_error:
            max_lat = min(
                math.atan2(math.sqrt(n.x * n.x + n.y * n.y), abs(n.z)) + 3 * DBL_EPSILON,
                PI / 2,
            )
            lat_budget = 2 * math.asin(0.5 * self.a.sub(b).norm() * math.sin(max_lat))
            max_delta = 0.5 * (lat_budget - (lat_hi - lat_lo)) + DBL_EPSILON
            if m_a <= m_error and m_b >= -m_error:
                lat_hi = min(max_lat, lat_hi + max_delta)
            if m_b <= m_error and m_a >= -m_error:
                lat_lo = max(-max_lat, lat_lo - max_delta)

        self.a = b
        self.a_ll = b_ll
        self.bound = self.bound.union(Rect(R1Interval(lat_lo, lat_hi), lng_ab))

    def rect_bound(self) -> Rect:
        return self.bound.expanded(LatLng(2 * DBL_EPSILON, 0)).polar_closure()

    @staticmethod
    def expand_for_subregions(bound: Rect) -> Rect:
        """(RectBounder.ts:137-159)."""
        if bound.is_empty():
            return bound
        lng_gap = max(0.0, PI - bound.lng.length() - 2.5 * DBL_EPSILON)
        min_abs_lat = max(bound.lat.lo, -bound.lat.hi)
        lat_gap_south = PI / 2 + bound.lat.lo
        lat_gap_north = PI / 2 - bound.lat.hi
        if min_abs_lat >= 0:
            if 2 * min_abs_lat + lng_gap < 1.354e-15:
                return Rect.full()
        elif lng_gap >= PI / 2:
            if lat_gap_south + lat_gap_north < 1.687e-15:
                return Rect.full()
        else:
            if max(lat_gap_south, lat_gap_north) * lng_gap < 1.765e-15:
                return Rect.full()
        lat_expansion = 9 * DBL_EPSILON
        lng_expansion = PI if lng_gap <= 0 else 0.0
        return bound.expanded(LatLng(lat_expansion, lng_expansion)).polar_closure()


class Loop:
    __slots__ = ("vertices", "origin_inside", "depth", "bound", "subregion_bound")

    def __init__(self, pts: list[Point]):
        self.vertices = pts
        self.origin_inside = False
        self.depth = 0
        self.bound = Rect.empty()
        self.subregion_bound = Rect.empty()
        self._init_origin_and_bound()

    @staticmethod
    def empty_loop() -> "Loop":
        return Loop([EMPTY_LOOP_POINT])

    @staticmethod
    def full_loop() -> "Loop":
        return Loop([FULL_LOOP_POINT])

    @staticmethod
    def from_cell(c: Cell) -> "Loop":
        return Loop([c.vertex(k) for k in range(4)])

    @staticmethod
    def regular_loop(center: Point, radius: float, num_vertices: int) -> "Loop":
        return Loop(Point.regular_points_for_frame(get_frame(center), radius, num_vertices))

    # ------------------------------------------------------------------ init

    def _init_origin_and_bound(self) -> None:
        """Loop.ts:112-134."""
        if len(self.vertices) < 3:
            if not self.is_empty_or_full():
                self.origin_inside = False
                return
            self.origin_inside = self.vertices[0].z < 0
        else:
            v1_inside = (
                not self.vertices[0].equals(self.vertices[1])
                and not self.vertices[2].equals(self.vertices[1])
                and angle_contains_vertex(self.vertices[0], self.vertices[1], self.vertices[2])
            )
            self.origin_inside = False
            if v1_inside != self.brute_force_contains_point(self.vertices[1]):
                self.origin_inside = True
        self._init_bound()

    def _init_bound(self) -> None:
        """Loop.ts:146-176."""
        if self.is_empty_or_full():
            self.bound = Rect.full() if self.is_full() else Rect.empty()
            self.subregion_bound = self.bound
            return

        bounder = RectBounder()
        for i in range(len(self.vertices) + 1):
            bounder.add_point(self.vertex(i))
        b = bounder.rect_bound()

        if self.brute_force_contains_point(Point(0.0, 0.0, 1.0)):
            b = Rect(R1Interval(b.lat.lo, PI / 2), S1Interval.full())
        if b.lng.is_full() and self.brute_force_contains_point(Point(0.0, 0.0, -1.0)):
            b = Rect(R1Interval(-PI / 2, b.lat.hi), b.lng)
        self.bound = b
        self.subregion_bound = RectBounder.expand_for_subregions(self.bound)

    # --------------------------------------------------------------- queries

    def vertex(self, i: int) -> Point:
        return self.vertices[i % len(self.vertices)]

    def num_vertices(self) -> int:
        return len(self.vertices)

    def num_edges(self) -> int:
        return 0 if self.is_empty_or_full() else len(self.vertices)

    def is_empty(self) -> bool:
        return self.is_empty_or_full() and not self.origin_inside

    def is_full(self) -> bool:
        return self.is_empty_or_full() and self.origin_inside

    def is_empty_or_full(self) -> bool:
        return len(self.vertices) == 1

    def is_hole(self) -> bool:
        return (self.depth & 1) != 0

    def sign(self) -> int:
        return -1 if self.is_hole() else 1

    def rect_bound(self) -> Rect:
        return self.bound

    def cap_bound(self):
        return self.bound.cap_bound()

    def cell_union_bound(self) -> list[int]:
        return self.cap_bound().cell_union_bound()

    # ----------------------------------------------------------------- PIP

    def brute_force_contains_point(self, p: Point) -> bool:
        """Winding parity from originPoint (Loop.ts:372-380)."""
        inside = self.origin_inside
        if not self.vertices:
            # No edge to cross: a ring from_geojson cannot form (fewer
            # than 3 distinct positions) holds no point.
            return inside
        origin = Point.origin_point()
        crosser = EdgeCrosser.new_chain_edge_crosser(origin, p, self.vertex(0))
        for i in range(1, len(self.vertices) + 1):
            inside = inside != crosser.edge_or_vertex_chain_crossing(self.vertex(i))
        return inside

    def contains_point(self, p: Point) -> bool:
        if not self.bound.is_empty() and not self.bound.contains_point(p):
            return False
        return self.brute_force_contains_point(p)

    # ----------------------------------------------------------- cell tests

    def _boundary_intersects_cell(self, target: Cell) -> bool:
        """Exact loop-boundary/cell intersection (replaces the reference's
        clip-based boundaryApproxIntersects; see module docstring)."""
        if self.is_empty_or_full():
            return False
        cell_vertices = [target.vertex(k) for k in range(4)]
        # Any cell vertex strictly inside the loop boundary edge set is
        # handled by the center test; here detect edge crossings and loop
        # vertices inside the (closed) cell.
        for i in range(len(self.vertices)):
            if target.contains_point(self.vertex(i)):
                return True
        for k in range(4):
            a, b = cell_vertices[k], cell_vertices[(k + 1) & 3]
            crosser = EdgeCrosser.new_chain_edge_crosser(a, b, self.vertex(0))
            for i in range(1, len(self.vertices) + 1):
                if crosser.chain_crossing_sign(self.vertex(i)) != DO_NOT_CROSS:
                    return True
        return False

    def contains_cell(self, target: Cell) -> bool:
        if not self.subregion_bound.contains(target.rect_bound()):
            return False
        if self._boundary_intersects_cell(target):
            return False
        return self.contains_point(target.center())

    def intersects_cell(self, target: Cell) -> bool:
        if not self.bound.intersects(target.rect_bound()):
            return False
        if self.is_empty_or_full():
            return self.is_full()
        if self._boundary_intersects_cell(target):
            return True
        return self.contains_point(target.center())

    # -------------------------------------------------------- loop algebra

    def canonical_first_vertex(self) -> tuple[int, int]:
        first_idx = 0
        n = len(self.vertices)
        for i in range(1, n):
            if self.vertex(i).cmp(self.vertex(first_idx)) == -1:
                first_idx = i
        if self.vertex(first_idx + 1).cmp(self.vertex(first_idx + n - 1)) == -1:
            return first_idx, 1
        return first_idx + n, -1

    def turning_angle(self) -> float:
        """Kahan-compensated total geodesic curvature (Loop.ts:484-510)."""
        if self.is_empty_or_full():
            return -2 * PI if self.origin_inside else 2 * PI
        if len(self.vertices) < 3:
            return 0.0
        i, direction = self.canonical_first_vertex()
        n = len(self.vertices)
        total = turn_angle(
            self.vertex((i + n - direction) % n),
            self.vertex(i),
            self.vertex((i + direction) % n),
        )
        compensation = 0.0
        for remaining in range(n - 1, 0, -1):
            i += direction
            ang = turn_angle(self.vertex(i - direction), self.vertex(i), self.vertex(i + direction))
            old_total = total
            total += ang + compensation
            compensation = old_total - total + ang
        max_curvature = 2 * PI - 4 * DBL_EPSILON
        return max(-max_curvature, min(max_curvature, direction * (total + compensation)))

    def turning_angle_max_error(self) -> float:
        return 11.25 * DBL_EPSILON * len(self.vertices)

    def is_normalized(self) -> bool:
        if self.bound.lng.length() < PI:
            return True
        return self.turning_angle() >= -self.turning_angle_max_error()

    def normalize(self) -> None:
        if not self.is_normalized():
            self.invert()

    def invert(self) -> None:
        """Loop.ts:535-554."""
        if self.is_empty_or_full():
            self.vertices[0] = EMPTY_LOOP_POINT if self.is_full() else FULL_LOOP_POINT
        else:
            self.vertices.reverse()
        self.origin_inside = not self.origin_inside
        if self.bound.lat.lo > -PI / 2 and self.bound.lat.hi < PI / 2:
            self.bound = Rect.full()
            self.subregion_bound = self.bound
        else:
            self._init_bound()

    def find_vertex(self, p: Point) -> tuple[int, bool]:
        """Linear scan (reference uses index for >=10 verts; same result)."""
        for i in range(1, len(self.vertices) + 1):
            if self.vertex(i).equals(p):
                return i, True
        return 0, False

    def contains_nested(self, other: "Loop") -> bool:
        """Loop.ts:581-592 — assumes boundaries do not cross."""
        if not self.subregion_bound.contains(other.bound):
            return False
        if self.is_empty_or_full() or other.num_vertices() < 2:
            return self.is_full() or other.is_empty()
        m, ok = self.find_vertex(other.vertex(1))
        if not ok:
            return self.contains_point(other.vertex(1))
        return wedge_contains(
            self.vertex(m - 1), self.vertex(m), self.vertex(m + 1), other.vertex(0), other.vertex(2)
        )

    # Pairs below this run the brute O(n*m) double loop; above it the
    # cell-bucketed edge index prunes candidates to O((n+m) log).
    _BRUTE_PAIR_LIMIT = 4096

    def _edge_pair_iter(self, o: "Loop"):
        """(ai, bj) edge-index pairs to test: all pairs for small
        loops, bucket-pruned candidates (a sound superset of every
        crossing or shared-vertex pair) for big ones — the engine's
        stand-in for the reference's LoopCrosser/ShapeIndex sweep
        (Loop.ts:710-760; replacement documented in SURVEY §2.11)."""
        n, m = len(self.vertices), len(o.vertices)
        if n * m <= self._BRUTE_PAIR_LIMIT:
            return ((i, j) for i in range(n) for j in range(m))
        from .edge_bucket_index import candidate_pairs

        return iter(sorted(candidate_pairs(self, o)))

    def _crossing_relation(self, o: "Loop", wedges_cross) -> tuple[bool, bool]:
        """(crossing found, shared vertex found) over candidate edge
        pairs — the flat equivalent of the reference's
        hasCrossingRelation (Loop.ts:710-760 + LoopCrosser
        edgeCrossesCell:918-958): proper crossings report immediately;
        a shared vertex in chain-middle position (a[i+1] == b[j+1])
        defers to the relation's wedge test."""
        if self.is_empty_or_full() or o.is_empty_or_full():
            return False, False
        found_shared = False
        for i, j in self._edge_pair_iter(o):
            sign = crossing_sign(
                self.vertex(i), self.vertex(i + 1), o.vertex(j), o.vertex(j + 1)
            )
            if sign == CROSS:
                return True, found_shared
            if sign == MAYBE_CROSS and self.vertex(i + 1).equals(o.vertex(j + 1)):
                found_shared = True
                if wedges_cross(
                    self.vertex(i), self.vertex(i + 1), self.vertex(i + 2),
                    o.vertex(j), o.vertex(j + 2),
                ):
                    return True, found_shared
        return False, found_shared

    def contains(self, o: "Loop") -> bool:
        """Loop containment (Loop.ts:211-233), incl. shared-vertex
        wedge semantics (ContainsRelation: crossing iff the A wedge
        does NOT contain the B wedge)."""
        if not self.subregion_bound.contains(o.bound):
            return False
        if self.is_empty_or_full() or o.is_empty_or_full():
            return self.is_full() or o.is_empty()

        def contains_wedges_cross(a0, ab1, a2, b0, b2):
            return not wedge_contains(a0, ab1, a2, b0, b2)

        crossed, found_shared = self._crossing_relation(o, contains_wedges_cross)
        if crossed:
            return False
        if found_shared:
            return True
        if not self.contains_point(o.vertex(0)):
            return False
        if (
            o.subregion_bound.contains(self.bound) or o.bound.union(self.bound).is_full()
        ) and o.contains_point(self.vertex(0)):
            return False
        return True

    def intersects(self, o: "Loop") -> bool:
        """Loop intersection (Loop.ts:235-250), incl. shared-vertex
        wedge semantics (IntersectsRelation)."""
        if not self.bound.intersects(o.bound):
            return False
        crossed, found_shared = self._crossing_relation(o, wedge_intersects)
        if crossed:
            return True
        if found_shared:
            return False
        if self.subregion_bound.contains(o.bound) or self.bound.union(o.bound).is_full():
            if self.contains_point(o.vertex(0)):
                return True
        if o.subregion_bound.contains(self.bound):
            if o.contains_point(self.vertex(0)):
                return True
        return False

    # -------------------------------------------------------------- measures

    def _surface_integral(self, f) -> float:
        """Loop.ts:594-618."""
        if not self.vertices:
            # Reference relies on JS undefined-index semantics for the
            # zero-vertex loop; the integral degenerates to 0.
            return 0.0
        max_length = PI - 1e-5
        total = 0.0
        origin = self.vertex(0)
        for i in range(1, len(self.vertices) - 1):
            if self.vertex(i + 1).angle(origin) > max_length:
                old_origin = origin
                if origin.equals(self.vertex(0)):
                    origin = self.vertex(0).point_cross(self.vertex(i)).normalize()
                elif self.vertex(i).angle(self.vertex(0)) < max_length:
                    origin = self.vertex(0)
                else:
                    origin = self.vertex(0).cross(old_origin)
                    total += f(self.vertex(0), old_origin, origin)
                total += f(old_origin, self.vertex(i), origin)
            total += f(origin, self.vertex(i), self.vertex(i + 1))
        if not origin.equals(self.vertex(0)):
            total += f(origin, self.vertex(len(self.vertices) - 1), self.vertex(0))
        return total

    def _surface_integral_point(self, f) -> Point:
        if not self.vertices:
            return Point(0.0, 0.0, 0.0)
        max_length = PI - 1e-5
        total = Point(0.0, 0.0, 0.0)
        origin = self.vertex(0)
        for i in range(1, len(self.vertices) - 1):
            if self.vertex(i + 1).angle(origin) > max_length:
                old_origin = origin
                if origin.equals(self.vertex(0)):
                    origin = self.vertex(0).point_cross(self.vertex(i)).normalize()
                elif self.vertex(i).angle(self.vertex(0)) < max_length:
                    origin = self.vertex(0)
                else:
                    origin = self.vertex(0).cross(old_origin)
                    total = total.add(f(self.vertex(0), old_origin, origin))
                total = total.add(f(old_origin, self.vertex(i), origin))
            total = total.add(f(origin, self.vertex(i), self.vertex(i + 1)))
        if not origin.equals(self.vertex(0)):
            total = total.add(f(origin, self.vertex(len(self.vertices) - 1), self.vertex(0)))
        return total

    def area(self) -> float:
        """Loop.ts:646-663."""
        if self.is_empty_or_full():
            return 4 * PI if self.origin_inside else 0.0
        area = self._surface_integral(signed_area)
        max_error = self.turning_angle_max_error()
        if area < 0:
            area += 4 * PI
        area = max(0.0, min(4 * PI, area))
        if area < max_error and not self.is_normalized():
            return 4 * PI
        if area > 4 * PI - max_error and self.is_normalized():
            return 0.0
        return area

    def centroid(self) -> Point:
        return self._surface_integral_point(true_centroid)
