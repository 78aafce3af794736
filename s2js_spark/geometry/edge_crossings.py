"""Edge crossing tests and the chained EdgeCrosser.

Semantics of /root/reference/s2/edge_crossings.ts and
/root/reference/s2/EdgeCrosser.ts. These are the exactness core of
point-in-polygon and loop-relation tests.
"""

from __future__ import annotations

import math

from .point import Point, ordered_ccw
from .predicates import (
    DBL_EPSILON,
    INDETERMINATE,
    expensive_sign,
    robust_sign,
    triage_sign,
)

# Crossing kinds (edge_crossings.ts:14-16)
CROSS = 0
MAYBE_CROSS = 1
DO_NOT_CROSS = 2


def vertex_crossing(a: Point, b: Point, c: Point, d: Point) -> bool:
    """Shared-vertex crossing parity rule (edge_crossings.ts:69-84)."""
    if a.equals(b) or c.equals(d):
        return False
    if a.equals(c):
        return b.equals(d) or ordered_ccw(a.reference_dir(), d, b, a)
    if b.equals(d):
        return ordered_ccw(b.reference_dir(), c, a, b)
    if a.equals(d):
        return b.equals(c) or ordered_ccw(a.reference_dir(), c, b, a)
    if b.equals(c):
        return ordered_ccw(b.reference_dir(), d, a, b)
    return False


def angle_contains_vertex(a: Point, b: Point, c: Point) -> bool:
    """Tiling-exact vertex ownership (edge_crossings.ts:270-272)."""
    return not ordered_ccw(b.reference_dir(), c, a, b)


class EdgeCrosser:
    """Stateful crossing tester for a fixed edge AB (EdgeCrosser.ts:26-229)."""

    __slots__ = ("a", "b", "a_xb", "a_tangent", "b_tangent", "c", "acb")

    def __init__(self, a: Point, b: Point):
        norm = a.point_cross(b)
        self.a = a
        self.b = b
        self.a_xb = a.cross(b)
        self.a_tangent = a.cross(norm)
        self.b_tangent = norm.cross(b)
        self.c = Point(0.0, 0.0, 0.0)
        self.acb = CROSS

    @staticmethod
    def new_chain_edge_crosser(a: Point, b: Point, c: Point) -> "EdgeCrosser":
        e = EdgeCrosser(a, b)
        e.restart_at(c)
        return e

    def restart_at(self, c: Point) -> None:
        self.c = c
        self.acb = -triage_sign(self.a, self.b, self.c)

    def crossing_sign(self, c: Point, d: Point) -> int:
        if not c.equals(self.c):
            self.restart_at(c)
        return self.chain_crossing_sign(d)

    def chain_crossing_sign(self, d: Point) -> int:
        bda = triage_sign(self.a, self.b, d)
        if self.acb == -bda and bda != INDETERMINATE:
            self.c = d
            self.acb = -bda
            return DO_NOT_CROSS
        return self._crossing_sign(d, bda)

    def edge_or_vertex_chain_crossing(self, d: Point) -> bool:
        c = Point(self.c.x, self.c.y, self.c.z)
        s = self.chain_crossing_sign(d)
        if s == DO_NOT_CROSS:
            return False
        if s == CROSS:
            return True
        return vertex_crossing(self.a, self.b, c, d)

    def _crossing_sign(self, d: Point, bda: int) -> int:
        max_error = (1.5 + 1 / math.sqrt(3)) * DBL_EPSILON

        # Tangent-plane quick reject (EdgeCrosser.ts:157-182).
        if (self.c.dot(self.a_tangent) > max_error and d.dot(self.a_tangent) > max_error) or (
            self.c.dot(self.b_tangent) > max_error and d.dot(self.b_tangent) > max_error
        ):
            self.c = d
            self.acb = -bda
            return DO_NOT_CROSS

        if self.a.equals(self.c) or self.a.equals(d) or self.b.equals(self.c) or self.b.equals(d):
            self.c = d
            self.acb = -bda
            return MAYBE_CROSS

        if self.a.equals(self.b) or self.c.equals(d):
            self.c = d
            self.acb = -bda
            return DO_NOT_CROSS

        if self.acb == INDETERMINATE:
            self.acb = -expensive_sign(self.a, self.b, self.c)
        if bda == INDETERMINATE:
            bda = expensive_sign(self.a, self.b, d)

        if bda != self.acb:
            self.c = d
            self.acb = -bda
            return DO_NOT_CROSS

        cbd = -robust_sign(self.c, d, self.b)
        if cbd != self.acb:
            self.c = d
            self.acb = -bda
            return DO_NOT_CROSS

        dac = robust_sign(self.c, d, self.a)
        if dac != self.acb:
            self.c = d
            self.acb = -bda
            return DO_NOT_CROSS

        self.c = d
        self.acb = -bda
        return CROSS


def crossing_sign(a: Point, b: Point, c: Point, d: Point) -> int:
    """Edge AB x edge CD (edge_crossings.ts:39-42)."""
    crosser = EdgeCrosser.new_chain_edge_crosser(a, b, c)
    return crosser.chain_crossing_sign(d)


# ----------------------------------------------------- intersection point
# Port of /root/reference/s2/edge_crossings.ts:107-242: the stable ->
# exact ladder producing the crossing point of two edges.

DBL_ERROR = 1.110223024625156e-16
# NOTE: the reference's EPSILON (predicates.ts:19) EXCEEDS
# INTERSECTION_ERROR, so intersectionStable's acceptance threshold
# (maxError - EPSILON) is negative and the stable rung never
# certifies — every intersection() escalates to the exact-rational
# rung (the C++ original subtracts the type rounding error DBL_ERR
# instead). Ported faithfully; see tests/test_intersection.py.
EPSILON = 1e-15
INTERSECTION_ERROR = 8 * DBL_ERROR  # edge_crossings.ts:7


def projection(x: Point, a_norm: Point, a_norm_len: float, a0: Point, a1: Point) -> tuple[float, float]:
    """(x . aNorm, error bound), computed from the nearer edge endpoint
    for accuracy (edge_crossings.ts:149-167)."""
    x0 = x.sub(a0)
    x1 = x.sub(a1)
    x0_dist2 = x0.norm2()
    x1_dist2 = x1.norm2()
    if x0_dist2 < x1_dist2 or (x0_dist2 == x1_dist2 and x0.cmp(x1) == -1):
        dist = math.sqrt(x0_dist2)
        proj = x0.dot(a_norm)
    else:
        dist = math.sqrt(x1_dist2)
        proj = x1.dot(a_norm)
    bound = (
        ((3.5 + 2 * math.sqrt(3)) * a_norm_len + 32 * math.sqrt(3) * DBL_ERROR)
        * dist
        + 1.5 * abs(proj)
    ) * EPSILON
    return proj, bound


def compare_edges(a0: Point, a1: Point, b0: Point, b1: Point) -> bool:
    """(a0,a1) < (b0,b1) under a reversal-invariant total order
    (edge_crossings.ts:172-176)."""
    if a0.cmp(a1) != -1:
        a0, a1 = a1, a0
    if b0.cmp(b1) != -1:
        b0, b1 = b1, b0
    return a0.cmp(b0) == -1 or (a0.equals(b0) and b0.cmp(b1) == -1)


def intersection_stable(a0: Point, a1: Point, b0: Point, b1: Point) -> tuple[Point, bool]:
    """Double-precision intersection attempt; False if the certified
    error exceeds INTERSECTION_ERROR (edge_crossings.ts:183-190)."""
    a_len2 = a1.sub(a0).norm2()
    b_len2 = b1.sub(b0).norm2()
    if a_len2 < b_len2 or (a_len2 == b_len2 and compare_edges(a0, a1, b0, b1)):
        return _intersection_stable_sorted(b0, b1, a0, a1)
    return _intersection_stable_sorted(a0, a1, b0, b1)


def _intersection_stable_sorted(a0: Point, a1: Point, b0: Point, b1: Point) -> tuple[Point, bool]:
    """Expects the first edge to be the longer one
    (edge_crossings.ts:195-215)."""
    a_norm = a0.sub(a1).cross(a0.add(a1))
    a_norm_len = a_norm.norm()
    b_len = b1.sub(b0).norm()

    b0_dist, b0_error = projection(b0, a_norm, a_norm_len, a0, a1)
    b1_dist, b1_error = projection(b1, a_norm, a_norm_len, a0, a1)

    dist_sum = abs(b0_dist - b1_dist)
    error_sum = b0_error + b1_error
    if dist_sum <= error_sum:
        return Point(0, 0, 0), False

    x = b1.mul(b0_dist).sub(b0.mul(b1_dist))
    err = (
        b_len * abs(b0_dist * b1_error - b1_dist * b0_error) / (dist_sum - error_sum)
        + 2 * dist_sum * EPSILON
    )
    x_len = x.norm()
    if err > (INTERSECTION_ERROR - EPSILON) * x_len:
        return Point(0, 0, 0), False
    return x.mul(1.0 / x_len), True


def intersection_exact(a0: Point, a1: Point, b0: Point, b1: Point) -> Point:
    """Exact-rational intersection, rounded to double at the end; sign
    not guaranteed (edge_crossings.ts:222-242). Fraction plays the
    reference's PreciseVector."""
    from fractions import Fraction as Fr

    def cross(u, v):
        return (
            u[1] * v[2] - u[2] * v[1],
            u[2] * v[0] - u[0] * v[2],
            u[0] * v[1] - u[1] * v[0],
        )

    a0p = (Fr(a0.x), Fr(a0.y), Fr(a0.z))
    a1p = (Fr(a1.x), Fr(a1.y), Fr(a1.z))
    b0p = (Fr(b0.x), Fr(b0.y), Fr(b0.z))
    b1p = (Fr(b1.x), Fr(b1.y), Fr(b1.z))
    a_norm_p = cross(a0p, a1p)
    b_norm_p = cross(b0p, b1p)
    xp = cross(a_norm_p, b_norm_p)

    x = Point(float(xp[0]), float(xp[1]), float(xp[2])).normalize()
    if x.equals(Point(0, 0, 0)):
        # The edges are exactly collinear: return the appropriate
        # shared/interior vertex (ts:230-240).
        y = Point(10, 10, 10)
        a_norm = Point(*(float(v) for v in a_norm_p)).normalize()
        b_norm = Point(*(float(v) for v in b_norm_p)).normalize()
        if ordered_ccw(b0, a0, b1, b_norm) and a0.cmp(y) == -1:
            return a0
        if ordered_ccw(b0, a1, b1, b_norm) and a1.cmp(y) == -1:
            return a1
        if ordered_ccw(a0, b0, a1, a_norm) and b0.cmp(y) == -1:
            return b0
        if ordered_ccw(a0, b1, a1, a_norm) and b1.cmp(y) == -1:
            return b1
    return x


def intersection(a0: Point, a1: Point, b0: Point, b1: Point) -> Point:
    """Crossing point of AB x CD, within INTERSECTION_ERROR of the true
    point even at tiny crossing angles (edge_crossings.ts:116-128)."""
    pt, ok = intersection_stable(a0, a1, b0, b1)
    if not ok:
        pt = intersection_exact(a0, a1, b0, b1)
    if pt.dot(a0.add(a1).add(b0.add(b1))) < 0:
        pt = pt.mul(-1)
    return pt
