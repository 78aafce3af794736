"""Point-to-edge distances in chord-angle space.

Semantics of /root/reference/s2/edge_distances.ts (the subset used by
Cell/Cap/kNN: min distance updates and interpolation at a distance).
"""

from __future__ import annotations

import math

from .angle import chord_angle
from .point import Point
from .predicates import DBL_EPSILON


def interior_dist(
    x: Point, a: Point, b: Point, min_dist: float, always_update: bool
) -> tuple[float, bool]:
    """Distance when the closest point is interior to AB
    (edge_distances.ts:239-333)."""
    xa2 = x.sub(a).norm2()
    xb2 = x.sub(b).norm2()

    ab2 = a.sub(b).norm2()
    max_error = 4.75 * DBL_EPSILON * (xa2 + xb2 + ab2) + 8 * DBL_EPSILON * DBL_EPSILON
    if abs(xa2 - xb2) >= ab2 + max_error:
        return min_dist, False

    c = a.point_cross(b)
    c2 = c.norm2()
    x_dot_c = x.dot(c)
    x_dot_c2 = x_dot_c * x_dot_c
    if not always_update and x_dot_c2 > c2 * min_dist:
        return min_dist, False

    cx = c.cross(x)
    if a.sub(x).dot(cx) >= 0 or b.sub(x).dot(cx) <= 0:
        return min_dist, False

    qr = 1 - math.sqrt(cx.norm2() / c2)
    dist = x_dot_c2 / c2 + qr * qr
    if not always_update and dist >= min_dist:
        return min_dist, False
    return dist, True


def _update_min_distance(
    x: Point, a: Point, b: Point, min_dist: float, always_update: bool
) -> tuple[float, bool]:
    d, ok = interior_dist(x, a, b, min_dist, always_update)
    if ok:
        return d, True
    xa2 = x.sub(a).norm2()
    xb2 = x.sub(b).norm2()
    dist = min(xa2, xb2)
    if not always_update and dist >= min_dist:
        return min_dist, False
    return dist, True


def update_min_distance(x: Point, a: Point, b: Point, min_dist: float) -> tuple[float, bool]:
    return _update_min_distance(x, a, b, min_dist, False)


def distance_from_segment(x: Point, a: Point, b: Point) -> float:
    return chord_angle(_update_min_distance(x, a, b, 0.0, True)[0])


def interpolate_at_distance(ax: float, a: Point, b: Point) -> Point:
    """Point at angle ax from A towards B (edge_distances.ts:133-153)."""
    normal = a.point_cross(b)
    tangent = normal.cross(a)
    return a.mul(math.cos(ax)).add(tangent.mul(math.sin(ax) / tangent.norm())).normalize()


def interpolate(t: float, a: Point, b: Point) -> Point:
    if t == 0:
        return a
    if t == 1:
        return b
    ab = a.angle(b)
    return interpolate_at_distance(t * ab, a, b)
