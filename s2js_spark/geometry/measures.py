"""Triangle measures on the sphere (areas, angles).

Semantics of /root/reference/s2/point_measures.ts and the centroid
helpers in /root/reference/s2/centroids.ts.
"""

from __future__ import annotations

import math

from .point import Point
from .predicates import COUNTERCLOCKWISE, robust_sign


def girard_area(a: Point, b: Point, c: Point) -> float:
    ab = a.point_cross(b)
    bc = b.point_cross(c)
    ac = a.point_cross(c)
    area = ab.angle(ac) - ab.angle(bc) + bc.angle(ac)
    return max(0.0, area)


def point_area(a: Point, b: Point, c: Point) -> float:
    """L'Huilier + Girard hybrid (point_measures.ts:17-42)."""
    sa = b.stable_angle(c)
    sb = c.stable_angle(a)
    sc = a.stable_angle(b)
    s = 0.5 * (sa + sb + sc)
    if s >= 3e-4:
        dmin = s - max(sa, sb, sc)
        if dmin < 1e-2 * s * s * s * s * s:
            area = girard_area(a, b, c)
            if dmin < s * 0.1 * (area + 5e-15):
                return area
    return 4 * math.atan(
        math.sqrt(
            max(
                0.0,
                math.tan(0.5 * s)
                * math.tan(0.5 * (s - sa))
                * math.tan(0.5 * (s - sb))
                * math.tan(0.5 * (s - sc)),
            )
        )
    )


def signed_area(a: Point, b: Point, c: Point) -> float:
    return robust_sign(a, b, c) * point_area(a, b, c)


def angle(a: Point, b: Point, c: Point) -> float:
    return a.point_cross(b).angle(c.point_cross(b))


def turn_angle(a: Point, b: Point, c: Point) -> float:
    ang = a.point_cross(b).angle(b.point_cross(c))
    return ang if robust_sign(a, b, c) == COUNTERCLOCKWISE else -ang


def true_centroid(a: Point, b: Point, c: Point) -> Point:
    """Area-weighted triangle centroid (centroids.ts:45-92)."""
    ra = 1.0
    sa = b.distance(c)
    if sa != 0:
        ra = sa / math.sin(sa)
    rb = 1.0
    sb = c.distance(a)
    if sb != 0:
        rb = sb / math.sin(sb)
    rc = 1.0
    sc = a.distance(b)
    if sc != 0:
        rc = sc / math.sin(sc)

    # Cramer's rule with row A subtracted for stability (centroids.ts:75-81).
    x = Point(a.x, b.x - a.x, c.x - a.x)
    y = Point(a.y, b.y - a.y, c.y - a.y)
    z = Point(a.z, b.z - a.z, c.z - a.z)
    r = Point(ra, rb - ra, rc - ra)
    return Point(
        y.cross(z).dot(r), z.cross(x).dot(r), x.cross(y).dot(r)
    ).mul(0.5)
