"""Spherical cap region (center + chord-angle radius).

Semantics of /root/reference/s2/Cap.ts.
"""

from __future__ import annotations

import math

from . import angle as ca
from .angle import (
    NEGATIVE_CHORDANGLE,
    RIGHT_CHORDANGLE,
    STRAIGHT_CHORDANGLE,
)
from .edge_distances import interpolate_at_distance
from .interval import R1Interval, S1Interval
from .metric import MIN_WIDTH_METRIC
from .point import Point
from .predicates import DBL_EPSILON
from .rect import Rect
from . import cellid_scalar as cs

PI = math.pi
CENTER_POINT = Point.from_coords(1.0, 0.0, 0.0)


class Cap:
    __slots__ = ("center", "rad")

    def __init__(self, center: Point, radius: float):
        self.center = center
        self.rad = radius

    # ---------------------------------------------------------- constructors
    @staticmethod
    def from_point(p: Point) -> "Cap":
        return Cap(p, 0.0)

    @staticmethod
    def from_center_angle(center: Point, angle: float) -> "Cap":
        return Cap(center, ca.chord_from_angle(angle))

    @staticmethod
    def from_center_height(center: Point, height: float) -> "Cap":
        return Cap(center, ca.chord_from_squared_length(2 * height))

    @staticmethod
    def from_center_area(center: Point, area: float) -> "Cap":
        return Cap(center, ca.chord_from_squared_length(area / PI))

    @staticmethod
    def empty() -> "Cap":
        return Cap(CENTER_POINT, NEGATIVE_CHORDANGLE)

    @staticmethod
    def full() -> "Cap":
        return Cap(CENTER_POINT, STRAIGHT_CHORDANGLE)

    # -------------------------------------------------------------- queries
    def is_valid(self) -> bool:
        return abs(self.center.norm2() - 1) <= 5e-14 and self.rad <= STRAIGHT_CHORDANGLE

    def is_empty(self) -> bool:
        return self.rad < 0

    def is_full(self) -> bool:
        return self.rad == STRAIGHT_CHORDANGLE

    def height(self) -> float:
        return 0.5 * self.rad

    def radius(self) -> float:
        return ca.chord_angle(self.rad)

    def area(self) -> float:
        return 2.0 * PI * max(0.0, self.height())

    def contains(self, other: "Cap") -> bool:
        if self.is_full() or other.is_empty():
            return True
        return self.rad >= ca.chord_add(
            Point.chord_angle_between(self.center, other.center), other.rad
        )

    def intersects(self, other: "Cap") -> bool:
        if self.is_empty() or other.is_empty():
            return False
        return ca.chord_add(self.rad, other.rad) >= Point.chord_angle_between(
            self.center, other.center
        )

    def interior_intersects(self, other: "Cap") -> bool:
        if self.rad <= 0 or other.is_empty():
            return False
        return ca.chord_add(self.rad, other.rad) > Point.chord_angle_between(
            self.center, other.center
        )

    def contains_point(self, p: Point) -> bool:
        return Point.chord_angle_between(self.center, p) <= self.rad

    def complement(self) -> "Cap":
        if self.is_full():
            return Cap.empty()
        if self.is_empty():
            return Cap.full()
        return Cap(self.center.mul(-1), ca.chord_sub(STRAIGHT_CHORDANGLE, self.rad))

    # ----------------------------------------------------------- cell tests
    def intersects_cell(self, cell) -> bool:
        vertices = []
        for k in range(4):
            v = cell.vertex(k)
            vertices.append(v)
            if self.contains_point(v):
                return True
        return self._intersects(cell, vertices)

    def _intersects(self, cell, vertices: list[Point]) -> bool:
        """Cap/cell interior intersection, vertices pre-checked
        (Cap.ts:228-268)."""
        if self.rad >= RIGHT_CHORDANGLE:
            return False
        if self.is_empty():
            return False
        if cell.contains_point(self.center):
            return True
        sin2_angle = ca.chord_sin2(self.rad)
        for k in range(4):
            edge = cell.edge(k)
            dot = self.center.dot(edge)
            if dot > 0:
                continue
            if dot * dot > sin2_angle * edge.norm2():
                return False
            direction = edge.cross(self.center)
            if direction.dot(vertices[k]) < 0 and direction.dot(vertices[(k + 1) & 3]) > 0:
                return True
        return False

    def contains_cell(self, cell) -> bool:
        vertices = []
        for k in range(4):
            v = cell.vertex(k)
            vertices.append(v)
            if not self.contains_point(v):
                return False
        return not self.complement()._intersects(cell, vertices)

    # ---------------------------------------------------------------- bounds
    def cap_bound(self) -> "Cap":
        return self

    def rect_bound(self) -> Rect:
        """Bounding lat/lng rect (Cap.ts:319-360)."""
        if self.is_empty():
            return Rect.empty()

        cap_angle = self.radius()
        all_longitudes = False
        lat_lo = self.center.latitude() - cap_angle
        lat_hi = self.center.latitude() + cap_angle
        lng = S1Interval.full()

        if lat_lo <= -PI / 2:
            lat_lo = -PI / 2
            all_longitudes = True
        if lat_hi >= PI / 2:
            lat_hi = PI / 2
            all_longitudes = True

        if not all_longitudes:
            sin_a = ca.chord_sin(self.rad)
            sin_c = math.cos(self.center.latitude())
            if sin_a <= sin_c:
                angle_a = math.asin(sin_a / sin_c)
                lng = S1Interval(
                    math.remainder(self.center.longitude() - angle_a, PI * 2),
                    math.remainder(self.center.longitude() + angle_a, PI * 2),
                )
        return Rect(R1Interval(lat_lo, lat_hi), lng)

    def cell_union_bound(self) -> list[int]:
        """<=4-cell covering via vertex neighbors (Cap.ts:448-468)."""
        level = MIN_WIDTH_METRIC.max_level(self.radius()) - 1
        if level < 0:
            return [cs.from_face(f) for f in range(6)]
        return cs.vertex_neighbors(cs.from_point(self.center.x, self.center.y, self.center.z), level)

    # ------------------------------------------------------------- mutation
    def equals(self, other: "Cap") -> bool:
        return (
            (self.rad == other.rad and self.center.equals(other.center))
            or (self.is_empty() and other.is_empty())
            or (self.is_full() and other.is_full())
        )

    def approx_equal(self, other: "Cap") -> bool:
        epsilon = 1e-14
        r2 = self.rad
        other_r2 = other.rad
        return (
            (self.center.approx_equal(other.center) and abs(r2 - other_r2) <= epsilon)
            or (self.is_empty() and other_r2 <= epsilon)
            or (other.is_empty() and r2 <= epsilon)
            or (self.is_full() and other_r2 >= 2 - epsilon)
            or (other.is_full() and r2 >= 2 - epsilon)
        )

    def add_point(self, p: Point) -> "Cap":
        if self.is_empty():
            return Cap(p, 0.0)
        new_rad = Point.chord_angle_between(self.center, p)
        if new_rad > self.rad:
            self.rad = new_rad
        return self

    def add_cap(self, other: "Cap") -> "Cap":
        if self.is_empty():
            return other
        if other.is_empty():
            return self
        dist = ca.chord_add(Point.chord_angle_between(self.center, other.center), other.rad)
        new_rad = ca.chord_expanded(dist, DBL_EPSILON * dist)
        if new_rad > self.rad:
            self.rad = new_rad
        return self

    def expanded(self, distance: float) -> "Cap":
        if self.is_empty():
            return Cap.empty()
        return Cap(self.center, ca.chord_add(self.rad, ca.chord_from_angle(distance)))

    def centroid(self) -> Point:
        if self.is_empty():
            return Point(0.0, 0.0, 0.0)
        r = 1 - 0.5 * self.height()
        return self.center.mul(r * self.area())

    def union(self, oc: "Cap") -> "Cap":
        c = self
        if c.rad < oc.rad:
            c, oc = oc, c
        if c.is_full() or oc.is_empty():
            return c
        c_radius = c.radius()
        other_radius = oc.radius()
        distance = c.center.distance(oc.center)
        if c_radius >= distance + other_radius:
            return c
        res_radius = 0.5 * (distance + c_radius + other_radius)
        res_center = interpolate_at_distance(
            0.5 * (distance - c_radius + other_radius), c.center, oc.center
        )
        return Cap.from_center_angle(res_center, res_radius)

    @staticmethod
    def radius_to_height(r: float) -> float:
        if r < 0:
            return NEGATIVE_CHORDANGLE
        if r >= PI:
            return RIGHT_CHORDANGLE
        return 0.5 * ca.chord_from_angle(r)
