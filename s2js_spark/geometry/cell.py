"""S2 Cell region: exact containment/intersection/distance tests.

Semantics of /root/reference/s2/Cell.ts (plus the scalar uvw-frame
helpers from /root/reference/s2/stuv.ts:338-448). Used driver-side by
the RegionCoverer; never per document.
"""

from __future__ import annotations

import math

from . import cellid_scalar as cs
from .angle import chord_from_squared_length
from .interval import R1Interval, S1Interval
from .latlng import LatLng
from .point import Point
from .predicates import DBL_EPSILON
from .r2 import R2Point, R2Rect
from .rect import Rect

POLE_MIN_LAT = math.asin(math.sqrt(1.0 / 3)) - 0.5 * DBL_EPSILON


# ------------------------------------------------- scalar stuv frame helpers

def u_norm(face: int, u: float) -> Point:
    """Right-handed +v-edge normal (stuv.ts:338-353)."""
    if face == 0:
        return Point(u, -1.0, 0.0)
    if face == 1:
        return Point(1.0, u, 0.0)
    if face == 2:
        return Point(1.0, 0.0, u)
    if face == 3:
        return Point(-u, 0.0, 1.0)
    if face == 4:
        return Point(0.0, -u, 1.0)
    return Point(0.0, -1.0, -u)


def v_norm(face: int, v: float) -> Point:
    """Right-handed +u-edge normal (stuv.ts:360-375)."""
    if face == 0:
        return Point(-v, 0.0, 1.0)
    if face == 1:
        return Point(0.0, -v, 1.0)
    if face == 2:
        return Point(0.0, -1.0, -v)
    if face == 3:
        return Point(v, -1.0, 0.0)
    if face == 4:
        return Point(1.0, v, 0.0)
    return Point(1.0, 0.0, v)


_FACE_UVW_AXES = [
    [Point(0, 1, 0), Point(0, 0, 1), Point(1, 0, 0)],
    [Point(-1, 0, 0), Point(0, 0, 1), Point(0, 1, 0)],
    [Point(-1, 0, 0), Point(0, -1, 0), Point(0, 0, 1)],
    [Point(0, 0, -1), Point(0, -1, 0), Point(-1, 0, 0)],
    [Point(0, 0, -1), Point(1, 0, 0), Point(0, -1, 0)],
    [Point(0, 1, 0), Point(1, 0, 0), Point(0, 0, -1)],
]


def uvw_axis(face: int, axis: int) -> Point:
    return _FACE_UVW_AXES[face][axis]


def u_axis(face: int) -> Point:
    return uvw_axis(face, 0)


def v_axis(face: int) -> Point:
    return uvw_axis(face, 1)


def unit_norm(face: int) -> Point:
    return uvw_axis(face, 2)


def face_uv_to_xyz(face: int, u: float, v: float) -> Point:
    return Point(*cs._face_uv_to_xyz_scalar(face, u, v))


def face_xyz_to_uv(face: int, p: Point) -> tuple[float, float, bool]:
    """(u,v) if p is on the positive side of the face (stuv.ts:246-270)."""
    if face == 0 and p.x <= 0:
        return 0.0, 0.0, False
    if face == 1 and p.y <= 0:
        return 0.0, 0.0, False
    if face == 2 and p.z <= 0:
        return 0.0, 0.0, False
    if face == 3 and p.x >= 0:
        return 0.0, 0.0, False
    if face == 4 and p.y >= 0:
        return 0.0, 0.0, False
    if face == 5 and p.z >= 0:
        return 0.0, 0.0, False
    if face == 0:
        u, v = p.y / p.x, p.z / p.x
    elif face == 1:
        u, v = -p.x / p.y, p.z / p.y
    elif face == 2:
        u, v = -p.x / p.z, -p.y / p.z
    elif face == 3:
        u, v = p.z / p.x, p.y / p.x
    elif face == 4:
        u, v = p.z / p.y, -p.x / p.y
    else:
        u, v = -p.y / p.z, -p.x / p.z
    return u, v, True


def face_xyz_to_uvw(face: int, v: Point) -> Point:
    """Rotate into the (u,v,w) frame of the face (stuv.ts:275-292)."""
    if face == 0:
        return Point(v.y, v.z, v.x)
    if face == 1:
        return Point(-v.x, v.z, v.y)
    if face == 2:
        return Point(-v.x, -v.y, v.z)
    if face == 3:
        return Point(-v.z, -v.y, -v.x)
    if face == 4:
        return Point(-v.z, v.x, -v.y)
    return Point(v.y, v.x, -v.z)


def _min_chord(*vals: float) -> float:
    return min(vals)


class Cell:
    __slots__ = ("face", "level", "orientation", "id", "uv")

    def __init__(self, face: int, level: int, orientation: int, id: int, uv: R2Rect):
        self.face = face
        self.level = level
        self.orientation = orientation
        self.id = id
        self.uv = uv

    @staticmethod
    def from_cellid(id: int) -> "Cell":
        f, i, j, orientation = cs.face_ij_orientation(id)
        level = cs.level(id)
        u_lo, u_hi, v_lo, v_hi = cs.ij_level_to_bound_uv(i, j, level)
        uv = R2Rect(R1Interval(u_lo, u_hi), R1Interval(v_lo, v_hi))
        return Cell(f, level, orientation, id, uv)

    @staticmethod
    def from_point(p: Point) -> "Cell":
        return Cell.from_cellid(cs.from_point(p.x, p.y, p.z))

    def is_leaf(self) -> bool:
        return self.level == 30

    def size_ij(self) -> int:
        return cs.size_ij(self.level)

    def vertex(self, k: int) -> Point:
        v = self.uv.vertices()[k]
        return face_uv_to_xyz(self.face, v.x, v.y).normalize()

    def edge(self, k: int) -> Point:
        """Inward-facing edge normal (Cell.ts:119-130)."""
        if k == 0:
            return v_norm(self.face, self.uv.y.lo).normalize()
        if k == 1:
            return u_norm(self.face, self.uv.x.hi).normalize()
        if k == 2:
            return v_norm(self.face, self.uv.y.hi).mul(-1.0).normalize()
        return u_norm(self.face, self.uv.x.lo).mul(-1.0).normalize()

    def center(self) -> Point:
        return Point(*cs.raw_point(self.id)).normalize()

    def children(self) -> list["Cell"]:
        """Four direct children in traversal order (Cell.ts:155-195)."""
        if cs.is_leaf(self.id):
            return []
        children = []
        _, si, ti = cs.face_si_ti(self.id)
        uv_mid_x = cs._st_to_uv_scalar(cs.si_ti_to_st(si))
        uv_mid_y = cs._st_to_uv_scalar(cs.si_ti_to_st(ti))
        cid = cs.child_begin(self.id)
        for pos in range(4):
            ij = cs.POS_TO_IJ[self.orientation][pos]
            i = ij >> 1
            j = ij & 1
            if i == 1:
                xiv = R1Interval(uv_mid_x, self.uv.x.hi)
            else:
                xiv = R1Interval(self.uv.x.lo, uv_mid_x)
            if j == 1:
                yiv = R1Interval(uv_mid_y, self.uv.y.hi)
            else:
                yiv = R1Interval(self.uv.y.lo, uv_mid_y)
            children.append(
                Cell(
                    self.face,
                    self.level + 1,
                    self.orientation ^ cs.POS_TO_ORIENTATION[pos],
                    cid,
                    R2Rect(xiv, yiv),
                )
            )
            cid = cs.next_cell(cid)
        return children

    # ------------------------------------------------------------ regions

    def intersects_cell(self, oc: "Cell") -> bool:
        return cs.intersects(self.id, oc.id)

    def contains_cell(self, oc: "Cell") -> bool:
        return cs.contains(self.id, oc.id)

    def cell_union_bound(self) -> list[int]:
        return self.cap_bound().cell_union_bound()

    def _latitude(self, i: int, j: int) -> float:
        u = self.uv.x.lo if i == 0 else self.uv.x.hi
        v = self.uv.y.lo if j == 0 else self.uv.y.hi
        return face_uv_to_xyz(self.face, u, v).latitude()

    def _longitude(self, i: int, j: int) -> float:
        u = self.uv.x.lo if i == 0 else self.uv.x.hi
        v = self.uv.y.lo if j == 0 else self.uv.y.hi
        return face_uv_to_xyz(self.face, u, v).longitude()

    def rect_bound(self) -> Rect:
        """Bounding lat/lng rect (Cell.ts:320-371)."""
        if self.level > 0:
            u = self.uv.x.lo + self.uv.x.hi
            v = self.uv.y.lo + self.uv.y.hi
            if u_axis(self.face).z == 0:
                i = 1 if u < 0 else 0
            else:
                i = 1 if u > 0 else 0
            if v_axis(self.face).z == 0:
                j = 1 if v < 0 else 0
            else:
                j = 1 if v > 0 else 0
            lat = R1Interval.from_point(self._latitude(i, j)).add_point(
                self._latitude(1 - i, 1 - j)
            )
            lng = (
                S1Interval.empty()
                .add_point(self._longitude(i, 1 - j))
                .add_point(self._longitude(1 - i, j))
            )
            return (
                Rect(lat, lng)
                .expanded(LatLng(2 * DBL_EPSILON, 2 * DBL_EPSILON))
                .polar_closure()
            )

        pi = math.pi
        if self.face == 0:
            bound = Rect(R1Interval(-pi / 4, pi / 4), S1Interval(-pi / 4, pi / 4))
        elif self.face == 1:
            bound = Rect(R1Interval(-pi / 4, pi / 4), S1Interval(pi / 4, 3 * pi / 4))
        elif self.face == 2:
            bound = Rect(R1Interval(POLE_MIN_LAT, pi / 2), S1Interval.full())
        elif self.face == 3:
            bound = Rect(R1Interval(-pi / 4, pi / 4), S1Interval(3 * pi / 4, -3 * pi / 4))
        elif self.face == 4:
            bound = Rect(R1Interval(-pi / 4, pi / 4), S1Interval(-3 * pi / 4, -pi / 4))
        else:
            bound = Rect(R1Interval(-pi / 2, -POLE_MIN_LAT), S1Interval.full())
        return bound.expanded(LatLng(DBL_EPSILON, 0))

    def cap_bound(self):
        from .cap import Cap

        c = self.uv.center()
        cap = Cap.from_point(face_uv_to_xyz(self.face, c.x, c.y).normalize())
        for k in range(4):
            cap = cap.add_point(self.vertex(k))
        return cap

    def contains_point(self, p: Point) -> bool:
        """Closed-set containment with eps-expanded (u,v) bound
        (Cell.ts:393-417)."""
        u, v, ok = face_xyz_to_uv(self.face, p)
        if not ok:
            return False
        return self.uv.expanded_by_margin(DBL_EPSILON).contains_point(R2Point(u, v))

    # ----------------------------------------------------------- distances

    def _vertex_chord_dist2(self, p: Point, x_hi: bool, y_hi: bool) -> float:
        x = self.uv.x.hi if x_hi else self.uv.x.lo
        y = self.uv.y.hi if y_hi else self.uv.y.lo
        return Point.chord_angle_between(p, Point.from_coords(x, y, 1))

    def _u_edge_is_closest(self, p: Point, v_hi: bool) -> bool:
        u0, u1 = self.uv.x.lo, self.uv.x.hi
        v = self.uv.y.hi if v_hi else self.uv.y.lo
        dir0 = Point(v * v + 1, -u0 * v, -u0)
        dir1 = Point(v * v + 1, -u1 * v, -u1)
        return p.dot(dir0) > 0 and p.dot(dir1) < 0

    def _v_edge_is_closest(self, p: Point, u_hi: bool) -> bool:
        v0, v1 = self.uv.y.lo, self.uv.y.hi
        u = self.uv.x.hi if u_hi else self.uv.x.lo
        dir0 = Point(-u * v0, u * u + 1, -v0)
        dir1 = Point(-u * v1, u * u + 1, -v1)
        return p.dot(dir0) > 0 and p.dot(dir1) < 0

    @staticmethod
    def _edge_distance(ij: float, uv: float) -> float:
        pq2 = (ij * ij) / (1 + uv * uv)
        qr = 1 - math.sqrt(1 - pq2)
        return chord_from_squared_length(pq2 + qr * qr)

    def _distance_internal(self, target_xyz: Point, to_interior: bool) -> float:
        target = face_xyz_to_uvw(self.face, target_xyz)
        dir00 = target.x - target.z * self.uv.x.lo
        dir01 = target.x - target.z * self.uv.x.hi
        dir10 = target.y - target.z * self.uv.y.lo
        dir11 = target.y - target.z * self.uv.y.hi
        inside = True
        if dir00 < 0:
            inside = False
            if self._v_edge_is_closest(target, False):
                return Cell._edge_distance(-dir00, self.uv.x.lo)
        if dir01 > 0:
            inside = False
            if self._v_edge_is_closest(target, True):
                return Cell._edge_distance(dir01, self.uv.x.hi)
        if dir10 < 0:
            inside = False
            if self._u_edge_is_closest(target, False):
                return Cell._edge_distance(-dir10, self.uv.y.lo)
        if dir11 > 0:
            inside = False
            if self._u_edge_is_closest(target, True):
                return Cell._edge_distance(dir11, self.uv.y.hi)
        if inside:
            if to_interior:
                return 0.0
            return _min_chord(
                Cell._edge_distance(-dir00, self.uv.x.lo),
                Cell._edge_distance(dir01, self.uv.x.hi),
                Cell._edge_distance(-dir10, self.uv.y.lo),
                Cell._edge_distance(dir11, self.uv.y.hi),
            )
        return _min_chord(
            self._vertex_chord_dist2(target, False, False),
            self._vertex_chord_dist2(target, True, False),
            self._vertex_chord_dist2(target, False, True),
            self._vertex_chord_dist2(target, True, True),
        )

    def distance(self, target: Point) -> float:
        return self._distance_internal(target, True)
