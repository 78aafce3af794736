"""Edge clipping: geodesic edges against cube faces and 2D rectangles.

Port of the face-segment and rect-intersection parts of
/root/reference/s2/edge_clipping.ts with their certified error
constants (:13-18). faceSegments guarantees a continuous A->B path
consistent with robust Sign even for near-antipodal endpoints.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from .point import Point
from .r2 import R2Point, R2Rect

DBL_EPSILON = 2.220446049250313e-16

# error constants (edge_clipping.ts:13-18)
FACE_CLIP_ERROR_RADIANS = 3 * DBL_EPSILON
FACE_CLIP_ERROR_UV_COORD = 9.0 * (1.0 / math.sqrt(2.0)) * DBL_EPSILON

AXIS_U = 0
AXIS_V = 1

# The neighbors of each face in (u,v,w) coordinates (stuv.ts:388-412).
_UVW_FACES = [
    [[4, 1], [5, 2], [3, 0]],
    [[0, 3], [5, 2], [4, 1]],
    [[0, 3], [1, 4], [5, 2]],
    [[2, 5], [1, 4], [0, 3]],
    [[2, 5], [3, 0], [1, 4]],
    [[4, 1], [3, 0], [2, 5]],
]


def uvw_face(face: int, axis: int, direction: int) -> int:
    """Adjacent face along the given uvw axis/direction (stuv.ts:431)."""
    return _UVW_FACES[face][axis][direction]


# ---------------------------------------------------- scalar stuv helpers

def _face(p: Point) -> int:
    """Cube face containing direction p (stuv.ts:176-190)."""
    ax, ay, az = abs(p.x), abs(p.y), abs(p.z)
    if ax > ay and ax > az:
        f, comp = 0, p.x
    elif (not (ax > ay)) and ay > az:
        f, comp = 1, p.y
    else:
        f, comp = 2, p.z
    return f + 3 if comp < 0 else f


def _valid_face_xyz_to_uv(face: int, p: Point) -> tuple[float, float]:
    """Project p onto face (stuv.ts:196-211)."""
    if face == 0:
        return p.y / p.x, p.z / p.x
    if face == 1:
        return -p.x / p.y, p.z / p.y
    if face == 2:
        return -p.x / p.z, -p.y / p.z
    if face == 3:
        return p.z / p.x, p.y / p.x
    if face == 4:
        return p.z / p.y, -p.x / p.y
    return -p.y / p.z, -p.x / p.z


def _xyz_to_face_uv(p: Point) -> tuple[int, float, float]:
    f = _face(p)
    u, v = _valid_face_xyz_to_uv(f, p)
    return f, u, v


def _face_uv_to_xyz(face: int, u: float, v: float) -> Point:
    """(face,u,v) -> unnormalized xyz (stuv.ts:225-240)."""
    if face == 0:
        return Point(1, u, v)
    if face == 1:
        return Point(-u, 1, v)
    if face == 2:
        return Point(-u, -v, 1)
    if face == 3:
        return Point(-1, -v, -u)
    if face == 4:
        return Point(v, -1, -u)
    return Point(v, u, -1)


def face_xyz_to_uvw(face: int, v: Point) -> Point:
    """Rotate xyz into the (u,v,w) frame of ``face`` (stuv.ts:275-292)."""
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


# -------------------------------------------------------------- PointUVW

class PointUVW(Point):
    """A point in the (u,v,w) frame of a cube face
    (edge_clipping.ts:123-168)."""

    def intersects_face(self) -> bool:
        """Whether the great circle with this normal intersects the
        face (ts:128-133)."""
        u, v, w = abs(self.x), abs(self.y), abs(self.z)
        return v >= w - u and u >= w - v

    def intersects_opposite_edges(self) -> bool:
        """Whether the circle intersects two opposite face edges
        (ts:135-143)."""
        u, v, w = abs(self.x), abs(self.y), abs(self.z)
        if abs(u - v) != w:
            return abs(u - v) >= w
        return (u - w >= v) if u >= v else (v - w >= u)

    def exit_axis(self) -> int:
        """Axis of the face edge where the circle exits (ts:145-158)."""
        if self.intersects_opposite_edges():
            return AXIS_V if abs(self.x) >= abs(self.y) else AXIS_U
        x = 1 if _sign(self.x) < 0 else 0
        y = 1 if _sign(self.y) < 0 else 0
        z = 1 if _sign(self.z) < 0 else 0
        return AXIS_V if (x ^ y ^ z) == 0 else AXIS_U

    def exit_point(self, axis: int) -> R2Point:
        """Exit point of the circle on the given axis edge
        (ts:160-167)."""
        if axis == AXIS_U:
            u = 1.0 if self.y > 0 else -1.0
            return R2Point(u, (-u * self.x - self.z) / self.y)
        v = 1.0 if self.x < 0 else -1.0
        return R2Point((-v * self.y - self.z) / self.x, v)


def _sign(x: float) -> int:
    # JS Math.sign semantics: sign(0) == 0, sign(-0.0) == -0 -> 0
    return (x > 0) - (x < 0)


def sum_equal(u: float, v: float, w: float) -> bool:
    """u + v == w EXACTLY (ts:112)."""
    return u + v == w and u == w - v and v == w - u


def _t(p: Point) -> tuple[float, float, float]:
    return p.x, p.y, p.z


# ----------------------------------------------------------- 2D clipping

def edge_intersects_rect(a: R2Point, b: R2Point, r: R2Rect) -> bool:
    """Whether segment AB intersects the closed rect (ts:262-274)."""
    if not r.intersects(R2Rect.from_points(a, b)):
        return False
    n = b.sub(a).ortho()
    i = 1 if n.x >= 0 else 0
    j = 1 if n.y >= 0 else 0
    mx = n.dot(r.vertex_ij(i, j).sub(a))
    mn = n.dot(r.vertex_ij(1 - i, 1 - j).sub(a))
    return mx >= 0 and mn <= 0


# ---------------------------------------------------------- face segments

@dataclass
class FaceSegment:
    """Edge AB clipped to one cube face (ts:311-332)."""

    face: int
    a: R2Point
    b: R2Point


def move_origin_to_valid_face(face: int, a: Point, ab: Point, a_uv: R2Point) -> tuple[int, R2Point]:
    """Reproject origin A onto an adjacent face if the (inexact) line
    AB misses A's face or exits behind A (ts:421-460)."""
    max_safe_uv = 1 - FACE_CLIP_ERROR_UV_COORD
    if max(abs(a_uv.x), abs(a_uv.y)) <= max_safe_uv:
        return face, a_uv

    n = PointUVW(*_t(face_xyz_to_uvw(face, ab)))
    if n.intersects_face():
        uv = n.exit_point(n.exit_axis())
        exit_xyz = _face_uv_to_xyz(face, uv.x, uv.y)
        a_tangent = ab.normalize().cross(a)
        if exit_xyz.sub(a).dot(a_tangent) >= -FACE_CLIP_ERROR_RADIANS:
            return face, a_uv

    if abs(a_uv.x) >= abs(a_uv.y):
        face = uvw_face(face, 0, 1 if a_uv.x > 0 else 0)
    else:
        face = uvw_face(face, 1, 1 if a_uv.y > 0 else 0)

    ax, ay = _valid_face_xyz_to_uv(face, a)
    return face, R2Point(max(-1.0, min(1.0, ax)), max(-1.0, min(1.0, ay)))


def next_face(face: int, exit: R2Point, axis: int, n: PointUVW, target_face: int) -> int:
    """Next face visited by faceSegments (ts:469-510)."""
    exit_a, exit_1ma = (exit.y, exit.x) if axis == AXIS_V else (exit.x, exit.y)
    exit_a_pos = 1 if exit_a > 0 else 0
    exit_1ma_pos = 1 if exit_1ma > 0 else 0

    if (
        abs(exit_1ma) == 1
        and uvw_face(face, 1 - axis, exit_1ma_pos) == target_face
        and sum_equal(exit.x * n.x, exit.y * n.y, -n.z)
    ):
        return target_face
    return uvw_face(face, axis, exit_a_pos)


def face_segments(a: Point, b: Point) -> list[FaceSegment]:
    """Subdivide AB at every cube-face boundary crossing; continuous
    A->B path, all vertices in the biunit squares (ts:346-406)."""
    a_face, ax, ay = _xyz_to_face_uv(a)
    b_face, bx, by = _xyz_to_face_uv(b)
    seg_a = R2Point(ax, ay)
    seg_b = R2Point(bx, by)
    if a_face == b_face:
        return [FaceSegment(a_face, seg_a, seg_b)]

    ab = a.point_cross(b)
    a_face, seg_a = move_origin_to_valid_face(a_face, a, ab, seg_a)
    b_face, seg_b = move_origin_to_valid_face(b_face, b, ab.neg(), seg_b)

    segments: list[FaceSegment] = []
    face = a_face
    cur_a = seg_a
    while face != b_face:
        n = PointUVW(*_t(face_xyz_to_uvw(face, ab)))
        exit_axis = n.exit_axis()
        exit_uv = n.exit_point(exit_axis)
        segments.append(FaceSegment(face, cur_a, exit_uv))

        exit_xyz = _face_uv_to_xyz(face, exit_uv.x, exit_uv.y)
        face = next_face(face, exit_uv, exit_axis, n, b_face)
        exit_uvw = face_xyz_to_uvw(face, exit_xyz)
        cur_a = R2Point(exit_uvw.x, exit_uvw.y)

    segments.append(FaceSegment(face, cur_a, seg_b))
    return segments
