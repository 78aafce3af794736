"""R3 vectors and S2 points (scalar, driver-side).

Semantics of /root/reference/r3/Vector.ts, /root/reference/s2/Point.ts
and the frame helpers in /root/reference/s2/matrix3x3.ts.
"""

from __future__ import annotations

import math
from dataclasses import dataclass


@dataclass(frozen=True)
class Point:
    """A point on (or near) the unit sphere as an R3 vector."""

    x: float
    y: float
    z: float

    # ---------------------------------------------------------- vector ops
    def add(self, o: "Point") -> "Point":
        return Point(self.x + o.x, self.y + o.y, self.z + o.z)

    def sub(self, o: "Point") -> "Point":
        return Point(self.x - o.x, self.y - o.y, self.z - o.z)

    def mul(self, m: float) -> "Point":
        return Point(m * self.x, m * self.y, m * self.z)

    def neg(self) -> "Point":
        return Point(-self.x, -self.y, -self.z)

    def dot(self, o: "Point") -> float:
        v = self.x * o.x + self.y * o.y + self.z * o.z
        return v if v else 0.0  # JS `|| 0` (Vector.ts:81)

    def cross(self, o: "Point") -> "Point":
        return Point(
            self.y * o.z - self.z * o.y,
            self.z * o.x - self.x * o.z,
            self.x * o.y - self.y * o.x,
        )

    def norm2(self) -> float:
        return self.dot(self)

    def norm(self) -> float:
        return math.sqrt(self.dot(self))

    def normalize(self) -> "Point":
        n2 = self.norm2()
        if n2 == 0:
            return Point(0.0, 0.0, 0.0)
        return self.mul(1 / math.sqrt(n2))

    def abs(self) -> "Point":
        return Point(abs(self.x), abs(self.y), abs(self.z))

    def angle(self, o: "Point") -> float:
        return math.atan2(self.cross(o).norm(), self.dot(o))

    def distance(self, b: "Point") -> float:
        return self.angle(b)

    def largest_component(self) -> int:
        t = self.abs()
        if t.x > t.y:
            return 0 if t.x > t.z else 2
        return 1 if t.y > t.z else 2

    def cmp(self, o: "Point") -> int:
        if self.x < o.x:
            return -1
        if self.x > o.x:
            return 1
        if self.y < o.y:
            return -1
        if self.y > o.y:
            return 1
        if self.z < o.z:
            return -1
        if self.z > o.z:
            return 1
        return 0

    def equals(self, o: "Point") -> bool:
        return self.x == o.x and self.y == o.y and self.z == o.z

    def approx_equal(self, o: "Point", eps: float = 1e-15) -> bool:
        return self.angle(o) <= eps

    def vector_ortho(self) -> "Point":
        """r3 Vector.ortho (Vector.ts:102-109)."""
        lc = self.largest_component()
        ov = [0.0, 0.0, 0.0]
        if lc == 0:
            ov[2] = 1.0
        elif lc == 1:
            ov[0] = 1.0
        else:
            ov[1] = 1.0
        return self.cross(Point(*ov)).normalize()

    # ---------------------------------------------------------- s2 Point

    @staticmethod
    def from_latlng_radians(lat: float, lng: float) -> "Point":
        cosphi = math.cos(lat)
        return Point(math.cos(lng) * cosphi, math.sin(lng) * cosphi, math.sin(lat))

    @staticmethod
    def from_latlng_degrees(lat: float, lng: float) -> "Point":
        d = math.pi / 180
        return Point.from_latlng_radians(lat * d, lng * d)

    @staticmethod
    def from_coords(x: float, y: float, z: float) -> "Point":
        if x == 0 and y == 0 and z == 0:
            return Point.origin_point()
        return Point(x, y, z).normalize()

    @staticmethod
    def origin_point() -> "Point":
        """Fixed PIP reference point (s2/Point.ts:97-99)."""
        return Point(-0.0099994664350250197, 0.0025924542609324121, 0.99994664350250195)

    def latitude(self) -> float:
        return math.atan2(self.z, math.sqrt(self.x * self.x + self.y * self.y))

    def longitude(self) -> float:
        return math.atan2(self.y, self.x)

    def point_cross(self, op: "Point") -> "Point":
        """Robust non-zero cross product (s2/Point.ts:114-118)."""
        v = self.add(op).cross(op.sub(self))
        if v.x == 0 and v.y == 0 and v.z == 0:
            v = self.vector_ortho()
        return v

    @staticmethod
    def ortho(a: "Point") -> "Point":
        """S2-specific orthogonal vector avoiding zeros (Point.ts:298-307)."""
        lc = a.largest_component()
        op = [0.012, 0.0053, 0.00457]
        if lc == 0:
            op[2] = 1.0
        elif lc == 1:
            op[0] = 1.0
        else:
            op[1] = 1.0
        return a.cross(Point(*op)).normalize()

    def reference_dir(self) -> "Point":
        return Point.ortho(self)

    def stable_angle(self, op: "Point") -> float:
        return 2 * math.atan2(self.sub(op).norm(), self.add(op).norm())

    @staticmethod
    def chord_angle_between(x: "Point", y: "Point") -> float:
        return min(4.0, x.sub(y).norm2())

    @staticmethod
    def regular_points(center: "Point", radius: float, num_vertices: int) -> list["Point"]:
        """Regular polygon vertices on a circle around center (Point.ts:210-231)."""
        return Point.regular_points_for_frame(get_frame(center), radius, num_vertices)

    @staticmethod
    def regular_points_for_frame(frame, radius: float, num_vertices: int) -> list["Point"]:
        z = math.cos(radius)
        r = math.sin(radius)
        radian_step = (2 * math.pi) / num_vertices
        vertices = []
        for i in range(num_vertices):
            a = i * radian_step
            p = Point(r * math.cos(a), r * math.sin(a), z)
            vertices.append(from_frame(frame, p).normalize())
        return vertices


def ordered_ccw(a: Point, b: Point, c: Point, o: Point) -> bool:
    """True iff edges OA, OB, OC occur in that order sweeping CCW
    (s2/Point.ts:135-141)."""
    from .predicates import robust_sign, CLOCKWISE, COUNTERCLOCKWISE

    s = 0
    if robust_sign(b, o, a) != CLOCKWISE:
        s += 1
    if robust_sign(c, o, b) != CLOCKWISE:
        s += 1
    if robust_sign(a, o, c) == COUNTERCLOCKWISE:
        s += 1
    return s >= 2


# ------------------------------------------------------------------- frames

def get_frame(p: Point) -> list[list[float]]:
    """Right-handed orthonormal frame with p as the z column
    (matrix3x3.ts getFrame)."""
    m = [[0.0] * 3 for _ in range(3)]
    z = p
    y = Point.ortho(p)
    x = y.cross(z)
    for r, pt in ((0, x), (1, y), (2, z)):
        m[0][r] = pt.x
        m[1][r] = pt.y
        m[2][r] = pt.z
    return m


def from_frame(m: list[list[float]], q: Point) -> Point:
    """Map frame coordinates back to world coordinates (m * q)."""
    return Point(
        m[0][0] * q.x + m[0][1] * q.y + m[0][2] * q.z,
        m[1][0] * q.x + m[1][1] * q.y + m[1][2] * q.z,
        m[2][0] * q.x + m[2][1] * q.y + m[2][2] * q.z,
    )
