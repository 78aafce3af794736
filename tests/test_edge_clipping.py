"""Port of /root/reference/s2/edge_clipping_test.ts (golden vectors +
the randomized face-segment invariants, seeded deterministically)."""

from __future__ import annotations

import math
import random

from s2js_spark.geometry.edge_clipping import (
    AXIS_U,
    AXIS_V,
    FACE_CLIP_ERROR_RADIANS,
    PointUVW,
    face_segments,
    _face_uv_to_xyz,
)
from s2js_spark.geometry.interval import R1Interval
from s2js_spark.geometry.point import Point
from s2js_spark.geometry.r2 import R2Point, R2Rect

DBL_EPSILON = 2.220446049250313e-16
BIUNIT = R2Rect(R1Interval(-1, 1), R1Interval(-1, 1))

rng = random.Random(20260816)


def test_intersects_face():
    s23 = math.sqrt(2.0 / 3.0)
    cases = [
        (PointUVW(2.05335e-6, 3.91604e-22, 2.90553e-6), False),
        (PointUVW(-3.91604e-22, -2.05335e-6, -2.90553e-6), False),
        (PointUVW(0.169258, -0.169258, 0.664013), False),
        (PointUVW(0.169258, -0.169258, -0.664013), False),
        (PointUVW(s23, -s23, 3.88578e-16), True),
        (PointUVW(-3.88578e-16, -s23, s23), True),
    ]
    for p, want in cases:
        assert p.intersects_face() == want


def test_intersects_opposite_edges():
    s43 = math.sqrt(4.0 / 3.0)
    s23 = math.sqrt(2.0 / 3.0)
    cases = [
        (PointUVW(0.169258, -0.169258, 0.664013), False),
        (PointUVW(0.169258, -0.169258, -0.664013), False),
        (PointUVW(-s43, 0, -s43), True),
        (PointUVW(s43, 0, s43), True),
        (PointUVW(-s23, -s23, 1.66533453694e-16), False),
        (PointUVW(s23, s23, -1.66533453694e-16), False),
    ]
    for p, want in cases:
        assert p.intersects_opposite_edges() == want


def test_exit_axis():
    s23 = math.sqrt(2.0 / 3.0)
    s43 = math.sqrt(4.0 / 3.0)
    cases = [
        (PointUVW(0, -s23, s23), AXIS_U),
        (PointUVW(0, s43, -s43), AXIS_U),
        (PointUVW(-s43, -s43, 0), AXIS_V),
        (PointUVW(s43, s43, 0), AXIS_V),
        (PointUVW(s23, -s23, 0), AXIS_V),
        (PointUVW(1.67968702783622, 0, 0.870988820096491), AXIS_V),
        (PointUVW(0, math.sqrt(2), math.sqrt(2)), AXIS_U),
    ]
    for p, want in cases:
        assert p.exit_axis() == want


def test_exit_point():
    s23 = math.sqrt(2.0 / 3.0)
    s43 = math.sqrt(4.0 / 3.0)
    cases = [
        (PointUVW(-3.88578058618805e-16, -s23, s23), AXIS_U, R2Point(-1, 1)),
        (PointUVW(s43, -s43, 0), AXIS_V, R2Point(-1, -1)),
        (PointUVW(-s43, -s43, 0), AXIS_V, R2Point(-1, 1)),
        (PointUVW(-6.66134e-16, s43, -s43), AXIS_U, R2Point(1, 1)),
    ]
    for p, axis, want in cases:
        got = p.exit_point(axis)
        assert abs(got.x - want.x) < 1e-9 and abs(got.y - want.y) < 1e-9


# ------------------------------------------------- clipToPaddedFace suite

def _random_point() -> Point:
    return Point(
        rng.uniform(-1, 1), rng.uniform(-1, 1), rng.uniform(-1, 1)
    ).normalize()


def _perturbed_corner_or_midpoint(p: Point, q: Point) -> Point:
    a = p.mul(rng.randint(0, 2) - 1).add(q.mul(rng.randint(0, 2) - 1))
    if rng.random() < 0.1:
        a = a.add(_random_point().mul(math.pow(1e-300, rng.random())))
    elif rng.random() < 0.5:
        a = a.add(_random_point().mul(4 * DBL_EPSILON))
    else:
        a = a.add(_random_point().mul(1e-10 * math.pow(1e-15, rng.random())))
    if a.norm2() < 5e-324:
        return _perturbed_corner_or_midpoint(p, q)
    return a


def _check_face_segments(a: Point, b: Point) -> None:
    """The face_segments half of the reference's clipToPaddedFace check."""
    a = a.normalize()
    b = b.normalize()
    if a.equals(b.mul(-1)):
        return

    segments = face_segments(a, b)
    n = len(segments)
    assert n > 0

    err = FACE_CLIP_ERROR_RADIANS
    a_prime = _face_uv_to_xyz(segments[0].face, segments[0].a.x, segments[0].a.y)
    assert a.angle(a_prime) <= err
    b_prime = _face_uv_to_xyz(segments[-1].face, segments[-1].b.x, segments[-1].b.y)
    assert b.angle(b_prime) <= err

    norm = a.point_cross(b).normalize()
    a_tan = norm.cross(a)
    b_tan = b.cross(norm)

    for i, seg in enumerate(segments):
        assert BIUNIT.contains_point(seg.a)
        assert BIUNIT.contains_point(seg.b)
        if i > 0:
            assert segments[i - 1].face != seg.face
            prev_xyz = _face_uv_to_xyz(
                segments[i - 1].face, segments[i - 1].b.x, segments[i - 1].b.y
            )
            cur_xyz = _face_uv_to_xyz(seg.face, seg.a.x, seg.a.y)
            assert prev_xyz.approx_equal(cur_xyz)
            p = _face_uv_to_xyz(seg.face, seg.a.x, seg.a.y).normalize()
            assert abs(p.dot(norm)) <= err
            assert p.dot(a_tan) >= -err
            assert p.dot(b_tan) >= -err


def test_clip_to_padded_face_simple():
    cases = [
        (Point(1, -0.5, -0.5), Point(1, 0.5, 0.5)),
        (Point(1, 0.5, 0.5), Point(1, -0.5, -0.5)),
        (Point(1, 0, 0), Point(0, 1, 0)),
        (Point(0, 1, 0), Point(1, 0, 0)),
        (Point(0.75, 0, -1), Point(0.75, 0, 1)),
        (Point(0.75, 0, 1), Point(0.75, 0, -1)),
        (Point(1, 0, 0.75), Point(0, 1, 0.75)),
        (Point(0, 1, 0.75), Point(1, 0, 0.75)),
        (Point(1, 0.9, 0.95), Point(-1, 0.95, 0.9)),
        (Point(-1, 0.95, 0.9), Point(1, 0.9, 0.95)),
    ]
    for a, b in cases:
        _check_face_segments(a, b)


def test_clip_to_padded_face_random():
    for _ in range(300):
        face = rng.randrange(6)
        i = rng.randrange(4)
        j = (i + 1) & 3
        vi = BIUNIT.vertices()[i]
        vj = BIUNIT.vertices()[j]
        p = _face_uv_to_xyz(face, vi.x, vi.y)
        q = _face_uv_to_xyz(face, vj.x, vj.y)
        a = _perturbed_corner_or_midpoint(p, q)
        b = _perturbed_corner_or_midpoint(p, q)
        _check_face_segments(a, b)

