"""Ported Polyline and centroids tests
(/root/reference/s2/Polyline_test.ts, centroids_test.ts)."""

from __future__ import annotations

import math

import numpy as np

from s2js_spark.geometry.cell import Cell
from s2js_spark.geometry import cellid_scalar as cs
from s2js_spark.geometry.latlng import LatLng
from s2js_spark.geometry.measures import true_centroid
from s2js_spark.geometry.point import Point, get_frame
from s2js_spark.geometry.polyline import Polyline

RNG = np.random.RandomState(53)


def _random_point():
    return Point.from_coords(RNG.uniform(-1, 1), RNG.uniform(-1, 1), RNG.uniform(-1, 1))


def _frame_cols(p):
    f = get_frame(p)
    x = Point(f[0][0], f[1][0], f[2][0])
    y = Point(f[0][1], f[1][1], f[2][1])
    z = Point(f[0][2], f[1][2], f[2][2])
    return x, y, z


def test_polyline_basics():
    # Polyline_test.ts:15-32
    empty = Polyline([])
    assert empty.rect_bound().is_empty()
    empty.reverse()
    assert len(empty.points) == 0

    semi = Polyline(
        [LatLng.from_degrees(0, 0).to_point(), LatLng.from_degrees(0, 90).to_point(),
         LatLng.from_degrees(0, 180).to_point()]
    )
    semi.reverse()
    assert semi.points[2].approx_equal(Point.from_coords(1, 0, 0), 1e-14)


def test_polyline_length_and_centroid():
    # Polyline_test.ts:57-83 (20 iterations)
    for _ in range(20):
        x, y, _z = _frame_cols(_random_point())
        pts = []
        theta = 0.0
        while theta < 2 * math.pi:
            p = x.mul(math.cos(theta)).add(y.mul(math.sin(theta)))
            if not pts or not p.approx_equal(pts[-1]):
                pts.append(p)
            theta += RNG.uniform() ** 10
        pts.append(pts[0])
        line = Polyline(pts)
        assert abs(line.length() - 2 * math.pi) < 2e-14
        assert line.centroid().norm() < 2e-14


def test_polyline_intersects_cell():
    # Polyline_test.ts:85-95
    pline = Polyline(
        [
            Point(1.0, -1.1, 0.8).normalize(),
            Point(1.0, -0.8, 1.1).normalize(),
        ]
    )
    for face in range(6):
        cell = Cell.from_cellid(cs.from_face(face))
        assert pline.intersects_cell(cell) == (face % 2 == 0), face


def test_true_centroid():
    # centroids_test.ts:33-57 (50 iterations)
    for _ in range(50):
        x, y, p = _frame_cols(_random_point())
        # use (x, y) tangents around z=p
        d = 1e-4 * (1e-4 ** RNG.uniform())
        p0 = p.sub(x.mul(d)).normalize()
        p1 = p.add(x.mul(d)).normalize()
        p2 = p.add(y.mul(d * 3)).normalize()
        want = p.add(y.mul(d)).normalize()
        got = true_centroid(p0, p1, p2).normalize()
        assert got.distance(want) < 2e-8

        p0 = p
        p1 = p.add(x.mul(d * 3)).normalize()
        p2 = p.add(y.mul(d * 6)).normalize()
        want = p.add(x.add(y.mul(2)).mul(d)).normalize()
        got = true_centroid(p0, p1, p2).normalize()
        assert got.distance(want) < 2e-8
