"""Ported edge_distances tests (/root/reference/s2/edge_distances_test.ts,
check-distance + interpolate subsets)."""

from __future__ import annotations

import math

from s2js_spark.geometry.angle import chord_angle
from s2js_spark.geometry.edge_distances import (
    distance_from_segment,
    interpolate,
    interpolate_at_distance,
    update_min_distance,
)
from s2js_spark.geometry.point import Point


def P(x, y, z):
    return Point(float(x), float(y), float(z)).normalize()


def test_check_distance():
    # edge_distances_test.ts:20-157
    cases = [
        ((1, 0, 0), (1, 0, 0), (0, 1, 0), 0),
        ((0, 1, 0), (1, 0, 0), (0, 1, 0), 0),
        ((1, 3, 0), (1, 0, 0), (0, 1, 0), 0),
        ((0, 0, 1), (1, 0, 0), (0, 1, 0), math.pi / 2),
        ((0, 0, -1), (1, 0, 0), (0, 1, 0), math.pi / 2),
        ((-1, -1, 0), (1, 0, 0), (0, 1, 0), 0.75 * math.pi),
        ((0, 1, 0), (1, 0, 0), (1, 1, 0), math.pi / 4),
        ((0, -1, 0), (1, 0, 0), (1, 1, 0), math.pi / 2),
        ((0, -1, 0), (1, 0, 0), (-1, 1, 0), math.pi / 2),
        ((-1, -1, 0), (1, 0, 0), (-1, 1, 0), math.pi / 2),
        ((1, 1, 1), (1, 0, 0), (0, 1, 0), math.asin(math.sqrt(1 / 3))),
        ((1, 1, -1), (1, 0, 0), (0, 1, 0), math.asin(math.sqrt(1 / 3))),
        ((-1, 0, 0), (1, 1, 0), (1, 1, 0), 0.75 * math.pi),
        ((0, 0, -1), (1, 1, 0), (1, 1, 0), math.pi / 2),
        ((-1, 0, 0), (1, 0, 0), (1, 0, 0), math.pi),
    ]
    for px, pa, pb, dist_rad in cases:
        x, a, b = P(*px), P(*pa), P(*pb)
        d = distance_from_segment(x, a, b)
        assert abs(d - dist_rad) <= 1e-15, (px, pa, pb, d, dist_rad)
        _, ok1 = update_min_distance(x, a, b, 0.0)
        assert not ok1
        min_dist2, ok2 = update_min_distance(x, a, b, math.inf)
        assert ok2
        assert abs(dist_rad - chord_angle(min_dist2)) <= 1e-15


def test_interpolate():
    # edge_distances_test.ts:307-352 core identities
    p1 = P(1, 0, 0)
    p2 = P(0, 1, 0)
    assert interpolate(0, p1, p2).equals(p1)
    assert interpolate(1, p1, p2).equals(p2)
    mid = interpolate(0.5, p1, p2)
    assert mid.approx_equal(P(1, 1, 0), 1e-14)
    quarter = interpolate(0.25, p1, p2)
    assert abs(p1.angle(quarter) - math.pi / 8) <= 1e-14

    # t outside [0,1]
    beyond = interpolate(2.0, p1, mid)
    assert beyond.approx_equal(p2, 1e-13)


def test_interpolate_at_distance():
    a = P(1, 0, 0)
    b = P(0, 1, 0)
    for frac in (0.1, 0.3, 0.7):
        ax = frac * (math.pi / 2)
        p = interpolate_at_distance(ax, a, b)
        assert abs(a.angle(p) - ax) <= 1e-14


def test_repeated_interpolation():
    # edge_distances_test.ts:386-395 — stability under iteration
    import numpy as np

    rng = np.random.RandomState(19)
    for _ in range(20):
        a = Point.from_coords(rng.uniform(-1, 1), rng.uniform(-1, 1), rng.uniform(-1, 1))
        b = Point.from_coords(rng.uniform(-1, 1), rng.uniform(-1, 1), rng.uniform(-1, 1))
        for _ in range(100):
            a = interpolate(0.01, a, b)
        assert abs(a.norm2() - 1) < 1e-12
