"""Ported LatLng, wedge-relation, s1.angle, and r1.math tests
(/root/reference/s2/LatLng_test.ts, wedge_relations_test.ts,
s1/angle_test.ts, r1/math_test.ts)."""

from __future__ import annotations

import math

from s2js_spark.geometry import angle as ang
from s2js_spark.geometry.latlng import LatLng
from s2js_spark.geometry.loop import wedge_contains, wedge_intersects
from s2js_spark.geometry.point import Point

D = math.pi / 180


def test_latlng_conversion():
    # LatLng_test.ts:70-103
    cases = [
        (0, 0, 1, 0, 0),
        (90, 0, 6.12323e-17, 0, 1),
        (-90, 0, 6.12323e-17, 0, -1),
        (0, 180, -1, 1.22465e-16, 0),
        (0, -180, -1, -1.22465e-16, 0),
        (90, 180, -6.12323e-17, 7.4988e-33, 1),
        (90, -180, -6.12323e-17, -7.4988e-33, 1),
        (-90, 180, -6.12323e-17, 7.4988e-33, -1),
        (-90, -180, -6.12323e-17, -7.4988e-33, -1),
        (-81.82750430354997, 151.19796752929685,
         -0.12456788151479525, 0.0684875268284729, -0.989844584550441),
    ]
    for lat, lng, x, y, z in cases:
        p = Point.from_latlng_degrees(lat, lng)
        want = Point.from_coords(x, y, z)
        assert p.approx_equal(want, 1e-14)
        ll2 = LatLng.from_point(p)
        is_polar = lat in (90, -90)
        assert ang.degrees(ll2.lat) == lat
        if not is_polar:
            assert ang.degrees(ll2.lng) == lng


def test_latlng_distance():
    # LatLng_test.ts:105-120
    cases = [
        (90, 0, 90, 0, 0, 0),
        (-37, 25, -66, -155, 77, 1e-13),
        (0, 165, 0, -80, 115, 1e-13),
        (47, -127, -47, 53, 180, 2e-6),
    ]
    for lat1, lng1, lat2, lng2, want, tol in cases:
        d = ang.degrees(
            LatLng.from_degrees(lat1, lng1).distance(LatLng.from_degrees(lat2, lng2))
        )
        assert abs(d - want) <= tol


def test_wedge_relations():
    # wedge_relations_test.ts:16-159
    AB1 = Point(0.0, 0.0, 1.0).normalize()
    cases = [
        ((-1, 0, 10), (1, 2, 10), (0, 1, 10), (1, -2, 10), False, True),
        ((-1, -1, 10), (1, -1, 10), (1, 0, 10), (-1, 1, 10), False, True),
        ((-1, -1, 10), (1, -1, 10), (-1, 0, 10), (1, 0, 10), True, True),
        ((2, 1, 10), (-1, -1, 10), (2, 1, 10), (1, -5, 10), True, True),
        ((2, 1, 10), (-1, -1, 10), (1, -2, 10), (-1, -1, 10), True, True),
        ((-2, 3, 10), (4, -5, 10), (-2, 3, 10), (4, -5, 10), True, True),
        ((-2, 3, 10), (4, -5, 10), (4, -5, 10), (-2, -3, 10), False, False),
        ((-2, 3, 10), (0, 5, 10), (4, -5, 10), (-2, 3, 10), False, False),
        ((-2, 3, 10), (4, -5, 10), (4, -5, 10), (-2, 3, 10), False, False),
        ((2, 1, 10), (1, -5, 10), (2, 1, 10), (-1, -1, 10), False, True),
        ((2, 1, 10), (1, -5, 10), (-2, 1, 10), (1, -5, 10), False, True),
    ]
    for pa0, pa1, pb0, pb1, contains, intersects in cases:
        a0 = Point(*map(float, pa0)).normalize()
        a1 = Point(*map(float, pa1)).normalize()
        b0 = Point(*map(float, pb0)).normalize()
        b1 = Point(*map(float, pb1)).normalize()
        assert wedge_contains(a0, AB1, a1, b0, b1) == contains
        assert wedge_intersects(a0, AB1, a1, b0, b1) == intersects


def test_angle_units():
    # angle_test.ts:11-52
    assert math.pi == 180 * ang.DEGREE
    assert ang.degrees(math.pi) == 180.0
    # JS `|| 0` quirk: degrees(-0.0) is +0.0 (angle.ts:49)
    assert math.copysign(1, ang.degrees(-0.0)) == 1.0


def test_r1_math_remainder():
    # r1/math_test.ts:6-17 — math.remainder is IEEE 754 remainder
    assert math.remainder(5.1, 2.0) == -0.9000000000000004
    assert math.remainder(-5.1, 2.0) == 0.9000000000000004
    assert math.remainder(5.0, 2.0) == 1.0
    assert math.remainder(6.0, 4.0) == -2.0  # round half to even


def test_r1_math_bit_scans():
    # r1/math_test.ts:38-75 semantics via the kernels
    from s2js_spark.geometry import cellid_scalar as cs

    for k in range(0, 64, 7):
        v = 1 << k
        assert cs.lsb(v) == v
    assert cs.lsb(0b1101000) == 0b1000
