"""Ported s1.Interval tests (/root/reference/s1/Interval_test.ts,
core subset — the giant pairwise operations table is exercised
indirectly through the Rect port)."""

from __future__ import annotations

import math

from s2js_spark.geometry.interval import S1Interval as I

PI = math.pi
DBL_EPSILON = 2.220446049e-16

EMPTY = I.empty()
FULL = I.full()
ZERO = I.from_endpoints(0, 0)
PI2 = I.from_endpoints(PI / 2, PI / 2)
PII = I.from_endpoints(PI, PI)
MIPI = I.from_endpoints(-PI, -PI)
MIPI2 = I.from_endpoints(-PI / 2, -PI / 2)
QUAD1 = I.from_endpoints(0, PI / 2)
QUAD2 = I.from_endpoints(PI / 2, -PI)
QUAD3 = I.from_endpoints(PI, -PI / 2)
QUAD4 = I.from_endpoints(-PI / 2, 0)
QUAD12 = I.from_endpoints(0, -PI)
QUAD23 = I.from_endpoints(PI / 2, -PI / 2)
QUAD34 = I.from_endpoints(-PI, 0)
QUAD123 = I.from_endpoints(0, -PI / 2)
QUAD234 = I.from_endpoints(PI / 2, 0)
QUAD341 = I.from_endpoints(PI, PI / 2)
QUAD412 = I.from_endpoints(-PI / 2, -PI)
MID12 = I.from_endpoints(PI / 2 - 0.01, PI / 2 + 0.02)
MID23 = I.from_endpoints(PI - 0.01, -PI + 0.02)
MID34 = I.from_endpoints(-PI / 2 - 0.01, -PI / 2 + 0.02)
MID41 = I.from_endpoints(-0.01, 0.02)


def _near(a: I, b: I, eps=1e-15) -> bool:
    return abs(a.lo - b.lo) <= eps and abs(a.hi - b.hi) <= eps


def test_constructors():
    # Interval_test.ts:51-58 — [-pi,-pi] normalizes to [pi,pi]
    assert MIPI.lo == PI and MIPI.hi == PI
    assert I(0, 0).is_valid()


def test_from_point_pair():
    # Interval_test.ts:60-71
    assert I.from_point_pair(-PI, PI).equals(PII)
    assert I.from_point_pair(PI, -PI).equals(PII)
    assert I.from_point_pair(MID34.hi, MID34.lo).equals(MID34)
    assert I.from_point_pair(MID23.lo, MID23.hi).equals(MID23)


def test_simple_predicates():
    # Interval_test.ts:73-80
    assert ZERO.is_valid() and not ZERO.is_empty() and not ZERO.is_full()
    assert EMPTY.is_valid() and EMPTY.is_empty() and not EMPTY.is_full()
    assert EMPTY.is_inverted()
    assert FULL.is_valid() and not FULL.is_empty() and FULL.is_full()
    assert PII.is_valid() and not PII.is_empty() and not PII.is_inverted()
    assert MIPI.is_valid() and not MIPI.is_empty() and not MIPI.is_inverted()


def test_almost_full_or_empty():
    # Interval_test.ts:82-96
    almost_pi = PI - 2 * DBL_EPSILON
    assert not I(-almost_pi, PI).is_full()
    assert not I(-PI, almost_pi).is_full()
    assert not I(PI, -almost_pi).is_empty()
    assert not I(almost_pi, -PI).is_empty()


def test_center():
    # Interval_test.ts:98-113
    cases = [
        (QUAD12, PI / 2),
        (I.from_endpoints(3.1, 2.9), 3 - PI),
        (I.from_endpoints(-2.9, -3.1), PI - 3),
        (I.from_endpoints(2.1, -2.1), PI),
        (PII, PI),
        (MIPI, PI),
        (QUAD23, PI),
        (QUAD123, 0.75 * PI),
    ]
    for iv, want in cases:
        assert abs(iv.center() - want) <= 1e-15


def test_length():
    # Interval_test.ts:115-128
    assert QUAD12.length() == PI
    assert PII.length() == 0
    assert MIPI.length() == 0
    assert QUAD123.length() == 1.5 * PI
    assert QUAD23.length() == PI
    assert FULL.length() == 2 * PI
    assert EMPTY.length() < 0


def test_contains():
    # Interval_test.ts:130-160
    cases = [
        (EMPTY, [], [0, PI, -PI]),
        (FULL, [0, PI, -PI], []),
        (QUAD12, [0, PI, -PI], []),
        (QUAD23, [PI / 2, -PI / 2, PI, -PI], [0]),
        (PII, [PI, -PI], [0]),
        (MIPI, [PI, -PI], [0]),
        (ZERO, [0], []),
    ]
    for iv, inside, outside in cases:
        for p in inside:
            assert iv.contains(p)
        for p in outside:
            assert not iv.contains(p)


def test_add_point():
    # Interval_test.ts:1071-1093
    cases = [
        (EMPTY, [0], ZERO),
        (EMPTY, [PI], PII),
        (EMPTY, [-PI], MIPI),
        (EMPTY, [PI, -PI], PII),
        (EMPTY, [-PI, PI], MIPI),
        (EMPTY, [MID12.lo, MID12.hi], MID12),
        (EMPTY, [MID23.lo, MID23.hi], MID23),
        (QUAD1, [-0.9 * PI, -PI / 2], QUAD123),
        (FULL, [0], FULL),
        (FULL, [PI], FULL),
        (FULL, [-PI], FULL),
    ]
    for iv, points, want in cases:
        got = iv
        for p in points:
            got = got.add_point(p)
        assert _near(got, want)


def test_expanded():
    # Interval_test.ts:1095-1119
    cases = [
        (EMPTY, 1, EMPTY),
        (FULL, 1, FULL),
        (ZERO, 1, I.from_endpoints(-1, 1)),
        (MIPI, 0.01, I.from_endpoints(PI - 0.01, -PI + 0.01)),
        (PII, 27, FULL),
        (PII, PI / 2, QUAD23),
        (PI2, PI / 2, QUAD12),
        (MIPI2, PI / 2, QUAD34),
        (EMPTY, -1, EMPTY),
        (FULL, -1, FULL),
        (QUAD123, -27, EMPTY),
        (QUAD234, -27, EMPTY),
        (QUAD123, -PI / 2, QUAD2),
        (QUAD341, -PI / 2, QUAD4),
        (QUAD412, -PI / 2, QUAD1),
    ]
    for iv, margin, want in cases:
        got = iv.expanded(margin)
        assert _near(got, want), (iv, margin, got, want)


def test_approx_equal():
    # Interval_test.ts:1125-1194 (subset)
    lo = 4 * DBL_EPSILON
    hi = 6 * DBL_EPSILON
    cases = [
        (EMPTY, EMPTY, True), (ZERO, EMPTY, True), (EMPTY, ZERO, True),
        (PII, EMPTY, True), (EMPTY, PII, True), (MIPI, EMPTY, True),
        (EMPTY, FULL, False),
        (EMPTY, I.from_endpoints(1, 1 + 2 * lo), True),
        (EMPTY, I.from_endpoints(1, 1 + 2 * hi), False),
        (FULL, FULL, True), (FULL, EMPTY, False), (FULL, ZERO, False),
        (FULL, PII, False),
        (FULL, I.from_endpoints(lo, -lo), True),
        (FULL, I.from_endpoints(2 * hi, 0), False),
        (PII, PII, True), (MIPI, PII, True),
        (PII, I.from_endpoints(PI - lo, PI - lo), True),
        (PII, I.from_endpoints(PI - hi, PI - hi), False),
        (ZERO, PII, False),
        (PII.union(MID12).union(ZERO), QUAD12, True),
        (QUAD2.intersection(QUAD3), PII, True),
        (QUAD3.intersection(QUAD2), PII, True),
        (I.from_endpoints(1 - lo, 2 + lo), I.from_endpoints(1, 2), True),
        (I.from_endpoints(1 + lo, 2 - lo), I.from_endpoints(1, 2), True),
        (I.from_endpoints(1 - hi, 2 + lo), I.from_endpoints(1, 2), False),
        (I.from_endpoints(1 + hi, 2 - lo), I.from_endpoints(1, 2), False),
    ]
    for a, b, want in cases:
        assert a.approx_equal(b) == want, (a, b)


def test_complement():
    # Interval_test.ts:1196-1206
    assert EMPTY.complement().is_full()
    assert FULL.complement().is_empty()
    assert PII.complement().is_full()
    assert MIPI.complement().is_full()
    assert ZERO.complement().is_full()
    assert QUAD12.complement().approx_equal(QUAD34)
    assert QUAD34.complement().approx_equal(QUAD12)
    assert QUAD123.complement().approx_equal(QUAD4)
