"""Ported chordangle and Metric tests
(/root/reference/s1/chordangle_test.ts, /root/reference/s2/Metric_test.ts)."""

from __future__ import annotations

import math

from s2js_spark.geometry import angle as ca
from s2js_spark.geometry import metric as m

DEGREE = math.pi / 180
INF = math.inf
MAX_LEVEL = 30


def test_chordangle_basics():
    # chordangle_test.ts:12-35 (ordering of special values)
    cases = [
        (ca.NEGATIVE_CHORDANGLE, ca.NEGATIVE_CHORDANGLE, False, True),
        (ca.NEGATIVE_CHORDANGLE, 0.0, True, False),
        (ca.NEGATIVE_CHORDANGLE, ca.STRAIGHT_CHORDANGLE, True, False),
        (ca.NEGATIVE_CHORDANGLE, INF, True, False),
        (0.0, 0.0, False, True),
        (0.0, ca.STRAIGHT_CHORDANGLE, True, False),
        (0.0, INF, True, False),
        (ca.STRAIGHT_CHORDANGLE, ca.STRAIGHT_CHORDANGLE, False, True),
        (ca.STRAIGHT_CHORDANGLE, INF, True, False),
        (INF, INF, False, True),
        (INF, ca.STRAIGHT_CHORDANGLE, False, False),
    ]
    for a, b, lt, eq in cases:
        assert (a < b) == lt
        assert (a == b) == eq


def test_chordangle_angle_equality():
    # chordangle_test.ts:37-45
    assert ca.chord_angle(INF) == INF
    assert ca.chord_angle(ca.STRAIGHT_CHORDANGLE) == 180 * DEGREE
    assert ca.chord_angle(0.0) == 0
    assert abs(ca.degrees(ca.chord_angle(ca.RIGHT_CHORDANGLE)) - 90) <= 1e-13


def test_chordangle_from_angle():
    # chordangle_test.ts:104-115
    for a in [0.0, 1.0, -1.0, math.pi]:
        assert ca.chord_angle(ca.chord_from_angle(a)) == a
    assert ca.chord_from_angle(math.pi) == ca.STRAIGHT_CHORDANGLE
    assert ca.chord_from_angle(INF) == INF


def test_chordangle_arithmetic():
    # chordangle_test.ts:117-158
    d0 = 0.0
    d30 = ca.chord_from_angle(30 * DEGREE)
    d60 = ca.chord_from_angle(60 * DEGREE)
    d90 = ca.chord_from_angle(90 * DEGREE)
    d120 = ca.chord_from_angle(120 * DEGREE)
    d180 = ca.STRAIGHT_CHORDANGLE

    add_cases = [
        (d0, d0, d0), (d60, d0, d60), (d0, d60, d60), (d30, d60, d90),
        (d60, d30, d90), (d180, d0, d180), (d90, d90, d180),
        (d120, d90, d180), (d120, d120, d180), (d30, d180, d180),
        (d180, d180, d180),
    ]
    sub_cases = [
        (d0, d0, d0), (d60, d60, d0), (d180, d180, d0), (d0, d60, d0),
        (d30, d90, d0), (d90, d30, d60), (d90, d60, d30), (d180, d0, d180),
    ]
    for a, b, want in add_cases:
        assert abs(ca.chord_add(a, b) - want) <= 1e-13
    for a, b, want in sub_cases:
        assert abs(ca.chord_sub(a, b) - want) <= 1e-13


def test_chordangle_trigonometry():
    # chordangle_test.ts:160-180
    eps = 1e-14
    for i in range(41):
        radians = math.pi * i / 40
        c = ca.chord_from_angle(radians)
        assert abs(math.sin(radians) - ca.chord_sin(c)) <= eps

    a90 = ca.chord_from_squared_length(2)
    a180 = ca.chord_from_squared_length(4)
    assert ca.chord_sin(a90) == 1
    assert ca.chord_sin(a180) == 0


def test_chordangle_expanded():
    # chordangle_test.ts:182-196
    assert ca.chord_expanded(INF, -5) == INF
    assert ca.chord_expanded(ca.STRAIGHT_CHORDANGLE, 5) == ca.chord_from_squared_length(5)
    assert ca.chord_expanded(0.0, -5) == 0.0
    assert ca.chord_expanded(ca.chord_from_squared_length(1.25), 0.25) == ca.chord_from_squared_length(1.5)
    assert ca.chord_expanded(ca.chord_from_squared_length(0.75), 0.25) == ca.chord_from_squared_length(1)


def test_metric():
    # Metric_test.ts:26-63
    assert m.MIN_WIDTH_METRIC.max_level(0.001256) == 9
    assert m.MAX_EDGE_ASPECT >= 1
    assert m.MAX_EDGE_ASPECT <= m.MAX_EDGE_METRIC.deriv / m.MIN_EDGE_METRIC.deriv
    assert m.MAX_DIAG_ASPECT >= 1
    assert m.MAX_DIAG_ASPECT <= m.MAX_DIAG_METRIC.deriv / m.MIN_DIAG_METRIC.deriv
    assert m.MIN_AREA_METRIC.deriv >= m.MIN_WIDTH_METRIC.deriv * m.MIN_EDGE_METRIC.deriv - 1e-15
    assert m.MAX_AREA_METRIC.deriv <= m.MAX_WIDTH_METRIC.deriv * m.MAX_EDGE_METRIC.deriv + 1e-15

    for level in range(-2, MAX_LEVEL + 4):
        width = m.MIN_WIDTH_METRIC.deriv * 2.0 ** (-level)
        if level >= MAX_LEVEL + 3:
            width = 0
        expected = max(0, min(MAX_LEVEL, level))
        assert m.MIN_WIDTH_METRIC.min_level(width) == expected
        assert m.MIN_WIDTH_METRIC.max_level(width) == expected
        assert m.MIN_WIDTH_METRIC.closest_level(width) == expected
        assert m.MIN_WIDTH_METRIC.min_level(1.2 * width) == expected
        assert m.MIN_WIDTH_METRIC.max_level(0.8 * width) == expected
        assert m.MIN_WIDTH_METRIC.closest_level(1.2 * width) == expected
        assert m.MIN_WIDTH_METRIC.closest_level(0.8 * width) == expected


def test_metric_size_relations():
    # Metric_test.ts:66-79
    for mn, avg, mx in [
        (m.MIN_ANGLE_SPAN_METRIC, m.AVG_ANGLE_SPAN_METRIC, m.MAX_ANGLE_SPAN_METRIC),
        (m.MIN_WIDTH_METRIC, m.AVG_WIDTH_METRIC, m.MAX_WIDTH_METRIC),
        (m.MIN_EDGE_METRIC, m.AVG_EDGE_METRIC, m.MAX_EDGE_METRIC),
        (m.MIN_DIAG_METRIC, m.AVG_DIAG_METRIC, m.MAX_DIAG_METRIC),
        (m.MIN_AREA_METRIC, m.AVG_AREA_METRIC, m.MAX_AREA_METRIC),
    ]:
        assert mn.deriv <= avg.deriv <= mx.deriv
