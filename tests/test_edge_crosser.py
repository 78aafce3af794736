"""Ported EdgeCrosser tests (/root/reference/s2/EdgeCrosser_test.ts)."""

from __future__ import annotations

import math

from s2js_spark.geometry.edge_crossings import (
    CROSS,
    DO_NOT_CROSS,
    MAYBE_CROSS,
    EdgeCrosser,
)
from s2js_spark.geometry.point import Point

NA1 = math.nextafter(1, 0)
NA2 = math.nextafter(1, 2)


def _check(a, b, c, d, robust, edge_or_vertex):
    if a.equals(c) or a.equals(d) or b.equals(c) or b.equals(d):
        robust = MAYBE_CROSS

    crosser = EdgeCrosser.new_chain_edge_crosser(a, b, c)
    assert crosser.chain_crossing_sign(d) == robust
    assert crosser.chain_crossing_sign(c) == robust
    assert crosser.crossing_sign(d, c) == robust
    assert crosser.crossing_sign(c, d) == robust

    crosser.restart_at(c)
    assert crosser.edge_or_vertex_chain_crossing(d) == edge_or_vertex
    assert crosser.edge_or_vertex_chain_crossing(c) == edge_or_vertex


def test_crossings():
    # EdgeCrosser_test.ts:8-151
    cases = [
        # (a, b, c, d, robust, edgeOrVertex)
        ((1, 2, 1), (1, -3, 0.5), (1, -0.5, -3), (0.1, 0.5, 3), CROSS, True),
        ((1, 2, 1), (1, -3, 0.5), (-1, 0.5, 3), (-0.1, -0.5, -3), DO_NOT_CROSS, False),
        ((0, 0, -1), (0, 1, 0), (0, 0, 1), (0, 1, 1), DO_NOT_CROSS, False),
        ((1, 0, 0), "origin", (1, -0.1, 1), (1, 1, -0.1), CROSS, True),
        ((1, 0, 0), "origin", (1, 0.1, -1), (1, 1, -0.1), DO_NOT_CROSS, False),
        ((1, 0, 0), (0, 1, 0), (0, 0, -1), (-1, -1, 1), DO_NOT_CROSS, False),
        ((2, 3, 4), (-1, 2, 5), (7, -2, 3), (2, 3, 4), MAYBE_CROSS, False),
        ((1, 1, 1), (1, NA1, -1), (11, -12, -1), (10, 10, 1), CROSS, True),
        ((1, 1, 1), (1, NA2, -1), (1, -1, 0), (1, 1, 0), DO_NOT_CROSS, False),
        ((0, 0, 1), (2, -1e-323, 1), (1, -1, 1), (1e-323, 0, 1), CROSS, True),
        ((0, 0, 1), (2, 1e-323, 1), (1, -1, 1), (1e-323, 0, 1), DO_NOT_CROSS, False),
        ((1, -1e-323, -1e-323), (1e-323, 1, 1e-323), (1, -1, 1e-323), (1, 1, 0), CROSS, True),
        ((1, 1e-323, -1e-323), (-1e-323, 1, 1e-323), (1, -1, 1e-323), (1, 1, 0), DO_NOT_CROSS, False),
    ]
    for pa, pb, pc, pd, robust, edge_or_vertex in cases:
        def mk(v):
            if v == "origin":
                return Point.origin_point()
            return Point(*map(float, v)).normalize()

        a, b, c, d = mk(pa), mk(pb), mk(pc), mk(pd)

        _check(a, b, c, d, robust, edge_or_vertex)
        _check(b, a, c, d, robust, edge_or_vertex)
        _check(a, b, d, c, robust, edge_or_vertex)
        _check(b, a, d, c, robust, edge_or_vertex)

        # degenerate cases
        _check(a, a, c, d, DO_NOT_CROSS, False)
        _check(a, b, c, c, DO_NOT_CROSS, False)
        _check(a, a, c, c, DO_NOT_CROSS, False)
        _check(a, b, a, b, MAYBE_CROSS, True)
        _check(c, d, a, b, robust, edge_or_vertex != (robust == MAYBE_CROSS))
