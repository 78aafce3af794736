"""Distance/buffer tag join: the generated SQL chord^2 must agree with
the ported scalar edge-distance machinery, and the staged operator
selects exactly the inside-or-within-radius rows."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2js_spark.geometry.angle import chord_from_angle
from s2js_spark.geometry.edge_distances import _update_min_distance
from s2js_spark.geometry.loop import Loop
from s2js_spark.geometry.point import Point
from s2js_spark.geometry.polygon import Polygon
from s2js_spark.spark.distance import buffer_exprs, tag_within_distance
from s2js_spark.spark.session import get_session

D = math.pi / 180.0
DIAMOND = [[8.0, 0.3], [8.9, 1.0], [8.0, 1.7], [7.1, 1.0], [8.0, 0.3]]
# The same ring with a position repeated, and clockwise: the coverings
# and the tag join read both as DIAMOND (geojson.loop_unmarshal).
DIAMOND_REPEAT = [[8.0, 0.3], [8.9, 1.0], [8.9, 1.0], [8.0, 1.7], [7.1, 1.0], [8.0, 0.3]]
DIAMOND_CW = DIAMOND[::-1]


@pytest.fixture(scope="module")
def spark():
    s = get_session("local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _pt(lat, lng):
    return Point.from_latlng_radians(lat * D, lng * D)


def _scalar_boundary_chord2(p):
    verts = [_pt(lat, lng) for lng, lat in DIAMOND[:-1]]
    best = 4.0
    for i in range(len(verts)):
        a, b = verts[i], verts[(i + 1) % len(verts)]
        best = min(best, _update_min_distance(p, a, b, 4.0, True)[0])
    return best


def test_sql_chord2_matches_scalar_geometry(spark):
    rng = np.random.RandomState(3)
    rows = [
        (i, float(rng.uniform(-1, 3)), float(rng.uniform(5, 11)))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id long, lat double, lng double")
    lit = lambda v: f"{v!r}D"  # noqa: E731
    _inside, dist = buffer_exprs(DIAMOND, "lat", "lng", lit)
    got = {
        r["id"]: r["d"]
        for r in df.selectExpr("id", f"{dist} AS d").collect()
    }
    for i, lat, lng in rows:
        want = _scalar_boundary_chord2(_pt(lat, lng))
        assert abs(got[i] - want) < 1e-12, (i, got[i], want)


def test_tag_within_distance_membership(spark):
    """Members are the rows in the polygon or within the radius of its
    boundary, the radius as s1.chord_from_angle takes it: from 180
    degrees on every row, for a negative radius only inside rows.
    Rows near the diamond's antipode (about -1, -172) are the farthest
    from its boundary."""
    rng = np.random.RandomState(9)
    rows = [
        (i, float(rng.uniform(-1, 3)), float(rng.uniform(5, 11)))
        for i in range(400)
    ]
    rows += [
        (400 + i, float(rng.uniform(-3, 1)), float(rng.uniform(-175, -169)))
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "id long, lat double, lng double")

    loop = Loop([_pt(lat, lng) for lng, lat in DIAMOND[:-1]])
    loop.normalize()
    poly = Polygon([loop])
    inside = {i for i, lat, lng in rows if poly.contains_point(_pt(lat, lng))}
    boundary = {i: _scalar_boundary_chord2(_pt(lat, lng)) for i, lat, lng in rows}
    assert 0 < len(inside) < 400
    for radius in (0.5, 200.0, 270.0, -1.0):
        got = {r["id"] for r in tag_within_distance(df, DIAMOND, radius).collect()}
        limit = chord_from_angle(radius * D)
        want = inside | {i for i, c2 in boundary.items() if c2 <= limit}
        assert got == want, radius
        if radius == 0.5:
            assert 0 < len(want) < len(rows)  # fixture exercises both sides
        elif radius > 0:
            assert len(want) == len(rows), radius
        else:
            assert want == inside


def test_buffered_covering_is_superset_of_buffer():
    """Prefilter soundness: every point within the radius of the
    polygon must land inside some radius-expanded covering cell —
    sampled densely along outward offsets of the boundary."""
    from s2js_spark.geometry import cellid_scalar as cs
    from s2js_spark.spark.distance import buffered_covering

    radius = 0.5
    rows, _levels = buffered_covering([("d", DIAMOND)], radius)
    ranges = sorted(
        (cs.range_min(c & 0xFFFFFFFFFFFFFFFF), cs.range_max(c & 0xFFFFFFFFFFFFFFFF))
        for c, _ in ((r[0], r[1]) for r in rows)
    )

    def covered(lat, lng):
        leaf = cs.from_latlng_degrees(lat, lng)
        return any(lo <= leaf <= hi for lo, hi in ranges)

    verts = DIAMOND[:-1]
    import numpy as np

    missed = 0
    for i in range(len(verts)):
        lng1, lat1 = verts[i]
        lng2, lat2 = verts[(i + 1) % len(verts)]
        for t in np.linspace(0.0, 1.0, 25):
            blat = lat1 + t * (lat2 - lat1)
            blng = lng1 + t * (lng2 - lng1)
            # outward normal (planar approx is fine at this scale):
            # offset by 0.9 * radius away from the polygon centroid
            clat, clng = 1.0, 8.0
            d = math.hypot(blat - clat, blng - clng) or 1.0
            for f in (0.3, 0.6, 0.9):
                olat = blat + (blat - clat) / d * radius * f
                olng = blng + (blng - clng) / d * radius * f
                if not covered(olat, olng):
                    missed += 1
    assert missed == 0


def test_multi_matches_per_ring_scan(spark):
    """The covering-prefiltered multi join equals the exhaustive
    single-polygon scan per ring."""
    from s2js_spark.spark.distance import tag_within_distance_multi

    rings = [("a", DIAMOND)]
    rng = np.random.RandomState(21)
    rows = [
        (i, float(rng.uniform(-1, 3)), float(rng.uniform(5, 11)))
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "id long, lat double, lng double")
    got = {
        (r["id"], r["bdist"])
        for r in tag_within_distance_multi(df, rings, 0.5).collect()
    }
    want = {
        (r["id"], r["bdist"])
        for r in tag_within_distance(df, DIAMOND, 0.5).collect()
    }
    assert got == want
    assert len(want) > 10


def test_multi_empty_rings_gives_zero_rows(spark):
    """No rings: zero rows, with the input columns plus tile_i and the
    distance column, typed as for a non-empty ring list."""
    from s2js_spark.spark.distance import tag_within_distance_multi

    df = spark.createDataFrame(
        [(0, 8.0, 1.0), (1, None, None)], "id long, lat double, lng double"
    )
    out = tag_within_distance_multi(df, [], 0.5)
    assert out.schema.simpleString() == (
        "struct<id:bigint,lat:double,lng:double,tile_i:int,bdist:double>"
    )
    assert out.collect() == []
    ref = tag_within_distance_multi(df, [("a", DIAMOND)], 0.5)
    assert out.schema == ref.schema


def _grid_rings(n: int) -> list[tuple[str, list[list[float]]]]:
    """n small convex CCW diamonds tiling a lat/lng band."""
    rings = []
    for k in range(n):
        clat = -30.0 + 4.0 * (k // 20)
        clng = -100.0 + 5.0 * (k % 20)
        rings.append(
            (
                f"g{k}",
                [
                    [clng, clat - 0.7], [clng + 0.9, clat],
                    [clng, clat + 0.7], [clng - 0.9, clat],
                    [clng, clat - 0.7],
                ],
            )
        )
    return rings


def test_multi_aggregate_fallback_matches_inline(spark):
    """The refinement is ONE aggregate() over broadcast per-tile edge
    frames for any ring count (round-4 verdict #4: a per-ring inline
    form's O(rings) expression width would regenerate the janino 64 KB
    blow-up at real tile-set sizes). 120 rings must (a) equal the
    exhaustive per-ring scan exactly, and (b) compile with codegen
    fallback disabled — proving plan size does not grow with the tile
    set."""
    from s2js_spark.spark.distance import tag_within_distance_multi

    rings = _grid_rings(120)
    rng = np.random.RandomState(7)
    rows = [
        (i, float(rng.uniform(-33, -13)), float(rng.uniform(-103, -2)))
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "id long, lat double, lng double")
    radius = 0.4

    out = tag_within_distance_multi(df, rings, radius)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "aggregate(" in plan  # the O(1)-width refinement engaged
    old = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        got = {(r["id"], r["tile_i"], r["bdist"]) for r in out.collect()}
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)

    want = set()
    for k, (_tid, ring) in enumerate(rings):
        for r in tag_within_distance(df, ring, radius).collect():
            want.add((r["id"], k, r["bdist"]))
    assert got == want
    assert len(want) > 50


def test_buffer_joins_read_the_normalized_ring(spark):
    """Both buffer joins read a ring as its covering does: a repeated
    position or a clockwise ring gives the declared diamond's rows, its
    centre (1, 8) included, and a ring left with fewer than 3 distinct
    vertices gives zero rows with the same columns."""
    from s2js_spark.spark.distance import tag_within_distance_multi

    rng = np.random.RandomState(5)
    rows = [(0, 1.0, 8.0)] + [
        (i, float(rng.uniform(-1, 3)), float(rng.uniform(5, 11))) for i in range(1, 300)
    ]
    df = spark.createDataFrame(rows, "id long, lat double, lng double")

    def single(ring):
        return tag_within_distance(df, ring, 0.5)

    def multi(ring):
        return tag_within_distance_multi(df, [("a", ring)], 0.5)

    def got(out):
        return {(r["id"], r["bdist"]) for r in out.collect()}

    want = got(single(DIAMOND))
    assert 0 in {i for i, _ in want} and len(want) < len(rows)
    for ring in (DIAMOND_REPEAT, DIAMOND_CW):
        assert got(single(ring)) == want
        assert got(multi(ring)) == want
    for ring in ([[8.0, 0.3]], [[8.0, 0.3], [8.9, 1.0]], [[8.0, 0.3], [8.9, 1.0], [8.0, 0.3]]):
        for join in (single, multi):
            out = join(ring)
            assert out.collect() == []
            assert out.dtypes == join(DIAMOND).dtypes


def test_spatial_joins_broadcast_one_frame(spark):
    """The buffer multi join broadcasts its covering and nothing else:
    each ring's edges are a plan literal read by tile_i."""
    from s2js_spark.spark.distance import tag_within_distance_multi

    df = spark.createDataFrame([(0, 1.0, 8.0)], "id long, lat double, lng double")
    out = tag_within_distance_multi(df, _grid_rings(3), 0.5)
    assert out._jdf.queryExecution().executedPlan().toString().count("BroadcastExchange") == 1
