"""kNN ring-expansion join and polygon-pair join correctness."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from s2js_spark.spark.session import get_session


@pytest.fixture(scope="module")
def spark():
    s = get_session("local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_knn_join_matches_brute_force(spark):
    from s2js_spark.spark.joins import _chord2_sql, knn_join

    rng = np.random.RandomState(13)
    pts = [
        (int(i), float(46.0 + rng.uniform(-2, 2)), float(6.0 + rng.uniform(-3, 3)))
        for i in range(3000)
    ]
    # plus far-away outliers and a sparse region to force escalation paths
    pts += [(9000 + i, float(-45 + i), float(120.0)) for i in range(4)]
    points = spark.createDataFrame(pts, ["id", "lat", "lng"])
    queries = spark.createDataFrame(
        [(0, 46.0, 6.0), (1, 47.5, 8.5), (2, -44.0, 120.0), (3, 45.2, 4.1)],
        ["query_id", "qlat", "qlng"],
    )

    got_df = knn_join(spark, points, queries, k=5)
    # a distributed query frame gets its neighbourhood in SQL
    assert "ArrowEvalPython" not in got_df._jdf.queryExecution().executedPlan().toString()
    got = got_df.toPandas()

    brute = points.crossJoin(F.broadcast(queries))
    chord2 = F.round(_chord2_sql("lat", "lng", "qlat", "qlng"), 12)
    w = Window.partitionBy("query_id").orderBy(F.col("chord2"), F.col("id"))
    want = (
        brute.withColumn("chord2", chord2)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "id", "chord2", "rank")
        .toPandas()
    )

    g = got.sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = want.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert g[["query_id", "id", "rank"]].equals(b[["query_id", "id", "rank"]])


def test_knn_auto_level_uses_sampled_estimate(spark):
    """level=None must pick a sane level WITHOUT a full count pre-pass
    (partition-sampled estimate) and stay exact vs brute force."""
    from s2js_spark.spark.joins import _estimate_count, knn_join

    rng = np.random.RandomState(3)
    pts = [
        (int(i), float(10 + rng.uniform(-1, 1)), float(20 + rng.uniform(-1, 1)))
        for i in range(2000)
    ]
    points = spark.createDataFrame(pts, ["id", "lat", "lng"]).repartition(8)
    est = _estimate_count(points)
    assert 1000 <= est <= 4000  # within 2x of the true 2000

    queries = spark.createDataFrame(
        [(0, 10.0, 20.0), (1, 10.5, 20.5)], ["query_id", "qlat", "qlng"]
    )
    got = {
        (r.query_id, r.id, r.rank)
        for r in knn_join(spark, points, queries, k=3, level=None).collect()
    }
    want = {
        (r.query_id, r.id, r.rank)
        for r in knn_join(spark, points, queries, k=3, level=8).collect()
    }
    assert got == want


def test_polygon_pair_join(spark):
    from s2js_spark.spark.joins import polygon_pair_join
    from s2js_spark.spark.tiles import build_tileset
    from tests.test_tiles_kernel import _polygon_geojson

    a = build_tileset(
        [
            ("a0", _polygon_geojson(10.0, 10.0, 1.0)),
            ("a1", _polygon_geojson(20.0, 20.0, 1.0)),
        ],
        max_cells=24,
    )
    b = build_tileset(
        [
            ("b0", _polygon_geojson(10.5, 10.5, 1.0)),  # overlaps a0
            ("b1", _polygon_geojson(-30.0, -30.0, 1.0)),  # disjoint
            ("b2", _polygon_geojson(20.0, 22.1, 0.8)),  # near a1 but disjoint
        ],
        max_cells=24,
    )
    pairs = polygon_pair_join(spark, a, b)
    assert ("a0", "b0") in pairs
    assert all(p[1] != "b1" for p in pairs)
    # b2's polygon is ~0.5 deg from a1's edge: candidate by covering,
    # must be refined away exactly
    assert ("a1", "b2") not in pairs


def _diamond_polygon():
    import __spark_entry__ as e
    from s2js_spark.geometry.loop import Loop
    from s2js_spark.geometry.point import Point
    from s2js_spark.geometry.polygon import Polygon

    ring = e.PIP_TILES[0][1]["coordinates"][0]  # diamond around (1N, 8E)
    loop = Loop(
        [Point.from_latlng_radians(lat * math.pi / 180, lng * math.pi / 180)
         for lng, lat in ring[:-1]]
    )
    loop.normalize()
    return Polygon([loop])


def _rect(lat_lo, lat_hi, lng_lo, lng_hi):
    from s2js_spark.geometry.interval import R1Interval, S1Interval
    from s2js_spark.geometry.rect import Rect

    d = math.pi / 180
    return Rect(
        R1Interval(lat_lo * d, lat_hi * d),
        S1Interval.from_endpoints(lng_lo * d, lng_hi * d),
    )


def _rect_poly_brute(rect, poly, n=160):
    """Dense-grid evidence: does any sample point lie in both?"""
    from s2js_spark.geometry.latlng import LatLng

    d = math.pi / 180
    for i in range(n):
        for j in range(n):
            lat = (0.0 + 2.0 * i / (n - 1)) * d
            lng = (6.0 + 4.0 * j / (n - 1)) * d
            ll = LatLng(lat, lng)
            if rect.contains_latlng(ll) and poly.contains_point(ll.to_point()):
                return True
    return False


def test_rect_polygon_exact_intersection(spark):
    """Round-2 gap: mixed Rect x Polygon pairs fell back to
    bounds-only 'True'. Now exact: boundary-crossing-only, containment
    both ways, and the adversarial disjoint-with-overlapping-BOUNDS
    case that the old fallback got wrong."""
    from s2js_spark.spark.joins import rect_intersects_polygon

    poly = _diamond_polygon()
    cases = [
        # pure lat-edge crossings, no vertex of either inside the other
        (_rect(0.5, 0.7, 6.5, 9.5), True),
        # rect fully inside the diamond
        (_rect(0.95, 1.05, 7.9, 8.1), True),
        # diamond vertex inside the rect
        (_rect(0.9, 1.1, 8.7, 9.2), True),
        # rect corner inside the diamond
        (_rect(0.0, 0.64, 8.3, 8.5), True),
        # disjoint but RECT BOUNDS OVERLAP the polygon's rect_bound
        (_rect(1.5, 1.65, 8.7, 8.85), False),
        # fully disjoint
        (_rect(5.0, 6.0, 8.0, 9.0), False),
    ]
    for rect, want in cases:
        got = rect_intersects_polygon(rect, poly)
        assert got == want, (rect, want)
        assert _rect_poly_brute(rect, poly) == want  # grid evidence

    # rect containing the whole polygon
    assert rect_intersects_polygon(_rect(-1.0, 3.0, 6.0, 10.0), poly)


def test_cap_polygon_exact_intersection(spark):
    from s2js_spark.geometry.cap import Cap
    from s2js_spark.geometry.point import Point
    from s2js_spark.spark.joins import cap_intersects_polygon

    poly = _diamond_polygon()
    d = math.pi / 180

    def cap(lat, lng, deg):
        return Cap.from_center_angle(
            Point.from_latlng_radians(lat * d, lng * d), deg * d
        )

    assert cap_intersects_polygon(cap(1.0, 8.0, 0.1), poly)  # center inside
    # center outside, rim reaches the west vertex region
    assert cap_intersects_polygon(cap(1.0, 7.0, 0.15), poly)
    # just out of reach (west vertex at lng 7.1 -> 0.08 deg < gap)
    assert not cap_intersects_polygon(cap(1.0, 7.0, 0.08), poly)
    # far away
    assert not cap_intersects_polygon(cap(-10.0, 8.0, 1.0), poly)


def test_mixed_pair_join_rect_vs_polygon(spark):
    """polygon_pair_join across KINDS: rect tiles vs polygon tiles,
    including a bounds-overlap-but-disjoint pair that the round-2
    fallback misreported."""
    import __spark_entry__ as e
    from s2js_spark.spark.joins import polygon_pair_join
    from s2js_spark.spark.tiles import build_tileset

    rects = build_tileset(
        [
            ("band", _rect(0.5, 0.7, 6.5, 9.5)),      # crosses diamond
            ("corner", _rect(1.5, 1.65, 8.7, 8.85)),  # bounds-touch only
        ],
        max_cells=24,
    )
    polys = build_tileset(e.PIP_TILES, max_cells=24)
    pairs = polygon_pair_join(spark, rects, polys)
    assert ("band", "diamond_c8") in pairs
    assert ("corner", "diamond_c8") not in pairs
