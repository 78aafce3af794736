"""The broadcast tile set + tag join must agree exactly with the
driver-side geometry objects (engine test plan, SURVEY §5).

``scalar_pairs`` is the reference every tag-join test compares with:
the scalar ``geometry/`` port, asked about the point the exact residual
builds."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from s2js_spark.geometry.cap import Cap
from s2js_spark.geometry.interval import R1Interval, S1Interval
from s2js_spark.geometry.latlng import LatLng
from s2js_spark.geometry.loop import Loop
from s2js_spark.geometry.point import Point
from s2js_spark.geometry.rect import Rect
from s2js_spark.spark.session import get_session
from s2js_spark.spark.tagjoin import tag_tiles_pairs
from s2js_spark.spark.tiles import build_tileset

D = math.pi / 180


@pytest.fixture(scope="module")
def spark():
    s = get_session("local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _polygon_geojson(center_lat, center_lng, r_deg, n=12, twist=0.0):
    pts = []
    for i in range(n):
        a = 2 * math.pi * i / n + twist
        pts.append([center_lng + r_deg * math.cos(a), center_lat + r_deg * math.sin(a)])
    pts.append(pts[0])
    return {"type": "Polygon", "coordinates": [pts]}


def scalar_pairs(ts, rows) -> set:
    """{(key, tile_i)} from the scalar geometry port for (key, lat, lng)
    degree rows. The point is built exactly as tagjoin's exact residual
    builds it; rects decide on the same radians via contains_latlng."""
    d = math.pi / 180.0
    out = set()
    for key, lat, lng in rows:
        if lat is None or lng is None or math.isnan(lat) or math.isnan(lng):
            continue
        lat_r, lng_r = lat * d, lng * d
        p = Point.from_latlng_radians(lat_r, lng_r)
        for t, shape in enumerate(ts.shapes):
            if isinstance(shape, Rect):
                inside = shape.contains_latlng(LatLng(lat_r, lng_r))
            else:
                inside = shape.contains_point(p)
            if inside:
                out.add((key, t))
    return out


def engine_pairs(spark, ts, rows) -> set:
    """{(key, tile_i)} from tag_tiles_pairs over the same rows."""
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "lat", "lng"])
    )
    return {
        (r["url"], int(r["tile_i"]))
        for r in tag_tiles_pairs(spark, df, ts).collect()
    }


def test_tileset_matches_exact_geometry(spark):
    tiles = [
        ("poly_geneva", _polygon_geojson(46.2, 6.1, 0.6)),
        ("poly_overlap", _polygon_geojson(46.4, 6.4, 0.5, n=7, twist=0.3)),
        (
            "rect_alps",
            Rect(
                R1Interval(45.8 * D, 46.3 * D),
                S1Interval.from_endpoints(5.9 * D, 6.6 * D),
            ),
        ),
        ("cap_lyon", Cap.from_center_angle(Point.from_latlng_degrees(45.75, 4.85), 0.02)),
        # rings from_geojson turns into a zero-vertex loop: fewer than 3
        # positions, or too few left once duplicates go
        ("ring_empty", {"type": "Polygon", "coordinates": [[]]}),
        ("ring_two", {"type": "Polygon", "coordinates": [[[6.0, 46.0], [6.5, 46.5]]]}),
        ("ring_dup", {"type": "Polygon",
                      "coordinates": [[[6.0, 46.0], [6.5, 46.0], [6.5, 46.0], [6.0, 46.0]]]}),
    ]
    ts = build_tileset(tiles, max_cells=32)

    rng = np.random.RandomState(5)
    lat = 45.5 + rng.uniform(0, 1.2, 4000)
    lng = 4.5 + rng.uniform(0, 2.4, 4000)
    rows = [(f"p{i}", float(a), float(b)) for i, (a, b) in enumerate(zip(lat, lng))]

    got = engine_pairs(spark, ts, rows)
    want = scalar_pairs(ts, rows)
    assert got == want, f"{len(got ^ want)} pairs mismatch exact geometry"
    # sanity: each region caught a healthy number of docs, the
    # zero-vertex rings none
    counts = np.bincount([t for _, t in want], minlength=len(tiles))
    assert (counts[:4] > 20).all() and not counts[4:].any(), counts


def test_tileset_interior_cells_marked():
    tiles = [("big", _polygon_geojson(10.0, 20.0, 3.0, n=16))]
    ts = build_tileset(tiles, max_cells=128)
    # a healthy chunk of a large polygon covering must be interior cells
    assert ts.cov_interior.sum() > 0


@pytest.mark.parametrize(
    "bad",
    [
        pytest.param(lambda: ((10.0, 20.0), 0.01), id="tuple_cap"),
        pytest.param(
            lambda: Loop([Point.from_latlng_degrees(*ll) for ll in ((0, 0), (0, 1), (1, 0))]),
            id="loop",
        ),
    ],
)
def test_build_tileset_rejects_untaggable_input_before_covering(monkeypatch, bad):
    """Only GeoJSON dicts, Polygons, Rects and Caps are tile shapes;
    anything else is a TypeError raised before any tile is covered."""
    from s2js_spark.spark import tiles as tiles_mod

    def no_covering(*args, **kwargs):
        raise AssertionError("covered before rejecting")

    monkeypatch.setattr(tiles_mod, "GeoJSONRegionCoverer", no_covering)
    good = ("ok", _polygon_geojson(10.0, 20.0, 1.0))
    with pytest.raises(TypeError, match="GeoJSON Polygon dict, a Polygon, a Rect or a Cap"):
        build_tileset([good, ("bad", bad())])


def test_antimeridian_rect(spark):
    tiles = [
        (
            "fiji",
            Rect(
                R1Interval(-20 * D, -15 * D),
                S1Interval.from_endpoints(177 * D, -177 * D),  # wraps
            ),
        )
    ]
    ts = build_tileset(tiles, max_cells=32)
    rows = [
        ("a", -17.0, 179.5),
        ("b", -17.0, -179.5),
        ("c", -17.0, 170.0),
        ("d", -30.0, 179.0),
    ]
    got = engine_pairs(spark, ts, rows)
    assert got == {("a", 0), ("b", 0)}
    assert got == scalar_pairs(ts, rows)


def test_poles_and_antimeridian_edges(spark):
    """lng = ±180 exactly (the SQL -pi -> pi remap) and lat = ±90
    against shapes that contain a pole, on the one tag path; and
    out-of-range degrees (|lat| > 90, |lng| > 180), which the geotag
    pattern accepts: no rect contains an invalid LatLng, even where the
    wrapped point lies in the rect's (interior) covering, while caps
    decide on the wrapped point."""
    tiles = [
        (  # wraps the antimeridian
            "fiji",
            Rect(
                R1Interval(-20 * D, -15 * D),
                S1Interval.from_endpoints(177 * D, -177 * D),
            ),
        ),
        (  # ends exactly at +180: lng = -180 is inside only via the remap
            "east_edge",
            Rect(R1Interval(-20 * D, -15 * D), S1Interval.from_endpoints(170 * D, 180 * D)),
        ),
        (  # starts exactly at -180 (normalized to +pi by from_endpoints)
            "west_edge",
            Rect(R1Interval(-20 * D, -15 * D), S1Interval.from_endpoints(-180 * D, -170 * D)),
        ),
        ("north_cap", Cap.from_center_angle(Point.from_latlng_degrees(88.0, 30.0), 0.1)),
        ("south_rect", Rect(R1Interval(-90 * D, -80 * D), S1Interval.full())),
        ("south_cap", Cap.from_center_angle(Point.from_latlng_degrees(-90.0, 0.0), 0.05)),
        (  # wraps; (10, ±540) wraps onto its lng = 180 line
            "wrap_10",
            Rect(R1Interval(0 * D, 20 * D), S1Interval.from_endpoints(170 * D, -170 * D)),
        ),
    ]
    ts = build_tileset(tiles, max_cells=32)
    rows = []
    for lat in (-17.0, -15.0, -20.0, -21.0):
        for lng in (-180.0, 180.0, -179.9, 179.9, -170.0, 170.0, 0.0):
            rows.append((f"am{len(rows)}", lat, lng))
    for lat in (90.0, -90.0, 89.999, -89.999, 85.0, -85.0):
        for lng in (0.0, 45.0, -180.0, 180.0, -90.0):
            rows.append((f"pole{len(rows)}", lat, lng))
    invalid = [
        (10.0, 540.0), (10.0, -540.0), (10.0, 200.0), (10.0, -200.0),
        (95.0, 0.0), (-95.0, 0.0), (100.0, 180.0), (-100.0, 180.0),
        # wraps to (-86.5, 45), in an interior covering cell of south_rect
        (-93.5, -135.0),
    ]
    for lat, lng in invalid + [(10.0, 180.0), (-80.0, 0.0)]:
        rows.append((f"bad{len(rows)}", lat, lng))

    got = engine_pairs(spark, ts, rows)
    want = scalar_pairs(ts, rows)
    assert got == want, sorted(got ^ want)
    by_tile = {t: {k for k, tt in want if tt == t} for t in range(len(tiles))}
    # every shape really catches the edge inputs this test is about
    lng_180 = {k for k, lat, lng in rows if abs(lng) == 180.0 and lat == -17.0}
    assert lng_180 <= by_tile[0] and lng_180 <= by_tile[1] and lng_180 <= by_tile[2]
    north = {k for k, lat, _ in rows if lat == 90.0}
    south = {k for k, lat, _ in rows if lat == -90.0}
    assert north <= by_tile[3]
    assert south <= by_tile[4] and south <= by_tile[5]
    # the valid points the invalid ones wrap onto are in the rects ...
    wrapped = {k for k, lat, lng in rows if (lat, lng) in {(10.0, 180.0), (-85.0, 180.0)}}
    assert len(wrapped) == 2 and wrapped <= by_tile[4] | by_tile[6]
    # ... and no rect holds an invalid LatLng
    bad = {k for k, lat, lng in rows if (lat, lng) in invalid}
    assert not bad & (by_tile[0] | by_tile[1] | by_tile[2] | by_tile[4] | by_tile[6])
