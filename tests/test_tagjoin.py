"""The all-JVM tag join (tagjoin.tag_tiles_pairs) against the scalar
geometry port (tests/test_tiles_kernel.scalar_pairs), including
adversarial points on polygon edges/vertices that exercise the
triage-uncertified residual path."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from s2js_spark.spark.session import get_session
from s2js_spark.spark.tagjoin import (
    DEC_INTERIOR,
    covering_frames,
    tag_candidates,
    tag_tiles_pairs,
)
from s2js_spark.spark.tiles import build_tileset
from tests.test_tiles_kernel import scalar_pairs

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_session("local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _tileset():
    import __spark_entry__ as e

    return build_tileset(e.PIP_TILES + e.RECT_TILES + e.CAP_TILES, max_cells=64)


def _pairs_set(df, key="url"):
    return {(r[key], int(r["tile_i"])) for r in df.collect()}


def _rows(df):
    return [(r["url"], r["lat"], r["lng"]) for r in df.select("url", "lat", "lng").collect()]


def test_pairs_match_kernel_on_corpus(spark):
    from s2js_spark.spark.pages import pages
    from s2js_spark.spark.pipeline import extract_geotags

    ts = _tileset()
    geo = extract_geotags(pages(spark, SF)).filter(F.col("lat").isNotNull())
    geo = geo.select("url", "lat", "lng")

    jvm = _pairs_set(tag_tiles_pairs(spark, geo, ts))
    assert jvm == scalar_pairs(ts, _rows(geo))
    assert len(jvm) > 0


def test_pairs_match_kernel_adversarial_boundary(spark):
    """Points exactly on / 1e-14 degrees from polygon vertices and edge
    midpoints: the SQL triage must flag them and the exact residual
    must reproduce the scalar port's decision for every one."""
    import __spark_entry__ as e

    ts = build_tileset(e.PIP_TILES, max_cells=64)
    rows = []
    k = 0
    for _, geom in e.PIP_TILES:
        ring = geom["coordinates"][0]
        for lng, lat in ring:
            for dlat in (0.0, 1e-14, -1e-14):
                for dlng in (0.0, 1e-14, -1e-14):
                    rows.append((f"adv{k}", lat + dlat, lng + dlng))
                    k += 1
        for i in range(len(ring) - 1):
            mlng = (ring[i][0] + ring[i + 1][0]) / 2
            mlat = (ring[i][1] + ring[i + 1][1]) / 2
            rows.append((f"adv{k}", mlat, mlng))
            k += 1
    # plus clearly-inside / clearly-outside controls
    rows += [("in8", 1.0, 8.0), ("in9", 8.0, 29.0), ("out", 50.0, 50.0)]

    df = spark.createDataFrame(pd.DataFrame(rows, columns=["url", "lat", "lng"]))
    jvm = _pairs_set(tag_tiles_pairs(spark, df, ts))
    assert jvm == scalar_pairs(ts, rows)
    assert tag_candidates(spark, df, ts).filter(F.col("_uncert_poly")).count() > 0
    assert ("in8", 0) in jvm and ("in9", 1) in jvm
    assert not any(u == "out" for u, _ in jvm)


def test_certified_fraction_is_total_on_organic_data(spark):
    """On organic (non-adversarial) data zero lanes should need the
    exact residual pass — the certified one-pass plan is complete."""
    from s2js_spark.spark.pages import pages
    from s2js_spark.spark.pipeline import extract_geotags

    ts = _tileset()
    geo = extract_geotags(pages(spark, SF)).filter(F.col("lat").isNotNull())
    cand = tag_candidates(spark, geo.select("url", "lat", "lng"), ts)
    assert cand.filter(F.col("_uncert_poly")).count() == 0


def test_big_polygon_aggregate_path_matches_kernel(spark):
    """The 240-edge concave tile, each boundary cell counting crossings
    over its own few edges, must agree with the scalar port and need
    zero exact residuals on the organic corpus."""
    import __spark_entry__ as e
    from s2js_spark.spark.pages import pages
    from s2js_spark.spark.pipeline import extract_geotags

    ts = build_tileset(e.BIG_PIP_TILES, max_cells=64)

    geo = extract_geotags(pages(spark, SF)).filter(F.col("lat").isNotNull())
    geo = geo.select("url", "lat", "lng")
    jvm = _pairs_set(tag_tiles_pairs(spark, geo, ts))
    assert jvm == scalar_pairs(ts, _rows(geo))
    assert len(jvm) > 0
    cand = tag_candidates(spark, geo, ts)
    assert cand.filter(F.col("_uncert_poly")).count() == 0


def _adversarial_rows(tiles) -> list[tuple[str, float, float]]:
    """Points on and 1e-14 / 1e-12 degrees off every ring vertex, and
    1/4, 1/3 and 1/2 of the way along every edge (in degrees)."""
    offs = (0.0, 1e-14, -1e-14, 1e-12, -1e-12)
    rows = []
    for _, geom in tiles:
        for ring in geom["coordinates"]:
            for lng, lat in ring[:-1]:
                for dlat in offs:
                    for dlng in offs:
                        rows.append((f"v{len(rows)}", lat + dlat, lng + dlng))
            for (lng0, lat0), (lng1, lat1) in zip(ring, ring[1:]):
                for f in (0.25, 1 / 3, 0.5):
                    rows.append(
                        (f"e{len(rows)}", lat0 + f * (lat1 - lat0), lng0 + f * (lng1 - lng0))
                    )
    return rows


def _face0(u: float, v: float) -> list[float]:
    """[lng, lat] degrees of the face-0 point (1, u, v)."""
    return [math.degrees(math.atan2(u, 1.0)), math.degrees(math.atan2(v, math.hypot(1.0, u)))]


# Polygons whose boundary cells are hard for the cell-local refinement.
EDGE_CASE_TILES = [
    ("hole", {"type": "Polygon", "coordinates": [
        [[10, 10], [14, 10], [14.5, 14], [10, 14], [10, 10]],
        [[11, 11], [11, 13], [13, 13], [13, 11], [11, 11]],
    ]}),
    # continuous longitudes: a small quad across the antimeridian
    ("antimeridian", {"type": "Polygon", "coordinates": [
        [[178, -2], [182, -2], [181, 2], [179, 3], [178, -2]],
    ]}),
    # wrapped longitudes: the GeoJSON ring orientation makes this the
    # complement of that quad, covered by face-sized cells
    ("antimeridian_wrapped", {"type": "Polygon", "coordinates": [
        [[178, -2], [-178, -2], [-179, 2], [179, 3], [178, -2]],
    ]}),
    ("north_pole", {"type": "Polygon", "coordinates": [
        [[0, 85], [90, 85], [180, 85], [-90, 85], [0, 85]],
    ]}),
    ("shared_vertex_a", {"type": "Polygon", "coordinates": [
        [[20, 0.5], [22, 0.5], [21, 1.5], [20, 0.5]],
    ]}),
    ("shared_vertex_b", {"type": "Polygon", "coordinates": [
        [[22, 0.5], [24, 0.5], [23, 1.5], [22, 0.5]],
    ]}),
    # an edge along face 0's diagonal u = v, through the centre of every
    # cell with i = j, so those cells' centre determinants are in the band
    ("through_centres", {"type": "Polygon", "coordinates": [
        [_face0(-0.3, -0.3), _face0(0.3, -0.3), _face0(0.3, 0.3), _face0(-0.3, -0.3)],
    ]}),
    # an edge 1e-14 degrees below the equator, a cell boundary at every
    # level: the boundary cells above it list it only through the padding
    ("below_equator", {"type": "Polygon", "coordinates": [
        [[0.5, -1e-14], [1.5, -1e-14], [1.0, 1.0], [0.5, -1e-14]],
    ]}),
]


def _edges_near_cell(shape, cell_id: int, margin: float) -> set[tuple[float, ...]]:
    """Edges (C, D as six floats) of ``shape`` whose face segments meet
    the cell's uv rectangle grown by ``margin``."""
    from s2js_spark.geometry.cell import Cell
    from s2js_spark.geometry.edge_clipping import edge_intersects_rect, face_segments
    from s2js_spark.spark.polyline_ops import ring_edges

    cell = Cell.from_cellid(cell_id)
    rect = cell.uv.expanded_by_margin(margin)
    return {
        (c.x, c.y, c.z, d.x, d.y, d.z)
        for loop in shape.loops
        if not loop.is_empty_or_full()
        for c, d, _, _ in ring_edges(loop.vertices)
        if any(s.face == cell.face and edge_intersects_rect(s.a, s.b, rect)
               for s in face_segments(c, d))
    }


@pytest.mark.parametrize("tiles_name", ["PIP_TILES", "BIG_PIP_TILES", "EDGE_CASE_TILES"])
def test_cell_local_winding_matches_port(spark, tiles_name):
    """The one polygon refinement, crossings from the covering cell's
    centre over that cell's own edges, on adversarial vertex and edge
    points: every boundary cell lists each edge that comes within 1e-12
    (uv) of it, every certified lane equals Polygon.contains_point, some
    lanes are flagged, and with the exact residual the pairs are the
    scalar port's."""
    import __spark_entry__ as e
    from s2js_spark.geometry.point import Point

    tiles = EDGE_CASE_TILES if tiles_name == "EDGE_CASE_TILES" else getattr(e, tiles_name)
    ts = build_tileset(tiles, max_cells=64)
    cov = covering_frames(spark, ts)[0].collect()
    padded = banded = 0
    for r in cov:
        if r["edges"] is None:  # only a polygon's boundary cells list edges
            assert r["dec"] == DEC_INTERIOR
            continue
        shape = ts.shapes[r["tile_i"]]
        cell = int(np.int64(r["cell"]).astype(np.uint64))
        listed = {tuple(x[f] for f in ("cx", "cy", "cz", "dx", "dy", "dz")) for x in r["edges"]}
        assert _edges_near_cell(shape, cell, 1e-12) <= listed
        padded += len(listed - _edges_near_cell(shape, cell, 0.0))
        banded += sum(x["s"] == 0.0 for x in r["edges"])
    if tiles_name == "EDGE_CASE_TILES":
        assert padded > 0 and banded > 0  # the padding and the band both matter

    rows = _adversarial_rows(tiles)
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["url", "lat", "lng"]))
    cand = tag_candidates(spark, df, ts).select(
        "url", "lat", "lng", "tile_i", "_keep_sql", "_uncert_poly"
    ).collect()
    assert any(r[5] for r in cand)  # some lanes are uncertified
    d = math.pi / 180.0
    certified = [r for r in cand if not r[5]]
    assert certified
    for _, lat, lng, t, keep, _ in certified:
        p = Point.from_latlng_radians(lat * d, lng * d)
        assert keep == ts.shapes[t].contains_point(p)
    assert _pairs_set(tag_tiles_pairs(spark, df, ts)) == scalar_pairs(ts, rows)


def test_pairs_plan_stays_compact(spark):
    """Regression guard for the round-3 barrier fix: the refinement
    stack must appear ONCE in the executed plan (attribute references
    in the decision filter / residual UDF), not alias-substituted into
    the covering-join condition — that blow-up measured 530 KB of plan
    and ~2s of fixed per-execution cost. The length bound also guards
    the compact winding: 84,185 characters with the per-edge sign CASE
    form it replaced, 70,810 with it."""
    from s2js_spark.spark.pages import pages
    from s2js_spark.spark.pipeline import extract_geotags

    ts = _tileset()
    geo = extract_geotags(pages(spark, SF)).filter(F.col("lat").isNotNull())
    pairs = tag_tiles_pairs(spark, geo.select("url", "lat", "lng"), ts)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert len(plan) < 80_000
    # decision inputs reach the residual UDF as attributes, not
    # re-inlined expressions
    udf_line = next(l for l in plan.splitlines() if "ArrowEvalPython" in l)
    assert len(udf_line) < 2_000


def test_tag_join_broadcasts_one_frame(spark):
    """The tag join of a polygon, rect and cap tile set broadcasts its
    covering and nothing else: per-tile constants are plan literals
    read by tile_i (each broadcast frame runs one Spark job)."""
    df = spark.createDataFrame(
        pd.DataFrame({"url": ["a", "b"], "lat": [1.0, 50.0], "lng": [8.0, 50.0]})
    )
    pairs = tag_tiles_pairs(spark, df, _tileset())
    assert pairs._jdf.queryExecution().executedPlan().toString().count("BroadcastExchange") == 1


def test_rect_cap_sql_bitwise_vs_kernel(spark):
    """Dense sample near rect and cap boundaries: SQL refinement uses
    the correctly-rounded op order of Rect.contains_latlng and
    Cap.contains_point, so membership must agree with the scalar port
    everywhere (trig-input ulp caveat aside)."""
    import __spark_entry__ as e

    ts = build_tileset(e.RECT_TILES + e.CAP_TILES, max_cells=48)
    rng = np.random.default_rng(5)
    lat = np.concatenate(
        [
            rng.uniform(-27.6, -26.4, 3000),  # rect_c4 band
            rng.uniform(28.0, 30.0, 3000),  # cap_c12 band
        ]
    )
    lng = np.concatenate(
        [rng.uniform(-77.0, -75.0, 3000), rng.uniform(91.0, 93.0, 3000)]
    )
    pdf = pd.DataFrame(
        {"url": [f"p{i}" for i in range(len(lat))], "lat": lat, "lng": lng}
    )
    df = spark.createDataFrame(pdf)
    jvm = _pairs_set(tag_tiles_pairs(spark, df, ts))
    assert jvm == scalar_pairs(ts, pdf.itertuples(index=False))
    assert len(jvm) > 100


def test_empty_tileset_gives_zero_pairs(spark):
    """An empty tile list yields a typed empty covering frame and zero
    pairs with the same output columns as a non-empty tile set."""
    import __spark_entry__ as e

    ts = build_tileset([])
    cov, levels = covering_frames(spark, ts)
    assert levels == [] and cov.count() == 0
    assert cov.columns == [
        "cell", "tile_i", "dec", "ctr_x", "ctr_y", "ctr_z", "ctr_in", "edges",
    ]

    df = spark.createDataFrame(
        pd.DataFrame({"url": ["a", "b"], "lat": [1.0, 50.0], "lng": [8.0, 50.0]})
    )
    full = tag_tiles_pairs(
        spark, df, build_tileset(e.PIP_TILES, max_cells=16), cellid_col="cellid"
    )
    for exact in (True, False):
        out = tag_tiles_pairs(
            spark, df, ts, exact_residuals=exact, cellid_col="cellid"
        )
        assert out.count() == 0
        assert out.dtypes == full.dtypes


# (lat, lng, lat_lo, lat_hi, lng_lo, lng_hi), degrees
_RECT_ROWS = [
    *((lat, lng, -27.4, -26.6, -76.8, -75.2)
      for lat, lng in ((1.0, 8.0), (1.69, 8.0), (50.0, 50.0), (-27.0, -76.0), (29.0, 92.0))),
    # the empty longitude interval (pi, -pi), at lng = ±180
    (0.0, 180.0, -10.0, 10.0, 180.0, -180.0),
    (0.0, -180.0, -10.0, 10.0, 180.0, -180.0),
    # a rect wrapping the antimeridian: invalid lng ±540, ±200; lng ±180
    (10.0, 540.0, 0.0, 20.0, 170.0, -170.0),
    (10.0, -540.0, 0.0, 20.0, 170.0, -170.0),
    (10.0, 200.0, 0.0, 20.0, 170.0, -170.0),
    (10.0, -200.0, 0.0, 20.0, 170.0, -170.0),
    (10.0, 180.0, 0.0, 20.0, 170.0, -170.0),
    (10.0, -180.0, 0.0, 20.0, 170.0, -170.0),
    (10.0, 165.0, 0.0, 20.0, 170.0, -170.0),
    # an invalid lat inside the rect's own latitude bounds
    (95.0, 0.0, -90.0, 100.0, -10.0, 10.0),
    (90.0, 0.0, -90.0, 100.0, -10.0, 10.0),
    # NaN: an interval with a NaN end contains nothing; NaN is no LatLng
    (0.0, 0.0, -10.0, math.nan, -10.0, 10.0),
    (0.0, 0.0, -10.0, 10.0, -10.0, math.nan),
    (math.nan, 0.0, -10.0, 10.0, -10.0, 10.0),
    (None, 0.0, -10.0, 10.0, -10.0, 10.0),
    (0.0, 0.0, -10.0, 10.0, None, 10.0),
]
# (lat, lng, clat, clng, radius_deg)
_CAP_ROWS = [
    *((lat, lng, 29.0, 92.0, 0.8)
      for lat, lng in ((1.0, 8.0), (1.69, 8.0), (50.0, 50.0), (-27.0, -76.0), (29.0, 92.0))),
    (29.0, 92.0, 29.0, 92.0, 0.0),
    # a negative radius is the empty cap (chord -1), even at its centre
    (29.0, 92.0, 29.0, 92.0, -1.0),
    # radius >= 180 degrees holds the antipode
    (-29.0, -88.0, 29.0, 92.0, 180.0),
    (-29.0, -88.0, 29.0, 92.0, 250.0),
    (-29.0, -88.0, 29.0, 92.0, 179.0),
    (None, 92.0, 29.0, 92.0, 0.8),
    (29.0, 92.0, 29.0, 92.0, None),
]


def _rect_ref(lat, lng, lat_lo, lat_hi, lng_lo, lng_hi):
    from s2js_spark.geometry.interval import R1Interval, S1Interval
    from s2js_spark.geometry.latlng import LatLng
    from s2js_spark.geometry.rect import Rect

    if None in (lat, lng, lat_lo, lat_hi, lng_lo, lng_hi):
        return None
    d = math.pi / 180
    rect = Rect(R1Interval(lat_lo * d, lat_hi * d), S1Interval(lng_lo * d, lng_hi * d))
    return rect.contains_latlng(LatLng(lat * d, lng * d))


def _cap_ref(lat, lng, clat, clng, radius_deg):
    from s2js_spark.geometry.cap import Cap
    from s2js_spark.geometry.point import Point

    if None in (lat, lng, clat, clng, radius_deg):
        return None
    cap = Cap.from_center_angle(Point.from_latlng_degrees(clat, clng), radius_deg * math.pi / 180)
    return cap.contains_point(Point.from_latlng_degrees(lat, lng))


def test_registered_predicate_functions(spark):
    """SQL-callable s2_point_in_polygon agrees with the tag-join
    decisions; the SQL-bodied s2_rect_contains / s2_cap_contains equal
    the scalar port's Rect.contains_latlng / Cap.contains_point on
    edge inputs, give NULL for a NULL argument, and run with no Python
    node in the plan."""
    import json
    from s2js_spark.spark.functions import register_all
    import __spark_entry__ as e

    register_all(spark)
    gj = json.dumps(e.PIP_TILES[0][1])
    df = spark.createDataFrame(
        pd.DataFrame({"lat": [1.0, 1.69, 50.0], "lng": [8.0, 8.0, 50.0]})
    )
    df.createOrReplaceTempView("pts")
    got = spark.sql(f"SELECT s2_point_in_polygon(lat, lng, '{gj}') AS pip FROM pts").collect()
    assert [r.pip for r in got] == [True, True, False]

    spark.createDataFrame(
        _RECT_ROWS, "lat double, lng double, lat_lo double, lat_hi double,"
        " lng_lo double, lng_hi double",
    ).createOrReplaceTempView("rects")
    spark.createDataFrame(
        _CAP_ROWS, "lat double, lng double, clat double, clng double, radius_deg double"
    ).createOrReplaceTempView("caps")
    rects = spark.sql(
        "SELECT s2_rect_contains(lat, lng, lat_lo, lat_hi, lng_lo, lng_hi) AS rc FROM rects"
    )
    caps = spark.sql(
        "SELECT s2_cap_contains(lat, lng, clat, clng, radius_deg) AS cc FROM caps"
    )
    for out in (rects, caps):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert [r.rc for r in rects.collect()] == [_rect_ref(*row) for row in _RECT_ROWS]
    assert [r.cc for r in caps.collect()] == [_cap_ref(*row) for row in _CAP_ROWS]
    # the inputs decide both ways
    assert {_rect_ref(*row) for row in _RECT_ROWS} == {True, False, None}
    assert {_cap_ref(*row) for row in _CAP_ROWS} == {True, False, None}
