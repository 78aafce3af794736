"""The S2 functions registered for SQL.

Cell arithmetic and the rect and cap predicates are SQL-bodied session
functions: Catalyst inlines each body into the calling plan, with no
Python node. The cell functions are the bit operations of the
``sqlkernels`` column helpers; ``s2_rect_contains`` and
``s2_cap_contains`` are the texts the tag join's refinement decides
with (``sqlkernels.rect_contains_sql`` / ``cap_contains_sql``), on
degree arguments, and give NULL when any argument is NULL. Cell ids
travel in LongType as the raw uint64 bit pattern; ``s2_flip_key``
gives the order-preserving signed key. There is no registered encode:
``sqlkernels.with_s2_cellid``, a chain of lateral aliases, is the
engine's.

Coverings, cell-union normalization and point-in-polygon are pandas
UDFs: there the scalar ``geometry/`` port's Python is the operator.
"""

from __future__ import annotations

import json
import math

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BooleanType, LongType

from ..geometry.cellunion import CellUnion
from ..geometry.geojson import GeoJSONRegionCoverer, from_geojson
from ..geometry.point import Point
from . import sqlkernels as sq

_FLIP = "shiftleft(1L, 63)"  # XOR with 2^63: signed order == unsigned S2 order
_PARENT_LSB = "shiftleft(1L, 60 - 2 * level)"
_RECT_ARGS = ("lat", "lng", "lat_lo", "lat_hi", "lng_lo", "lng_hi")
_CAP_ARGS = ("lat", "lng", "clat", "clng", "radius_deg")


def _predicate(name: str, args: tuple[str, ...], body: str) -> str:
    """A BOOLEAN function of DOUBLE ``args`` that is NULL when any
    argument is (a bare AND can answer false past a NULL)."""
    nulls = " OR ".join(f"{a} IS NULL" for a in args)
    return (
        f"{name}({', '.join(f'{a} DOUBLE' for a in args)}) RETURNS BOOLEAN"
        f" RETURN CASE WHEN {nulls} THEN NULL ELSE {body} END"
    )


# One declaration each, with the cellid.ts lines (or the scalar
# expression) it ports
_SQL_FUNCTIONS = [
    # 30 - ctz/2 (67-69); -2 for id 0, as the scalar port
    "s2_level(id BIGINT) RETURNS INT"
    " RETURN 30 - shiftrightunsigned(bit_count((id & -id) - 1), 1)",
    # 74-77
    "s2_parent(id BIGINT, level INT) RETURNS BIGINT"
    f" RETURN (id & -{_PARENT_LSB}) | {_PARENT_LSB}",
    # 194-203
    "s2_range_min(id BIGINT) RETURNS BIGINT RETURN id - ((id & -id) - 1)",
    "s2_range_max(id BIGINT) RETURNS BIGINT RETURN id + ((id & -id) - 1)",
    # unsigned range_min(a) <= b <= range_max(a) (208-210)
    "s2_contains(a BIGINT, b BIGINT) RETURNS BOOLEAN"
    f" RETURN (b ^ {_FLIP}) BETWEEN ((a - ((a & -a) - 1)) ^ {_FLIP})"
    f" AND ((a + ((a & -a) - 1)) ^ {_FLIP})",
    f"s2_flip_key(id BIGINT) RETURNS BIGINT RETURN id ^ {_FLIP}",
    # hex, trailing zeros stripped, 'X' for 0 (224-228)
    "s2_token(id BIGINT) RETURNS STRING RETURN CASE WHEN id = 0 THEN 'X'"
    " ELSE regexp_replace(lower(lpad(hex(id), 16, '0')), '0+$', '') END",
    # Rect(R1Interval(lat_lo, lat_hi), S1Interval(lng_lo, lng_hi))
    # .contains_latlng(LatLng(lat, lng)), every argument in degrees. An
    # interval with a NaN end contains nothing there, while Spark
    # orders NaN above every double (lat <= NaN holds).
    _predicate(
        "s2_rect_contains", _RECT_ARGS,
        "NOT (isnan(lat_lo) OR isnan(lat_hi) OR isnan(lng_lo) OR isnan(lng_hi)) AND "
        + sq.rect_contains_sql(*(sq.radians_sql(a) for a in _RECT_ARGS)),
    ),
    # Cap.from_center_angle(Point.from_latlng_degrees(clat, clng),
    # radius_deg * pi/180).contains_point(Point.from_latlng_degrees(lat, lng))
    _predicate(
        "s2_cap_contains", _CAP_ARGS,
        sq.cap_contains_sql(
            sq.xyz_sql("lat", "lng"), sq.xyz_sql("clat", "clng"),
            sq.chord_from_angle_sql(sq.radians_sql("radius_deg")),
        ),
    ),
]


@F.pandas_udf(ArrayType(LongType()))
def s2_cover(geojson_str: pd.Series, max_cells: pd.Series) -> pd.Series:
    """GeoJSON geometry string -> covering cell ids (array<long>).

    Per-geometry object code (SURVEY §2.13 [D->column]); runs
    distributed, one geometry per row — the tile-set ingestion
    path when tiles arrive as a DataFrame column.
    """
    out = []
    coverers: dict[int, GeoJSONRegionCoverer] = {}
    for gj, mc in zip(geojson_str, max_cells):
        if gj is None:
            out.append(None)
            continue
        mc = int(mc)
        cov = coverers.setdefault(mc, GeoJSONRegionCoverer(max_cells=mc))
        cells = cov.covering(json.loads(gj))
        out.append(
            list(np.array(cells, dtype=np.uint64).view(np.int64))
            if cells else []
        )
    return pd.Series(out)


@F.pandas_udf(ArrayType(LongType()))
def s2_cell_union_normalize(cells: pd.Series) -> pd.Series:
    """Normalize an array<long> of cell ids per row (sort, drop
    contained, collapse sibling quads) — CellUnion.normalize."""
    out = []
    for arr in cells:
        if arr is None:
            out.append(None)
            continue
        cu = CellUnion(int(np.int64(c).astype(np.uint64)) for c in arr)
        cu.normalize()
        out.append(list(np.array(cu, dtype=np.uint64).view(np.int64)))
    return pd.Series(out)


# Point-in-polygon for the per-row SQL API surface (SURVEY §2.13): the
# polygon arrives as a GeoJSON column, parsed once per distinct string
# per batch.
_D = math.pi / 180.0


@F.pandas_udf(BooleanType())
def s2_point_in_polygon(lat: pd.Series, lng: pd.Series, geojson: pd.Series) -> pd.Series:
    shapes: dict[str, object] = {}
    out = np.zeros(len(lat), dtype=bool)
    la = lat.to_numpy(np.float64) * _D
    ln = lng.to_numpy(np.float64) * _D
    for n, gj in enumerate(geojson):
        shape = shapes.get(gj)
        if shape is None:
            shape = shapes[gj] = from_geojson(json.loads(gj))
        out[n] = bool(shape.contains_point(Point.from_latlng_radians(la[n], ln[n])))
    return pd.Series(out)


_UDFS = {
    "s2_cover": s2_cover,
    "s2_cell_union_normalize": s2_cell_union_normalize,
    "s2_point_in_polygon": s2_point_in_polygon,
}


def register_all(spark: SparkSession) -> None:
    """Make every S2 function callable from SQL in ``spark``'s session."""
    for decl in _SQL_FUNCTIONS:
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {decl}")
    for name, udf in _UDFS.items():
        spark.udf.register(name, udf)
