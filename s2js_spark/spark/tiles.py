"""Broadcast tile set: the driver-side half of the tag join.

This is the engine's replacement for the reference's ShapeIndex
(SURVEY §2.11/§4): on the driver we cover every tile with the
RegionCoverer and mark each covering cell *interior* (fully inside the
tile — candidate docs skip refinement entirely) or *boundary*. A tile
set is its ids, the scalar port's shapes and those covering rows;
``tagjoin`` reads every plan literal of its broadcast covering join
and SQL refinement from the shapes (polygon loops, rect bounds, cap
center and radius), and the same shapes resolve the lanes that
refinement cannot certify.

At cluster scale the one broadcast is the covering, O(total covering
cells + boundary edges) per executor, docs never shuffle for this join,
and skew in hot cells is irrelevant: membership is a map-side join.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..geometry.cap import Cap
from ..geometry.cell import Cell
from ..geometry.geojson import GeoJSONRegionCoverer, from_geojson
from ..geometry.polygon import Polygon
from ..geometry.rect import Rect


@dataclass
class TileSetStruct:
    """A tile set built once on the driver."""

    tile_ids: list  # user-facing tile identifiers
    shapes: list  # Polygon | Rect | Cap per tile: the plan's geometry
    # covering cells, one row per (cell, tile)
    cov_cell: np.ndarray  # uint64 [ncov]
    cov_tile: np.ndarray  # int32 [ncov]
    cov_interior: np.ndarray  # bool [ncov]


def _tile_shape(geom):
    shape = from_geojson(geom) if isinstance(geom, dict) else geom
    if not isinstance(shape, (Polygon, Rect, Cap)):
        raise TypeError(
            "a tile is a GeoJSON Polygon dict, a Polygon, a Rect or a Cap,"
            f" not {type(shape).__name__}"
        )
    return shape


def build_tileset(
    tiles: list[tuple[object, object]],
    max_cells: int = 64,
) -> TileSetStruct:
    """Cover polygons/rects/caps and build the broadcast struct.

    ``tiles`` is a list of (tile_id, geometry): a GeoJSON Polygon dict
    (a rect-shaped one becomes a Rect) or a ``Polygon``, ``Rect`` or
    ``Cap`` of the scalar port. Any other geometry raises TypeError
    before anything is covered.
    """
    shapes = [_tile_shape(geom) for _, geom in tiles]
    coverer = GeoJSONRegionCoverer(max_cells=max_cells)
    cov_cells: list[tuple[int, int, bool]] = []  # cell, tile, interior
    for idx, ((_, geom), shape) in enumerate(zip(tiles, shapes)):
        if isinstance(geom, dict):
            covering = coverer.covering(geom)
        else:
            covering = coverer.coverer.covering(shape)
        # Covering cells fully inside the region skip refinement — the
        # INDEXED/interior trichotomy of the reference's locateCellID
        # (ShapeIndexIterator.ts:185-207), computed per covering cell.
        for c in covering:
            is_int = bool(shape.contains_cell(Cell.from_cellid(c)))
            cov_cells.append((int(c), idx, is_int))

    return TileSetStruct(
        tile_ids=[tile_id for tile_id, _ in tiles],
        shapes=shapes,
        cov_cell=np.array([c for c, _, _ in cov_cells], dtype=np.uint64),
        cov_tile=np.array([t for _, t, _ in cov_cells], dtype=np.int32),
        cov_interior=np.array([i for _, _, i in cov_cells], dtype=bool),
    )


def tile_id_col(tile_ids: list) -> Column:
    """``tile_i`` -> ``str(tile_ids[tile_i])`` as a literal-map lookup:
    constant pairs need no broadcast join (a names frame cost one
    broadcast job per run)."""
    names = F.create_map(
        *[x for i, t in enumerate(tile_ids) for x in (F.lit(i), F.lit(str(t)))]
    )
    return F.element_at(names, F.col("tile_i"))
