"""Broadcast tile-set structure: the driver-side half of the tag join.

This is the engine's replacement for the reference's ShapeIndex
(SURVEY §2.11/§4): on the driver we cover every tile with the
RegionCoverer and mark each covering cell *interior* (fully inside the
tile — candidate docs skip refinement entirely) or *boundary*. The
covering rows, together with the flattened polygon edges and the
rect/cap parameters, are what ``tagjoin`` turns into its broadcast
covering join and SQL refinement; the driver-side shapes resolve the
lanes that refinement cannot certify.

At cluster scale the broadcast is O(total covering cells + vertices)
per executor, docs never shuffle for this join, and skew in hot cells
is irrelevant because membership is a map-side join, not a key join.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ..geometry.cap import Cap
from ..geometry.cell import Cell
from ..geometry.geojson import GeoJSONRegionCoverer, from_geojson
from ..geometry.loop import Loop
from ..geometry.point import Point
from ..geometry.polygon import Polygon
from ..geometry.rect import Rect

MAX_DETERMINANT_ERROR = 1.8274 * 2.220446049250313e-16

KIND_POLYGON = 0
KIND_RECT = 1
KIND_CAP = 2


@dataclass
class TileSetStruct:
    """Plain-numpy broadcastable tile set (built once on the driver)."""

    # tiles
    tile_kind: np.ndarray  # int8  [ntiles]
    tile_ids: list  # user-facing tile identifiers
    # polygon geometry (concatenated edges across all loops of all tiles)
    edge_off: np.ndarray  # int64 [ntiles+1]
    cx: np.ndarray
    cy: np.ndarray
    cz: np.ndarray  # edge starts
    dx: np.ndarray
    dy: np.ndarray
    dz: np.ndarray  # edge ends
    origin_parity: np.ndarray  # bool [ntiles] XOR of loops' originInside
    # rect geometry (radians)
    rect_bounds: np.ndarray  # float64 [ntiles, 4] lat_lo lat_hi lng_lo lng_hi
    # cap geometry
    cap_center: np.ndarray  # float64 [ntiles, 3]
    cap_r2: np.ndarray  # float64 [ntiles]
    # driver-side shapes for exact-fallback lanes
    shapes: list
    # covering cells, one row per (cell, tile)
    cov_cell: np.ndarray  # uint64 [ncov]
    cov_tile: np.ndarray  # int32 [ncov]
    cov_interior: np.ndarray  # bool [ncov]


def _origin_xyz() -> tuple[float, float, float]:
    o = Point.origin_point()
    return o.x, o.y, o.z


def build_tileset(
    tiles: list[tuple[object, dict]],
    max_cells: int = 64,
) -> TileSetStruct:
    """Cover polygons/rects/caps and build the broadcast struct.

    ``tiles`` is a list of (tile_id, geojson_geometry_dict) — or
    (tile_id, shape) with shape already a Polygon/Rect/tuple cap
    ((lat, lng), radius_rad).
    """
    coverer = GeoJSONRegionCoverer(max_cells=max_cells)

    cov_cells: list[tuple[int, int, bool]] = []  # cell, tile, interior
    tile_ids = []
    kinds = []
    shapes = []
    edges: list[tuple[float, ...]] = []
    edge_off = [0]
    origin_parity = []
    rect_bounds = []
    cap_center = []
    cap_r2 = []

    for idx, (tile_id, geom) in enumerate(tiles):
        if isinstance(geom, dict):
            covering = coverer.covering(geom)
            shape = from_geojson(geom)
        else:
            shape = geom
            covering = coverer.coverer.covering(_as_region(shape))
        tile_ids.append(tile_id)
        shapes.append(shape)

        region = _as_region(shape)

        # Covering cells fully inside the region skip refinement — the
        # INDEXED/interior trichotomy of the reference's locateCellID
        # (ShapeIndexIterator.ts:185-207), computed per covering cell.
        for c in covering:
            is_int = bool(region.contains_cell(Cell.from_cellid(c)))
            cov_cells.append((int(c), idx, is_int))

        if isinstance(shape, Polygon):
            kinds.append(KIND_POLYGON)
            parity = False
            n_edges = 0
            for loop in shape.loops:
                if loop.is_empty_or_full():
                    parity ^= loop.origin_inside
                    continue
                parity ^= loop.origin_inside
                verts = loop.vertices
                n = len(verts)
                for i in range(n):
                    a = verts[i]
                    b = verts[(i + 1) % n]
                    edges.append((a.x, a.y, a.z, b.x, b.y, b.z))
                n_edges += n
            edge_off.append(edge_off[-1] + n_edges)
            origin_parity.append(parity)
            rect_bounds.append((0.0, 0.0, 0.0, 0.0))
            cap_center.append((0.0, 0.0, 0.0))
            cap_r2.append(0.0)
        elif isinstance(shape, Rect):
            kinds.append(KIND_RECT)
            edge_off.append(edge_off[-1])
            origin_parity.append(False)
            rect_bounds.append((shape.lat.lo, shape.lat.hi, shape.lng.lo, shape.lng.hi))
            cap_center.append((0.0, 0.0, 0.0))
            cap_r2.append(0.0)
        else:
            assert isinstance(shape, Cap)
            kinds.append(KIND_CAP)
            edge_off.append(edge_off[-1])
            origin_parity.append(False)
            rect_bounds.append((0.0, 0.0, 0.0, 0.0))
            cap_center.append((shape.center.x, shape.center.y, shape.center.z))
            cap_r2.append(shape.rad)

    earr = np.array(edges, dtype=np.float64) if edges else np.zeros((0, 6))
    return TileSetStruct(
        tile_kind=np.array(kinds, dtype=np.int8),
        tile_ids=tile_ids,
        edge_off=np.array(edge_off, dtype=np.int64),
        cx=earr[:, 0].copy(),
        cy=earr[:, 1].copy(),
        cz=earr[:, 2].copy(),
        dx=earr[:, 3].copy(),
        dy=earr[:, 4].copy(),
        dz=earr[:, 5].copy(),
        origin_parity=np.array(origin_parity, dtype=bool),
        rect_bounds=np.array(rect_bounds, dtype=np.float64),
        cap_center=np.array(cap_center, dtype=np.float64),
        cap_r2=np.array(cap_r2, dtype=np.float64),
        shapes=shapes,
        cov_cell=np.array([c for c, _, _ in cov_cells], dtype=np.uint64),
        cov_tile=np.array([t for _, t, _ in cov_cells], dtype=np.int32),
        cov_interior=np.array([i for _, _, i in cov_cells], dtype=bool),
    )


def _as_region(shape):
    if isinstance(shape, (Polygon, Rect, Cap, Loop)):
        return shape
    raise TypeError(type(shape))
