"""GeoJSON -> S2 import and the production tile-set coverer.

Semantics of /root/reference/geojson/: ring normalization rules
(geojson/loop.ts:24-73), Rect special-casing (geojson/rect.ts:42-57),
geometry dispatch (geojson/geometry.ts:28-67) and the multi-member
RegionCoverer with compaction and global-covering rejection
(geojson/RegionCoverer.ts:50-145). These normalization rules change
coverings/joins for dirty real-world polygons and are reproduced
exactly — including the reference's `area()` quirk of returning 0 for
Polyline/Rect (missing return, geojson/RegionCoverer.ts:120-125).
"""

from __future__ import annotations

import math

from . import cellid_scalar as cs
from .cellunion import CellUnion
from .interval import R1Interval, S1Interval
from .loop import Loop
from .point import Point
from .polygon import Polygon
from .polyline import Polyline
from .rect import Rect
from .regioncoverer import RegionCoverer as S2RegionCoverer

DEGREE = math.pi / 180
MAX_LEVEL = 30


# ----------------------------------------------------------- ring handling

def _position_equal(a, b, epsilon: float = 0.0) -> bool:
    if epsilon == 0:
        return a[0] == b[0] and a[1] == b[1]
    return abs(a[0] - b[0]) <= epsilon and abs(a[1] - b[1]) <= epsilon


def _position_unmarshal(pos) -> Point:
    return Point.from_latlng_radians(pos[1] * DEGREE, pos[0] * DEGREE)


def ring_clockwise(ring) -> bool:
    """Shoelace orientation test (geojson/loop.ts:66-73)."""
    total = 0.0
    for i in range(1, len(ring)):
        total += (ring[i][0] - ring[i - 1][0]) * (ring[i][1] + ring[i - 1][1])
    return total > 0


def _contains_duplicate_vertices(ring) -> bool:
    return len({f"{c[0]}|{c[1]}" for c in ring}) != len(ring)


def _remove_adjacent_duplicates(ring, epsilon: float = 1e-8):
    return [p for i, p in enumerate(ring) if i == 0 or not _position_equal(ring[i - 1], p, epsilon)]


def loop_unmarshal(ring) -> Loop:
    """GeoJSON ring -> CCW S2 loop with normalization
    (geojson/loop.ts:24-49)."""
    if len(ring) < 3:
        return Loop([])
    ring = list(ring)
    if ring_clockwise(ring):
        ring.reverse()
    if _position_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    if _contains_duplicate_vertices(ring):
        ring = _remove_adjacent_duplicates(ring, 0)
        if len(ring) < 3:
            return Loop([])
        if _contains_duplicate_vertices(ring):
            return Loop([])
    return Loop([_position_unmarshal(p) for p in ring])


# ----------------------------------------------------------- rect handling

def rect_valid(geometry) -> bool:
    """Axis-aligned 5-point ring test (geojson/rect.ts:42-57)."""
    if geometry.get("type") != "Polygon":
        return False
    coords = geometry.get("coordinates", [])
    if len(coords) != 1:
        return False
    ring = coords[0]
    if len(ring) != 5:
        return False
    if not _position_equal(ring[0], ring[4]):
        return False
    if ring[0][0] != ring[3][0]:
        return False
    if ring[1][0] != ring[2][0]:
        return False
    if ring[0][1] != ring[1][1]:
        return False
    if ring[2][1] != ring[3][1]:
        return False
    return True


def rect_unmarshal(geometry) -> Rect:
    ring = geometry["coordinates"][0]
    lng_lo = min(ring[0][0], ring[2][0])
    lng_hi = max(ring[0][0], ring[2][0])
    lat_lo = min(ring[0][1], ring[2][1])
    lat_hi = max(ring[0][1], ring[2][1])
    return Rect(
        R1Interval(lat_lo * DEGREE, lat_hi * DEGREE),
        S1Interval.from_endpoints(lng_lo * DEGREE, lng_hi * DEGREE),
    )


# --------------------------------------------------------------- dispatch

def from_geojson(geometry):
    """GeoJSON geometry -> S2 shape(s) (geojson/geometry.ts:50-67)."""
    t = geometry.get("type") if isinstance(geometry, dict) else None
    if t == "Point":
        return _position_unmarshal(geometry["coordinates"])
    if t == "LineString":
        return Polyline([_position_unmarshal(p) for p in geometry["coordinates"]])
    if t == "Polygon":
        if rect_valid(geometry):
            return rect_unmarshal(geometry)
        return Polygon([loop_unmarshal(r) for r in geometry["coordinates"]])
    if t == "MultiPoint":
        return [_position_unmarshal(p) for p in geometry["coordinates"]]
    if t == "MultiLineString":
        return [
            Polyline([_position_unmarshal(p) for p in line])
            for line in geometry["coordinates"]
        ]
    if t == "MultiPolygon":
        return [
            Polygon([loop_unmarshal(r) for r in rings])
            for rings in geometry["coordinates"]
        ]
    raise ValueError(f"unsupported: {t or 'UnknownGeometryType'}")


# -------------------------------------------------------- tile-set coverer

class GeoJSONRegionCoverer:
    """Multi-geometry coverer (geojson/RegionCoverer.ts:49-145)."""

    def __init__(
        self,
        min_level: int = 0,
        max_level: int = MAX_LEVEL,
        level_mod: int = 1,
        max_cells: int = 8,
        member_max_cells: int | None = None,
        compact_at: int = 65536,
        small_area_epsilon: float = 1e-6,
    ):
        if member_max_cells is None:
            member_max_cells = max(max_cells // 10, 8)
        self.coverer = S2RegionCoverer(
            min_level=min_level, max_level=max_level, level_mod=level_mod, max_cells=max_cells
        )
        self.member_coverer = S2RegionCoverer(
            min_level=min_level,
            max_level=max_level,
            level_mod=level_mod,
            max_cells=member_max_cells,
        )
        self.compact_at = compact_at
        self.small_area_epsilon = small_area_epsilon

    @staticmethod
    def _area(shape) -> float:
        # Bug-compatible with the reference: Polyline/Rect fall through
        # to 0 (missing return, geojson/RegionCoverer.ts:120-125).
        if isinstance(shape, Polygon):
            return shape.area()
        return 0.0

    @staticmethod
    def _valid_covering(shape, covering: CellUnion) -> bool:
        """Reject global coverings of invalid rings
        (geojson/RegionCoverer.ts:133-144)."""
        if len(covering) != 6 or not all(cs.is_face(c) for c in covering):
            return True
        if isinstance(shape, Polygon):
            union = Polyline(shape.loop(0).vertices).cell_union_bound()
            return len(union) == 6 and all(cs.is_face(c) for c in union)
        return GeoJSONRegionCoverer._area(shape) < math.pi * 2

    def _multi_member_covering(self, shapes: list) -> CellUnion:
        """(geojson/RegionCoverer.ts:79-107)."""
        shapes = sorted(shapes, key=self._area, reverse=True)
        union = CellUnion()
        for shape in shapes:
            area = self._area(shape)
            is_polygon = isinstance(shape, Polygon)
            if is_polygon and area <= 0:
                continue
            fast = (
                len(union) >= self.member_coverer.max_cells
                and area < self.small_area_epsilon
            )
            if isinstance(shape, Point):
                shape = _PointRegion(shape)
            cov = (
                self.member_coverer.fast_covering(shape)
                if fast
                else self.member_coverer.covering(shape)
            )
            if not self._valid_covering(shape, cov):
                continue
            union = CellUnion.from_union(union, cov)
            if len(union) >= self.compact_at:
                union = self.coverer.covering(union)
        return self.coverer.covering(union)

    def covering(self, geometry) -> CellUnion:
        """(geojson/RegionCoverer.ts:110-122)."""
        shape = from_geojson(geometry)
        if isinstance(shape, list):
            return self._multi_member_covering(shape)
        if isinstance(shape, Polygon) and self._area(shape) <= 0:
            return CellUnion()
        if isinstance(shape, Point):
            shape = _PointRegion(shape)
        cov = self.coverer.covering(shape)
        if not self._valid_covering(shape, cov):
            return CellUnion()
        return cov


class _PointRegion:
    """Point as a Region (s2/Point.ts:243-264)."""

    def __init__(self, p: Point):
        self.p = p

    def cell_union_bound(self) -> list[int]:
        return [cs.from_point(self.p.x, self.p.y, self.p.z)]

    def contains_cell(self, _cell) -> bool:
        return False

    def intersects_cell(self, cell) -> bool:
        return cell.contains_point(self.p)
