"""CellUnion: a normalized collection of CellIDs.

Semantics of /root/reference/s2/CellUnion.ts. Driver-side object used
to build and manipulate coverings; the Spark side consumes the sorted
(range_min, range_max) arrays it produces.
"""

from __future__ import annotations

import bisect

from . import cellid_scalar as cs
from .cell import Cell
from .metric import AVG_AREA_METRIC, MIN_WIDTH_METRIC
from .point import Point

MAX_LEVEL = 30


class CellUnion(list):
    """A list[int] of uint64 cell ids with CellUnion semantics."""

    # ----------------------------------------------------------- constructors
    @staticmethod
    def from_union(*unions: "CellUnion") -> "CellUnion":
        cu = CellUnion()
        for u in unions:
            cu.extend(u)
        cu.normalize()
        return cu

    @staticmethod
    def from_difference(x: "CellUnion", y: "CellUnion") -> "CellUnion":
        cu = CellUnion()
        for xid in x:
            cu._difference_internal(xid, y)
        return cu

    def _difference_internal(self, cid: int, other: "CellUnion") -> None:
        if not other.intersects_cellid(cid):
            self.append(cid)
            return
        if not other.contains_cellid(cid):
            for child in cs.children(cid):
                self._difference_internal(child, other)

    # ------------------------------------------------------------- validity

    def is_valid(self) -> bool:
        for i, cid in enumerate(self):
            if not cs.valid(cid):
                return False
            if i > 0 and cs.range_max(self[i - 1]) >= cs.range_min(cid):
                return False
        return True

    def is_normalized(self) -> bool:
        for i, cid in enumerate(self):
            if not cs.valid(cid):
                return False
            if i > 0 and cs.range_max(self[i - 1]) >= cs.range_min(cid):
                return False
            if i >= 3 and CellUnion.are_siblings(self[i - 3], self[i - 2], self[i - 1], cid):
                return False
        return True

    @staticmethod
    def are_siblings(a: int, b: int, c: int, d: int) -> bool:
        """Four distinct cells share a parent (CellUnion.ts:324-337)."""
        if (a ^ b ^ c) != d:
            return False
        mask = cs.lsb(d) << 1
        mask = ~(mask + (mask << 1)) & cs.MASK64
        id_masked = d & mask
        return (
            (a & mask) == id_masked
            and (b & mask) == id_masked
            and (c & mask) == id_masked
            and not cs.is_face(d)
        )

    def normalize(self) -> None:
        """Sort; drop contained; collapse 4 siblings (CellUnion.ts:150-191)."""
        self.sort()
        output: list[int] = []
        for ci in list(self):
            if output and cs.contains(output[-1], ci):
                continue
            while output and cs.contains(ci, output[-1]):
                output.pop()
            while len(output) >= 3 and CellUnion.are_siblings(
                output[-3], output[-2], output[-1], ci
            ):
                del output[-3:]
                ci = cs.immediate_parent(ci)
            output.append(ci)
        self[:] = output

    def denormalize(self, min_level: int, level_mod: int) -> None:
        """(CellUnion.ts:221-239)."""
        denorm: list[int] = []
        for cid in self:
            level = cs.level(cid)
            new_level = max(level, min_level)
            if level_mod > 1:
                new_level += (MAX_LEVEL - (new_level - min_level)) % level_mod
                new_level = min(new_level, MAX_LEVEL)
            if new_level == level:
                denorm.append(cid)
            else:
                end = cs.child_end_at_level(cid, new_level)
                ci = cs.child_begin_at_level(cid, new_level)
                while ci != end:
                    denorm.append(ci)
                    ci = cs.next_cell(ci)
        self[:] = denorm

    # -------------------------------------------------------------- queries

    def lower_bound(self, begin: int, end: int, cid: int) -> int:
        i = bisect.bisect_left(self, cid, begin, end)
        return i

    def intersects_cellid(self, cid: int) -> bool:
        i = self.lower_bound(0, len(self), cid)
        if i != len(self) and cs.range_min(self[i]) <= cs.range_max(cid):
            return True
        return i != 0 and cs.range_max(self[i - 1]) >= cs.range_min(cid)

    def contains_cellid(self, cid: int) -> bool:
        i = self.lower_bound(0, len(self), cid)
        if i != len(self) and cs.range_min(self[i]) <= cid:
            return True
        return i != 0 and cs.range_max(self[i - 1]) >= cid

    def contains_cell(self, c: Cell) -> bool:
        return self.contains_cellid(c.id)

    def intersects_cell(self, c: Cell) -> bool:
        return self.intersects_cellid(c.id)

    def contains_point(self, p: Point) -> bool:
        return self.contains_cellid(cs.from_point(p.x, p.y, p.z))

    def contains(self, o: "CellUnion") -> bool:
        return all(self.contains_cellid(cid) for cid in o)

    def intersects(self, o: "CellUnion") -> bool:
        return any(o.intersects_cellid(c) for c in self)

    def equals(self, o: "CellUnion") -> bool:
        return list(self) == list(o)

    # --------------------------------------------------------------- bounds

    def rect_bound(self):
        from .rect import Rect

        bound = Rect.empty()
        for c in self:
            bound = bound.union(Cell.from_cellid(c).rect_bound())
        return bound

    def cap_bound(self):
        from .cap import Cap

        if len(self) == 0:
            return Cap.empty()
        centroid = Point(0.0, 0.0, 0.0)
        for ci in self:
            area = AVG_AREA_METRIC.value(cs.level(ci))
            x, y, z = cs.to_point(ci)
            centroid = centroid.add(Point(x, y, z).mul(area))
        if centroid.equals(Point(0.0, 0.0, 0.0)):
            centroid = Point.from_coords(1, 0, 0)
        else:
            centroid = centroid.normalize()
        c = Cap.from_point(centroid)
        for ci in self:
            c = c.add_cap(Cell.from_cellid(ci).cap_bound())
        return c

    def cell_union_bound(self) -> list[int]:
        return self.cap_bound().cell_union_bound()

    # ------------------------------------------------------------ expansion

    def expand_at_level(self, lvl: int) -> None:
        """Add a rim of level-lvl cells around the boundary
        (CellUnion.ts:393-413)."""
        output: list[int] = []
        level_lsb = cs.lsb_for_level(lvl)
        i = len(self) - 1
        while i >= 0:
            cid = self[i]
            if cs.lsb(cid) < level_lsb:
                cid = cs.parent(cid, lvl)
                while i > 0 and cs.contains(cid, self[i - 1]):
                    i -= 1
            output.append(cid)
            output.extend(cs.all_neighbors(cid, lvl))
            i -= 1
        output.sort()
        self[:] = output
        self.normalize()

    def expand_by_radius(self, min_radius: float, max_level_diff: int) -> None:
        """(CellUnion.ts:420-427)."""
        min_level = MAX_LEVEL
        for cid in self:
            min_level = min(min_level, cs.level(cid))
        radius_level = MIN_WIDTH_METRIC.max_level(min_radius)
        if radius_level == 0 and min_radius > MIN_WIDTH_METRIC.value(0):
            self.expand_at_level(0)
        self.expand_at_level(min(min_level + max_level_diff, radius_level))
