"""S2 Polyline (vertex chain region).

Subset of /root/reference/s2/Polyline.ts needed by the engine: bounds,
covering support, length/centroid, intersects.
"""

from __future__ import annotations

from .cap import Cap
from .cell import Cell
from .edge_crossings import DO_NOT_CROSS, EdgeCrosser
from .loop import RectBounder
from .point import Point
from .rect import Rect


class Polyline:
    def __init__(self, points: list[Point] | None = None):
        self.points = points or []

    def reverse(self) -> None:
        self.points.reverse()

    def num_edges(self) -> int:
        return max(0, len(self.points) - 1)

    def length(self) -> float:
        return sum(
            self.points[i - 1].angle(self.points[i]) for i in range(1, len(self.points))
        )

    def centroid(self) -> Point:
        """Length-scaled true centroid (Polyline.ts:83-93)."""
        import math

        centroid = Point(0.0, 0.0, 0.0)
        for i in range(1, len(self.points)):
            v_sum = self.points[i - 1].add(self.points[i])
            v_diff = self.points[i - 1].sub(self.points[i])
            centroid = centroid.add(
                v_sum.mul(math.sqrt(v_diff.norm2() / v_sum.norm2()))
            )
        return centroid

    def rect_bound(self) -> Rect:
        rb = RectBounder()
        for v in self.points:
            rb.add_point(v)
        return rb.rect_bound()

    def cap_bound(self) -> Cap:
        return self.rect_bound().cap_bound()

    def cell_union_bound(self) -> list[int]:
        return self.cap_bound().cell_union_bound()

    def contains_cell(self, _cell: Cell) -> bool:
        return False

    def intersects_cell(self, cell: Cell) -> bool:
        """(Polyline.ts intersectsCell semantics)."""
        if len(self.points) == 0:
            return False
        for p in self.points:
            if cell.contains_point(p):
                return True
        cell_vertices = [cell.vertex(i) for i in range(4)]
        for j in range(4):
            crosser = EdgeCrosser.new_chain_edge_crosser(
                cell_vertices[j], cell_vertices[(j + 1) & 3], self.points[0]
            )
            for i in range(1, len(self.points)):
                if crosser.chain_crossing_sign(self.points[i]) != DO_NOT_CROSS:
                    return True
        return False

    def contains_point(self, _p: Point) -> bool:
        return False

    def intersects(self, o: "Polyline") -> bool:
        if len(self.points) == 0 or len(o.points) == 0:
            return False
        if not self.rect_bound().intersects(o.rect_bound()):
            return False
        for i in range(1, len(self.points)):
            crosser = EdgeCrosser.new_chain_edge_crosser(
                self.points[i - 1], self.points[i], o.points[0]
            )
            for j in range(1, len(o.points)):
                if crosser.chain_crossing_sign(o.points[j]) != DO_NOT_CROSS:
                    return True
        return False
