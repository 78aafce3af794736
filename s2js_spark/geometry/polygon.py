"""S2 Polygon: loops canonicalized into shells (even depth) and holes
(odd depth), nested via pre-order traversal.

Semantics of /root/reference/s2/Polygon.ts. As with Loop, the lazy
ShapeIndex is not ported: containsPoint is the XOR of per-loop brute
winding parities (Polygon.ts:539-559 brute path) and cell relations
use exact edge-crossing tests (driver-side only; the per-document path
is the vectorized kernel).
"""

from __future__ import annotations

from .cell import Cell
from .loop import Loop, RectBounder, wedge_contains_semiwedge
from .point import Point
from .rect import Rect


class Polygon:
    def __init__(self, loops: list[Loop] | None = None):
        self.loops: list[Loop] = []
        self.has_holes = False
        self.num_vertices = 0
        self.n_edges = 0
        self.bound = Rect.empty()
        self.subregion_bound = Rect.empty()

        loops = loops or []
        if len(loops) == 1 and loops[0].is_empty():
            self._init_loop_properties()
            return
        self.loops = loops
        self._init_nested()

    # ----------------------------------------------------------- construct

    @staticmethod
    def full_polygon() -> "Polygon":
        p = Polygon()
        p.loops = [Loop.full_loop()]
        p.num_vertices = 1
        p.bound = Rect.full()
        p.subregion_bound = Rect.full()
        p._init_edges()
        return p

    @staticmethod
    def from_cell(cell: Cell) -> "Polygon":
        return Polygon([Loop.from_cell(cell)])

    def invert(self) -> None:
        """Replace by complement (Polygon.ts:193-259)."""
        if self.is_empty():
            full = Polygon.full_polygon()
            self.loops = full.loops
            self._init_loop_properties()
            return
        if self.is_full():
            self.loops = []
            self._init_loop_properties()
            return

        best = 0
        none = 10.0
        best_angle = none
        for i in range(1, self.num_loops()):
            if self.loop(i).depth != 0:
                continue
            if best_angle == none:
                best_angle = self.loop(best).turning_angle()
            angle = self.loop(i).turning_angle()
            if angle < best_angle or (
                angle == best_angle and _compare_loops(self.loop(i), self.loop(best)) < 0
            ):
                best = i
                best_angle = angle

        self.loop(best).invert()
        new_loops: list[Loop] = []
        last_best = self.last_descendant(best)
        new_loops.append(self.loop(best))
        for i in range(len(self.loops)):
            if i < best or i > last_best:
                self.loop(i).depth += 1
                new_loops.append(self.loop(i))
        for i in range(len(self.loops)):
            if best < i <= last_best:
                self.loop(i).depth -= 1
                new_loops.append(self.loop(i))
        self.loops = new_loops
        self._init_loop_properties()

    def _init_nested(self) -> None:
        """Shells/holes hierarchy via LoopMap (Polygon.ts:293-312,976-1016)."""
        if len(self.loops) == 1:
            self._init_one_loop()
            return
        lm = _LoopMap()
        for l in self.loops:
            lm.insert_loop(l, None)
        self.loops = []
        # Pre-order traversal (Polygon.ts:318-336).
        stack: list[Loop | None] = [None]
        depth = -1
        while stack:
            loop = stack.pop()
            if loop is not None:
                depth = loop.depth
                self.loops.append(loop)
            children = lm.get_children(loop)
            for child in reversed(children):
                child.depth = depth + 1
                stack.append(child)
        self._init_loop_properties()

    def _init_one_loop(self) -> None:
        self.has_holes = False
        self.num_vertices = len(self.loops[0].vertices)
        self.bound = self.loops[0].rect_bound()
        self.subregion_bound = RectBounder.expand_for_subregions(self.bound)
        self.loops[0].depth = 0
        self._init_edges()

    def _init_loop_properties(self) -> None:
        self.num_vertices = 0
        self.bound = Rect.empty()
        self.has_holes = False
        for l in self.loops:
            if l.is_hole():
                self.has_holes = True
            else:
                self.bound = self.bound.union(l.rect_bound())
            self.num_vertices += l.num_vertices()
        self.subregion_bound = RectBounder.expand_for_subregions(self.bound)
        self._init_edges()

    def _init_edges(self) -> None:
        self.n_edges = 0
        if self.is_full():
            return
        for l in self.loops:
            self.n_edges += len(l.vertices)

    # -------------------------------------------------------------- access

    def is_empty(self) -> bool:
        return len(self.loops) == 0

    def is_full(self) -> bool:
        return len(self.loops) == 1 and self.loops[0].is_full()

    def num_loops(self) -> int:
        return len(self.loops)

    def loop(self, k: int) -> Loop:
        return self.loops[k]

    def parent(self, k: int) -> tuple[int, bool]:
        depth = self.loops[k].depth if k < len(self.loops) else 0
        if depth == 0:
            return -1, False
        k -= 1
        while k >= 0 and self.loops[k].depth >= depth:
            k -= 1
        return k, True

    def last_descendant(self, k: int) -> int:
        if k < 0:
            return len(self.loops) - 1
        depth = self.loops[k].depth if k < len(self.loops) else 0
        k += 1
        while k < len(self.loops) and self.loops[k].depth > depth:
            k += 1
        return k - 1

    # -------------------------------------------------------------- region

    def cap_bound(self):
        return self.bound.cap_bound()

    def rect_bound(self) -> Rect:
        return self.bound

    def cell_union_bound(self) -> list[int]:
        return self.cap_bound().cell_union_bound()

    def contains_point(self, point: Point) -> bool:
        """XOR of loop winding parities (Polygon.ts:539-559 brute path)."""
        if not self.bound.is_empty() and not self.bound.contains_point(point):
            return False
        inside = False
        for l in self.loops:
            inside = inside != l.brute_force_contains_point(point)
        return inside

    def _boundary_intersects_cell(self, cell: Cell) -> bool:
        return any(l._boundary_intersects_cell(cell) for l in self.loops)

    def contains_cell(self, cell: Cell) -> bool:
        if not self.subregion_bound.contains(cell.rect_bound()):
            return False
        if self._boundary_intersects_cell(cell):
            return False
        return self.contains_point(cell.center())

    def intersects_cell(self, cell: Cell) -> bool:
        if not self.bound.intersects(cell.rect_bound()):
            return False
        if self.is_full():
            return True
        if self._boundary_intersects_cell(cell):
            return True
        return self.contains_point(cell.center())

    # -------------------------------------------------- polygon relations

    def contains(self, o: "Polygon") -> bool:
        """(Polygon.ts:761-797)."""
        if len(self.loops) == 1 and len(o.loops) == 1:
            return self.loops[0].contains(o.loops[0])
        if not self.subregion_bound.contains(o.bound):
            if not self.bound.lng.union(o.bound.lng).is_full():
                return False
        if not self.has_holes and not o.has_holes:
            return all(self.any_loop_contains(l) for l in o.loops)
        return self.contains_boundary(o) and o.excludes_non_crossing_complement_shells(self)

    def intersects(self, o: "Polygon") -> bool:
        """(Polygon.ts:803-832)."""
        if len(self.loops) == 1 and len(o.loops) == 1:
            return self.loops[0].intersects(o.loops[0])
        if not self.bound.intersects(o.bound):
            return False
        if not self.has_holes and not o.has_holes:
            return any(self.any_loop_intersects(l) for l in o.loops)
        return not self.excludes_boundary(o) or not o.excludes_non_crossing_shells(self)

    def compare_boundary(self, o: Loop) -> int:
        result = -1
        for l in self.loops:
            if result == 0:
                break
            result *= -_loop_compare_boundary(l, o)
        return result

    def contains_boundary(self, o: "Polygon") -> bool:
        return all(self.compare_boundary(l) > 0 for l in o.loops)

    def excludes_boundary(self, o: "Polygon") -> bool:
        return all(self.compare_boundary(l) < 0 for l in o.loops)

    def contains_non_crossing_boundary(self, o: Loop, reverse: bool) -> bool:
        inside = False
        for l in self.loops:
            inside = inside != _loop_contains_non_crossing_boundary(l, o, reverse)
        return inside

    def excludes_non_crossing_shells(self, o: "Polygon") -> bool:
        for l in o.loops:
            if l.is_hole():
                continue
            if self.contains_non_crossing_boundary(l, False):
                return False
        return True

    def excludes_non_crossing_complement_shells(self, o: "Polygon") -> bool:
        if o.is_empty():
            return not self.is_full()
        if o.is_full():
            return True
        for j, l in enumerate(o.loops):
            if j > 0 and not l.is_hole():
                continue
            if self.contains_non_crossing_boundary(l, j == 0):
                return False
        return True

    def any_loop_contains(self, o: Loop) -> bool:
        return any(l.contains(o) for l in self.loops)

    def any_loop_intersects(self, o: Loop) -> bool:
        return any(l.intersects(o) for l in self.loops)

    # ------------------------------------------------------------- measures

    def area(self) -> float:
        return sum(l.sign() * l.area() for l in self.loops)

    def centroid(self) -> Point:
        u = Point(0.0, 0.0, 0.0)
        for l in self.loops:
            v = l.centroid()
            u = u.sub(v) if l.sign() < 0 else u.add(v)
        return u


def _compare_loops(a: Loop, b: Loop) -> int:
    """Total order on loops for deterministic invert (Polygon.ts:266-279)."""
    if a.num_vertices() != b.num_vertices():
        return a.num_vertices() - b.num_vertices()
    ai, a_dir = a.canonical_first_vertex()
    bi, b_dir = b.canonical_first_vertex()
    if a_dir != b_dir:
        return a_dir - b_dir
    for _ in range(a.num_vertices() - 1, -1, -1):
        c = a.vertex(ai).cmp(b.vertex(bi))
        if c != 0:
            return c
        ai += a_dir
        bi += b_dir
    return 0


def _loop_compare_boundary(l: Loop, o: Loop) -> int:
    """Loop.compareBoundary (Loop.ts:281-293) with the
    CompareBoundaryRelation wedge state (Loop.ts:832-859): +1 if l
    contains o's boundary, -1 if it excludes it, 0 if they cross."""
    if not l.bound.intersects(o.bound):
        return -1
    if l.is_full():
        return 1
    if o.is_full():
        return -1

    reverse = o.is_hole()
    state = {"contains_edge": False, "excludes_edge": False}

    def wedges_cross(a0, ab1, a2, _b0, b2):
        if wedge_contains_semiwedge(a0, ab1, a2, b2, reverse):
            state["contains_edge"] = True
        else:
            state["excludes_edge"] = True
        return state["contains_edge"] and state["excludes_edge"]

    crossed, found_shared = l._crossing_relation(o, wedges_cross)
    if crossed:
        return 0
    if found_shared:
        return 1 if state["contains_edge"] else -1
    return 1 if l.contains_point(o.vertex(0)) else -1


def _loop_contains_non_crossing_boundary(l: Loop, other: Loop, reverse_other: bool) -> bool:
    """Loop.containsNonCrossingBoundary (Loop.ts:686-699)."""
    if not l.bound.intersects(other.bound):
        return False
    if l.is_full():
        return True
    if other.is_full():
        return False
    m, ok = l.find_vertex(other.vertex(0))
    if not ok:
        return l.contains_point(other.vertex(0))
    return wedge_contains_semiwedge(
        l.vertex(m - 1), l.vertex(m), l.vertex(m + 1), other.vertex(1), reverse_other
    )


class _LoopMap:
    """Loop -> immediate children mapping (Polygon.ts:976-1016)."""

    def __init__(self):
        self._map: dict[int, list[Loop]] = {}
        self._none_key: list[Loop] = []

    def get_children(self, loop: Loop | None) -> list[Loop]:
        if loop is None:
            return self._none_key
        return self._map.get(id(loop), [])

    def _set_children(self, loop: Loop | None, children: list[Loop]) -> None:
        if loop is None:
            self._none_key = children
        else:
            self._map[id(loop)] = children

    def insert_loop(self, new_loop: Loop, parent: Loop | None) -> None:
        children: list[Loop] = []
        done = False
        while not done:
            children = self.get_children(parent)
            done = True
            for child in children:
                if child.contains_nested(new_loop):
                    parent = child
                    done = False
                    break
        new_children = self.get_children(new_loop)
        i = 0
        children = list(children)
        while i < len(children):
            child = children[i]
            if new_loop.contains_nested(child):
                new_children = new_children + [child]
                children.pop(i)
            else:
                i += 1
        self._set_children(new_loop, new_children)
        self._set_children(parent, children + [new_loop])
