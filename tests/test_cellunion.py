"""Ported CellUnion tests (/root/reference/s2/CellUnion_test.ts)."""

from __future__ import annotations

import numpy as np

from s2js_spark.geometry import cellid_scalar as cs
from s2js_spark.geometry.cell import Cell
from s2js_spark.geometry.cellunion import CellUnion

MAX_LEVEL = 30
RNG = np.random.RandomState(31)


def leaf_of(x, y, z) -> int:
    from s2js_spark.geometry.point import Point

    p = Point.from_coords(x, y, z)
    return cs.from_point(p.x, p.y, p.z)


def test_validity():
    # CellUnion_test.ts:17-40
    cid = leaf_of(1, 0, 0)
    assert not CellUnion([cid, cid]).is_valid()

    p10 = cs.parent(cid, 10)
    assert not CellUnion([p10, cs.prev_cell(p10)]).is_valid()

    children = cs.children(p10)
    cu = CellUnion(children)
    assert cu.is_valid()
    assert not cu.is_normalized()

    assert not CellUnion([0]).is_valid()


def test_are_siblings():
    # CellUnion_test.ts:42-47
    p10 = cs.parent(leaf_of(1, 0, 0), 10)
    ch = cs.children(p10)
    assert CellUnion.are_siblings(ch[0], ch[1], ch[2], ch[3])
    assert not CellUnion.are_siblings(p10, ch[1], ch[2], ch[3])


def test_normalize_golden():
    # CellUnion_test.ts:49-66 (Pittsburg cells)
    cu = CellUnion(
        [
            0x80855C0000000000,  # A
            0x80855D0000000000,  # B, child of A
            0x8085634000000000,  # first child of X
            0x808563C000000000,  # second child of X
            0x80855DC000000000,  # child of B
            0x808562C000000000,  # third child of X
            0x8085624000000000,  # fourth child of X
            0x80855D0000000000,  # B again
        ]
    )
    cu.normalize()
    assert list(cu) == [0x80855C0000000000, 0x8085630000000000]


def test_basic():
    # CellUnion_test.ts:68-89
    empty = CellUnion()
    empty.normalize()
    assert len(empty) == 0

    face1 = cs.from_face(1)
    u1 = CellUnion([face1])
    u1.normalize()
    assert list(u1) == [face1]
    assert u1.contains_cell(Cell.from_cellid(face1))

    face2 = cs.from_face(2)
    u2 = CellUnion([face2])
    u2.normalize()
    assert list(u2) == [face2]
    assert not u1.contains_cell(Cell.from_cellid(face2))


def test_membership_tables():
    # CellUnion_test.ts:91-157
    a = 0x89C25C0000000000
    cases = [
        (
            [a],
            [cs.child_begin(a), cs.child_begin_at_level(a, 28)],
            [cs.immediate_parent(a), cs.from_face(cs.face(a))],
            [cs.next_cell(a), cs.child_begin_at_level(cs.next_cell(a), 28),
             0x89C2700000000000, 0x89E9000000000000, 0x89C1000000000000],
        ),
        (
            [0x89C25B0000000000, 0x89C2590000000000, 0x89C2F70000000000,
             0x89C2F50000000000, 0x8085870000000000, 0x8085810000000000,
             0x808F7D0000000000, 0x808F7F0000000000],
            [0x808F7EF300000000, 0x808F7E5CF0000000, 0x808587F000000000,
             0x89C25AC000000000, 0x89C259A400000000, 0x89C258FA10000000,
             0x89C258F174007000],
            [0x808C000000000000, 0x89C4000000000000],
            [0x89C15A4FCB1BB000, 0x89C15A4E4AA95000, 0x8094000000000000,
             0x8096F10000000000, 0x87C0000000000000],
        ),
    ]
    for cells, contained, overlaps, disjoint in cases:
        union = CellUnion(cells)
        union.normalize()
        for cid in cells + contained:
            assert union.intersects_cellid(cid)
            assert union.contains_cellid(cid)
        for cid in overlaps:
            assert union.intersects_cellid(cid)
            assert not union.contains_cellid(cid)
        for cid in disjoint:
            assert not union.intersects_cellid(cid)
            assert not union.contains_cellid(cid)


def test_cap_bound_precision():
    # CellUnion_test.ts:159-186
    cases = [
        (CellUnion([2810246167479189504, 12465963768561532928]), 12465963768561532928),
        (
            CellUnion([2990460521318187008, 2992360477410983936, 4251398048237748224,
                       9511602413006487552, 13042424520864956416]),
            4251398048237748224,
        ),
        (CellUnion([11619287038615879680, 11889503016258109440]), 11889503016258109440),
    ]
    for union, cid in cases:
        cb = union.cap_bound()
        assert cb.contains_cell(Cell.from_cellid(cid))


def _one_in(k: int) -> bool:
    return int(RNG.randint(0, k)) == 0


def _add_cells(cid: int, selected: bool, inp: list, expected: list) -> None:
    """Port of the recursive test-case generator
    (CellUnion_test.ts:584-632)."""
    if cid == 0:
        for face in range(6):
            _add_cells(cs.from_face(face), False, inp, expected)
        return
    if cs.is_leaf(cid):
        assert selected
        inp.append(cid)
        return
    if not selected and _one_in(MAX_LEVEL - cs.level(cid)):
        expected.append(cid)
        selected = True
    added = False
    if selected and not _one_in(6):
        inp.append(cid)
        added = True
    num_children = 0
    for child in cs.children(cid):
        # Selected: recurse on ~1/3 child on average; else on ~1 child.
        recurse = _one_in(12) if selected else _one_in(4)
        if recurse and num_children < 3:
            _add_cells(child, selected, inp, expected)
            num_children += 1
        # Ensure all 4 children are covered when the cell was selected
        # but not added itself.
        if selected and not added:
            _add_cells(child, selected, inp, expected)


def test_normalize_pseudo_random():
    # CellUnion_test.ts:188-259 (reduced iterations; same invariants)
    for _ in range(60):
        inp: list[int] = []
        expected: list[int] = []
        _add_cells(0, False, inp, expected)

        cu = CellUnion(inp)
        cu.normalize()

        cb = cu.cap_bound()
        for ci in cu:
            assert cb.contains_cell(Cell.from_cellid(ci))

        for j in inp:
            assert cu.contains_cellid(j)
            assert cu.intersects_cellid(j)
            if not cs.is_face(j):
                assert cu.intersects_cellid(cs.immediate_parent(j))
                if cs.level(j) > 1:
                    assert cu.intersects_cellid(cs.immediate_parent(cs.immediate_parent(j)))
                    assert cu.intersects_cellid(cs.parent(j, 0))
            if not cs.is_leaf(j):
                assert cu.contains_cellid(cs.child_begin(j))
                assert cu.contains_cellid(cs.prev_cell(cs.child_end(j)))
                assert cu.contains_cellid(cs.child_begin_at_level(j, MAX_LEVEL))


def test_set_operations_properties():
    """Union/difference membership properties over random unions."""
    for _ in range(20):
        a_in: list[int] = []
        b_in: list[int] = []
        _add_cells(0, False, a_in, [])
        _add_cells(0, False, b_in, [])
        a = CellUnion(a_in)
        a.normalize()
        b = CellUnion(b_in)
        b.normalize()
        u = CellUnion.from_union(a, b)
        d = CellUnion.from_difference(a, b)
        assert u.is_normalized()
        # sample random leaves and verify set semantics
        for _ in range(50):
            f = int(RNG.randint(0, 6))
            pos = int(RNG.randint(0, 1 << 61, dtype=np.int64))
            leaf = cs.from_face_pos_level(f, pos, MAX_LEVEL)
            in_a = a.contains_cellid(leaf)
            in_b = b.contains_cellid(leaf)
            assert u.contains_cellid(leaf) == (in_a or in_b)
            assert d.contains_cellid(leaf) == (in_a and not in_b)


def test_denormalize():
    # CellUnion_test.ts:264-327
    f = cs.from_face
    cbal = cs.child_begin_at_level
    cases = [
        (10, 1,
         [cbal(f(2), 11), cbal(f(2), 11), cbal(f(3), 14), cbal(f(0), 10)],
         [cbal(f(2), 11), cbal(f(2), 11), cbal(f(3), 14), cbal(f(0), 10)]),
        (10, 2,
         [cbal(f(2), 12), cbal(f(2), 12), cbal(f(3), 14), cbal(f(0), 10)],
         [cbal(f(2), 12), cbal(f(2), 12), cbal(f(3), 14), cbal(f(0), 10)]),
        (10, 3,
         [cbal(f(2), 12), cbal(f(5), 11)],
         list(cs.children(cbal(f(2), 12)))
         + [g for c in cs.children(cbal(f(5), 11)) for g in cs.children(c)]),
        (10, 3,
         [cbal(f(2), 9)],
         list(cs.children(cbal(f(2), 9)))),
    ]
    for min_l, l_mod, cells, exp in cases:
        cu = CellUnion(cells)
        cu.denormalize(min_l, l_mod)
        assert list(cu) == exp


def test_expand_at_level_covers_rim():
    # expandAtLevel semantics (CellUnion.ts:393-413): every edge/vertex
    # neighbor of the original cells at the given level is covered.
    cid = cs.parent(leaf_of(0.2, 0.7, 0.66), 12)
    cu = CellUnion([cid])
    cu.expand_at_level(12)
    assert cu.contains_cellid(cid)
    for nbr in cs.all_neighbors(cid, 12):
        assert cu.contains_cellid(nbr)


def test_expand_by_radius():
    from s2js_spark.geometry.metric import MIN_WIDTH_METRIC

    cid = cs.parent(leaf_of(1, 1, 1), 20)
    cu = CellUnion([cid])
    radius = MIN_WIDTH_METRIC.value(22)
    cu.expand_by_radius(radius, 10)
    assert cu.contains_cellid(cid)
    assert len(cu) > 1
