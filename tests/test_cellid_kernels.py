"""Ported golden/property tests for CellID arithmetic.

Vectors ported from /root/reference/s2/cellid_test.ts (themselves
ported from Go s2). Each is asserted against the scalar port
(``geometry.cellid_scalar``) and, where the engine has one, against
the registered SQL function (``spark.functions.register_all``) or the
SQL encode (``sqlkernels.with_s2_cellid``). Ids must match exactly as
integers.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from s2js_spark.geometry import cellid_scalar as c

MAX_LEVEL = c.MAX_LEVEL
MAX_SIZE = c.MAX_SIZE


@pytest.fixture(scope="module")
def spark():
    from s2js_spark.spark.functions import register_all
    from s2js_spark.spark.session import get_session

    s = get_session("local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    register_all(s)
    yield s


def lit(ci: int) -> str:
    """A cell id (python uint64) as a signed SQL bigint literal."""
    return f"{ci - ((ci >> 63) << 64)}L"


def sql(spark, *exprs: str) -> list:
    """Evaluate SQL expressions in one row; bigints come back as uint64."""
    row = spark.sql("SELECT " + ", ".join(exprs)).first()
    return [v & c.MASK64 if isinstance(v, int) and not isinstance(v, bool) else v for v in row]


def test_from_face():
    # cellid_test.ts:17-23
    for f in range(6):
        assert c.from_face_pos_level(f, 0, 0) == c.from_face(f)


def test_sentinel_range(spark):
    # cellid_test.ts:25-29
    s = c.SENTINEL
    assert c.range_min(s) == s
    assert c.range_max(s) == s
    assert sql(spark, f"s2_range_min({lit(s)})", f"s2_range_max({lit(s)})") == [s, s]


def test_parent_child_relationships(spark):
    # cellid_test.ts:31-66
    ci = c.from_face_pos_level(3, 0x12345678, MAX_LEVEL - 4)
    assert c.valid(ci)
    assert c.face(ci) == 3
    assert c.pos(ci) == 0x12345700
    assert c.level(ci) == 26
    assert not c.is_leaf(ci)

    assert c.pos(c.child_begin_at_level(ci, c.level(ci) + 2)) == 0x12345610
    assert c.pos(c.child_begin(ci)) == 0x12345640
    assert c.pos(c.children(ci)[0]) == 0x12345640
    assert c.pos(c.immediate_parent(ci)) == 0x12345400
    assert c.pos(c.parent(ci, c.level(ci) - 2)) == 0x12345000

    assert c.child_begin(ci) < ci
    assert c.child_end(ci) > ci
    child = c.child_begin(ci)
    for _ in range(4):
        child = c.next_cell(child)
    assert c.child_end(ci) == child

    assert c.range_min(ci) == c.child_begin_at_level(ci, MAX_LEVEL)
    assert c.next_cell(c.range_max(ci)) == c.child_end_at_level(ci, MAX_LEVEL)

    lvl, parent, rmin, rmax = sql(
        spark,
        f"s2_level({lit(ci)})",
        f"s2_parent({lit(ci)}, 24)",
        f"s2_range_min({lit(ci)})",
        f"s2_range_max({lit(ci)})",
    )
    assert lvl == 26
    assert c.pos(parent) == 0x12345000
    assert rmin == c.child_begin_at_level(ci, MAX_LEVEL)
    assert c.next_cell(rmax) == c.child_end_at_level(ci, MAX_LEVEL)


def test_containment(spark):
    # cellid_test.ts:68-92 (Pittsburgh cells)
    a = 0x80855C0000000000
    b = 0x80855D0000000000
    d2 = 0x80855DC000000000
    d = 0x8085630000000000
    cases = [
        (a, a, True, True, True),
        (a, b, True, False, True),
        (a, d2, True, False, True),
        (a, d, False, False, False),
        (b, b, True, True, True),
        (b, d2, True, False, True),
        (b, d, False, False, False),
        (d2, d2, True, True, True),
        (d2, d, False, False, False),
        (d, d, True, True, True),
    ]
    got = sql(
        spark,
        *(
            f"s2_contains({lit(x)}, {lit(y)}), s2_contains({lit(y)}, {lit(x)})"
            for x, y, *_ in cases
        ),
    )
    for n, (x, y, x_contains_y, y_contains_x, x_intersects_y) in enumerate(cases):
        assert c.contains(x, y) == x_contains_y
        assert c.contains(y, x) == y_contains_x
        assert c.intersects(x, y) == x_intersects_y
        assert got[2 * n : 2 * n + 2] == [x_contains_y, y_contains_x]


def test_latlng_golden_vectors(spark):
    # cellid_test.ts:119-143 — exact id round-trip + center within 1e-9 deg
    from s2js_spark.spark import sqlkernels as sq

    cases = [
        (0x47A1CBD595522B39, 49.703498679, 11.770681595),
        (0x46525318B63BE0F9, 55.685376759, 12.588490937),
        (0x52B30B71698E729D, 45.486546517, -93.449700022),
        (0x46ED8886CFADDA85, 58.299984854, 23.049300056),
        (0x3663F18A24CBE857, 34.36443904, 108.330699969),
        (0x10A06C0A948CF5D, -30.694551352, -30.048758753),
        (0x2B2BFD076787C5DF, -25.285264027, 133.823116966),
        (0xB09DFF882A7809E1, -75.000000031, 0.000000133),
        (0x94DAA3D000000001, -24.694439215, -47.537363213),
        (0x87A1000000000001, 38.899730392, -99.901813021),
        (0x4FC76D5000000001, 81.647200334, -55.63171294),
        (0x3B00955555555555, 10.050986518, 78.29317061),
        (0x1DCC469991555555, -34.055420593, 18.551140038),
        (0xB112966AAAAAAAAB, -69.219262171, 49.670072392),
    ]
    ids = [x[0] for x in cases]
    assert [c.from_latlng_degrees(la, ln) for _, la, ln in cases] == ids

    df = spark.createDataFrame(
        [(n, la, ln) for n, (_, la, ln) in enumerate(cases)], "n int, lat double, lng double"
    )
    got = sq.with_s2_cellid(df).orderBy("n").collect()
    assert [r.cellid & c.MASK64 for r in got] == ids

    # center within ~0.1mm using the reference LatLng.distance formula
    clat, clng = np.array([c.to_latlng(i) for i in ids]).T
    rlat = np.deg2rad([x[1] for x in cases])
    rlng = np.deg2rad([x[2] for x in cases])
    dlat = np.sin(0.5 * (clat - rlat))
    dlng = np.sin(0.5 * (clng - rlng))
    x2 = dlat * dlat + dlng * dlng * np.cos(rlat) * np.cos(clat)
    dist = 2 * np.arctan2(np.sqrt(x2), np.sqrt(np.maximum(0, 1 - x2)))
    assert np.all(dist <= 1e-9 * math.pi / 180)


def test_edge_neighbors():
    # cellid_test.ts:145-170
    faces = [5, 3, 2, 0]
    nbrs = c.edge_neighbors(c.parent(c.from_face_ij(1, 0, 0), 0))
    for nbr, f in zip(nbrs, faces):
        assert c.is_face(nbr)
        assert c.face(nbr) == f

    max_ij = MAX_SIZE - 1
    for lvl in range(1, MAX_LEVEL + 1):
        cid = c.parent(c.from_face_ij(1, 0, 0), lvl)
        size = c.size_ij(lvl)
        want = [
            c.parent(c.from_face_ij(5, max_ij, max_ij), lvl),
            c.parent(c.from_face_ij(1, size, 0), lvl),
            c.parent(c.from_face_ij(1, 0, size), lvl),
            c.parent(c.from_face_ij(0, max_ij, 0), lvl),
        ]
        assert c.edge_neighbors(cid) == want, f"level {lvl}"


def test_vertex_neighbors():
    # cellid_test.ts:172-195
    cid = c.from_point(0.0, 0.0, 1.0)
    got = sorted(c.vertex_neighbors(cid, 5))
    for n, nbr in enumerate(got):
        i = 1 << 29
        j = 1 << 29
        if n < 2:
            i -= 1
        if n in (0, 3):
            j -= 1
        assert nbr == c.parent(c.from_face_ij(2, i, j), 5)

    cid = c.from_face_pos_level(0, 0, MAX_LEVEL)
    got = sorted(c.vertex_neighbors(cid, 0))
    assert len(got) == 3
    assert got[0] == c.from_face(0)
    assert got[1] == c.from_face(4)


def test_tokens_nominal(spark):
    # cellid_test.ts:230-271
    cases = [
        ("1", 0x1000000000000000), ("3", 0x3000000000000000),
        ("14", 0x1400000000000000), ("41", 0x4100000000000000),
        ("094", 0x0940000000000000), ("537", 0x5370000000000000),
        ("3fec", 0x3FEC000000000000), ("72f3", 0x72F3000000000000),
        ("52b8c", 0x52B8C00000000000), ("990ed", 0x990ED00000000000),
        ("4476dc", 0x4476DC0000000000), ("2a724f", 0x2A724F0000000000),
        ("7d4afc4", 0x7D4AFC4000000000), ("b675785", 0xB675785000000000),
        ("40cd6124", 0x40CD612400000000), ("3ba32f81", 0x3BA32F8100000000),
        ("08f569b5c", 0x08F569B5C0000000), ("385327157", 0x3853271570000000),
        ("166c4d1954", 0x166C4D1954000000), ("96f48d8c39", 0x96F48D8C39000000),
        ("0bca3c7f74c", 0x0BCA3C7F74C00000), ("1ae3619d12f", 0x1AE3619D12F00000),
        ("07a77802a3fc", 0x07A77802A3FC0000), ("4e7887ec1801", 0x4E7887EC18010000),
        ("4adad7ae74124", 0x4ADAD7AE74124000), ("90aba04afe0c5", 0x90ABA04AFE0C5000),
        ("8ffc3f02af305c", 0x8FFC3F02AF305C00), ("6fa47550938183", 0x6FA4755093818300),
        ("aa80a565df5e7fc", 0xAA80A565DF5E7FC0), ("01614b5e968e121", 0x01614B5E968E1210),
        ("aa05238e7bd3ee7c", 0xAA05238E7BD3EE7C), ("48a23db9c2963e5b", 0x48A23DB9C2963E5B),
    ]
    assert [c.from_token(t) for t, _ in cases] == [v for _, v in cases]
    assert [c.to_token(v) for _, v in cases] == [t for t, _ in cases]
    assert sql(spark, *(f"s2_token({lit(v)})" for _, v in cases)) == [t for t, _ in cases]


def test_token_error_cases(spark):
    # cellid_test.ts:273-294
    assert c.to_token(0) == "X"
    assert sql(spark, "s2_token(0L)") == ["X"]
    assert c.from_token("X") == 0
    sentinel_tok = c.to_token(c.SENTINEL)
    assert c.from_token(sentinel_tok) == c.SENTINEL
    face7 = c.to_token(c.from_face(7))
    assert c.from_token(face7) == c.from_face(7)
    for bad in ["876b e99", "876bee99\n", "876[ee99", " 876bee99"]:
        assert c.from_token(bad) == 0, bad


def test_ij_level_to_bound_uv():
    # cellid_test.ts:296-389
    max_ij = (1 << MAX_LEVEL) - 1
    cases = [
        (-1, -1, 0, (-5, -1, -5, -1)),
        (-1 * max_ij, -1 * max_ij, 0, (-5, -1, -5, -1)),
        (-1, -1, MAX_LEVEL, (-1.0000000024835267, -1, -1.0000000024835267, -1)),
        (0, 0, MAX_LEVEL + 1, (-1, -1, -1, -1)),
        (0, 0, 0, (-1, 1, -1, 1)),
        (0, 0, MAX_LEVEL // 2, (-1, -0.999918621033430099, -1, -0.999918621033430099)),
        (0, 0, MAX_LEVEL, (-1, -0.99999999751647306, -1, -0.99999999751647306)),
        (1, 1, 0, (-1, 1, -1, 1)),
        (1, 1, MAX_LEVEL // 2, (-1, -0.999918621033430099, -1, -0.999918621033430099)),
        (1, 1, MAX_LEVEL,
         (-0.9999999975164731, -0.9999999950329462, -0.9999999975164731, -0.9999999950329462)),
        (max_ij // 2, max_ij // 2, 0, (-1, 1, -1, 1)),
        (max_ij // 2, max_ij // 2, MAX_LEVEL // 2,
         (-0.000040691345930099, 0, -0.000040691345930099, 0)),
        (max_ij // 2, max_ij // 2, MAX_LEVEL,
         (-0.000000001241763433, 0, -0.000000001241763433, 0)),
        (max_ij, max_ij, 0, (-1, 1, -1, 1)),
        (max_ij, max_ij, MAX_LEVEL // 2, (0.999918621033430099, 1, 0.999918621033430099, 1)),
        (max_ij, max_ij, MAX_LEVEL, (0.99999999751647306, 1, 0.99999999751647306, 1)),
    ]
    for i, j, lvl, want in cases:
        for got, w in zip(c.ij_level_to_bound_uv(i, j, lvl), want):
            assert abs(got - w) <= 1e-8, (i, j, lvl)


def test_common_ancestor_level():
    # cellid_test.ts:391-417
    f0 = c.from_face(0)
    f5 = c.from_face(5)
    cases = [
        (f0, f0, 0, True),
        (c.child_begin_at_level(f0, 30), c.child_begin_at_level(f0, 30), 30, True),
        (c.child_begin_at_level(f0, 30), f0, 0, True),
        (f5, c.prev_cell(c.child_end_at_level(f5, 30)), 0, True),
        (f0, f5, 0, False),
        (c.child_begin_at_level(c.from_face(2), 30),
         c.child_begin_at_level(c.from_face(3), 20), 0, False),
        (c.child_begin_at_level(c.next_cell(c.child_begin_at_level(f5, 9)), 15),
         c.child_begin_at_level(c.child_begin_at_level(f5, 9), 20), 8, True),
        (c.child_begin_at_level(c.child_begin_at_level(f0, 2), 30),
         c.child_begin_at_level(c.next_cell(c.child_begin_at_level(f0, 2)), 5), 1, True),
    ]
    for ci, other, want, want_ok in cases:
        assert c.common_ancestor_level(ci, other) == (want, want_ok)


def test_distance_from_begin():
    # cellid_test.ts:419-458
    assert c.distance_from_begin(c.child_end_at_level(c.from_face(5), 0)) == 6
    assert c.distance_from_begin(c.child_end_at_level(c.from_face(5), MAX_LEVEL)) == 6 * (
        1 << (2 * MAX_LEVEL)
    )
    assert c.distance_from_begin(c.child_begin_at_level(c.from_face(0), 0)) == 0
    assert c.distance_from_begin(c.child_begin_at_level(c.from_face(0), MAX_LEVEL)) == 0


def test_face_si_ti():
    # cellid_test.ts:593-604
    cid = c.from_face_pos_level(3, 0x12345678, MAX_LEVEL)
    for lvl in range(MAX_LEVEL + 1):
        l = MAX_LEVEL - lvl
        want = 1 << lvl
        mask = (1 << (lvl + 1)) - 1
        _, si, ti = c.face_si_ti(c.parent(cid, l))
        assert si & mask == want
        assert ti & mask == want


def test_to_string_from_string():
    # cellid_test.ts:94-117
    assert c.to_string(0xBB04000000000000) == "5/31200"
    assert c.to_string((1 << 64) - 1) == "Invalid: ffffffffffffffff"
    assert c.from_string("3/") == c.from_face(3)
    assert c.from_string("0/21") == c.children(c.children(c.from_face(0))[2])[1]
    assert c.from_string("4/000000000000000000000000000000") == c.range_min(c.from_face(4))
    for bad in ["4/0000000000000000000000000000000", "", "7/", " /", "3:0", "3/ 12", "3/1241"]:
        assert c.from_string(bad) == 0


def test_scalar_vs_kernel_equivalence(spark):
    """Property test: scalar ops == the engine's SQL kernels on random
    cells at every level, including face 4/5 cells with the sign bit
    set (SURVEY §1.2 risk), and decode -> SQL Hilbert encode."""
    import pandas as pd
    from pyspark.sql import functions as F

    from s2js_spark.spark import sqlkernels as sq

    rng = np.random.RandomState(42)
    faces = rng.randint(0, 6, 500)
    poss = rng.randint(0, 1 << 61, 500, dtype=np.int64)
    lvls = rng.randint(0, 31, 500)
    ids = [c.from_face_pos_level(int(f), int(p), int(l)) for f, p, l in zip(faces, poss, lvls)]
    fij = [c.face_ij_orientation(i) for i in ids]
    pdf = pd.DataFrame({
        "n": range(len(ids)),
        "cid": np.array(ids, dtype=np.uint64).view(np.int64),
        "f": [x[0] for x in fij], "i": [x[1] for x in fij], "j": [x[2] for x in fij],
    })
    df = sq.with_s2_cellid_from_face_ij(spark.createDataFrame(pdf), "f", "i", "j", "enc")
    cols = [
        sq.s2_level_sql("cid").alias("level"),
        F.expr("s2_range_min(cid)").alias("rmin"),
        F.expr("s2_range_max(cid)").alias("rmax"),
    ] + [sq.s2_parent_sql("cid", lv).alias(f"p{lv}") for lv in range(31)]
    got = df.select("n", "enc", *cols).orderBy("n").collect()
    m = c.MASK64
    for r, i, lvl, (f, ii, jj, _) in zip(got, ids, lvls, fij):
        lvl = int(lvl)
        assert r.level == c.level(i) == lvl
        assert r.rmin & m == c.range_min(i)
        assert r.rmax & m == c.range_max(i)
        assert r[f"p{lvl // 2}"] & m == c.parent(i, lvl // 2)
        assert r.enc & m == c.from_face_ij(f, ii, jj)
        assert c.parent(c.from_face_ij(f, ii, jj), lvl) == i


def test_continuity():
    # cellid_test.ts:606-633 (walk at level 8)
    max_walk_level = 8
    cell_size = 1.0 / (1 << max_walk_level)
    # MaxWidthMetric deriv = 1.704897179199218452 (Metric_constants)
    max_dist = 1.704897179199218452 / (1 << max_walk_level)

    begin = c.child_begin_at_level(c.from_face(0), max_walk_level)
    n_cells = 6 * (1 << (2 * max_walk_level))
    step = 2 * c.lsb_for_level(max_walk_level)
    pts = np.array([c.raw_point(begin + k * step) for k in range(n_cells)]).T

    nxt = np.roll(pts, -1, axis=1)
    # angle between consecutive raw points
    cross = np.cross(pts.T, nxt.T)
    dot = (pts * nxt).sum(axis=0)
    ang = np.arctan2(np.linalg.norm(cross, axis=1), dot)
    assert np.all(ang <= max_dist)

    # center alignment to the (s,t) grid
    face_uv = [c._xyz_to_face_uv_scalar(*p) for p in pts.T]
    s = np.array([c._uv_to_st_scalar(u) for _, u, _ in face_uv])
    t = np.array([c._uv_to_st_scalar(v) for _, _, v in face_uv])
    rs = np.abs(s / (0.5 * cell_size) - np.round(s / (0.5 * cell_size)))
    rt = np.abs(t / (0.5 * cell_size) - np.round(t / (0.5 * cell_size)))
    assert np.all(rs * 0.5 * cell_size < 1e-12)
    assert np.all(rt * 0.5 * cell_size < 1e-12)
