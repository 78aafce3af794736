"""Parity of the pure-SQL (JVM) S2 kernels vs the scalar port.

The (face,i,j) -> id Hilbert stage and all hierarchy bit-ops are exact
integer arithmetic — bitwise equality is asserted on dense random
inputs. The full (lat,lng) -> id chain shares every correctly-rounded
stage; only cos/sin can differ by 1 ulp between libms (see
sqlkernels.py docstring), which flips a leaf id only within ~2^-51 of
a cell boundary — asserted zero-mismatch on the real test corpus plus
a 200k-point deterministic sample.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from s2js_spark.geometry import cellid_scalar as cs
from s2js_spark.spark import sqlkernels as sq
from s2js_spark.spark.session import get_session

SF = "/root/testdata/sf0.001"


def as_long(ids) -> np.ndarray:
    """Scalar-port uint64 ids as the LongType bit pattern."""
    return np.array(ids, dtype=np.uint64).view(np.int64)


def encode(lat, lng) -> np.ndarray:
    return as_long([cs.from_latlng_degrees(a, b) for a, b in zip(lat, lng)])


@pytest.fixture(scope="module")
def spark():
    s = get_session("local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_hilbert_encode_exhaustive_random(spark):
    """(face,i,j) -> id bitwise equality on 50k random triples covering
    all faces and the full 30-bit i/j range (trig-free: exact)."""
    rng = np.random.default_rng(7)
    n = 50_000
    f = rng.integers(0, 6, n)
    i = rng.integers(0, 1 << 30, n)
    j = rng.integers(0, 1 << 30, n)
    # include the extreme corners on every face
    corners = np.array([0, (1 << 30) - 1], dtype=np.int64)
    for ff in range(6):
        for ci in corners:
            for cj in corners:
                f = np.append(f, ff)
                i = np.append(i, ci)
                j = np.append(j, cj)

    expected = as_long(
        [cs.from_face_ij(int(a), int(b), int(c)) for a, b, c in zip(f, i, j)]
    )

    pdf = pd.DataFrame({"f": f, "i": i, "j": j})
    df = spark.createDataFrame(pdf)
    out = sq.with_s2_cellid_from_face_ij(df, "f", "i", "j", out_col="cid")
    got = out.select("cid").toPandas()["cid"].to_numpy(np.int64)
    assert (got == expected).all()


def test_latlng_chain_parity_corpus(spark):
    """Full-chain equality on every geotag in the sf0.001 corpus."""
    from s2js_spark.spark.pages import pages
    from s2js_spark.spark.pipeline import extract_geotags

    df = extract_geotags(pages(spark, SF)).filter(F.col("lat").isNotNull())
    out = sq.with_s2_cellid(df, out_col="cid_sql").select("lat", "lng", "cid_sql")
    pdf = out.toPandas()
    expected = encode(pdf["lat"], pdf["lng"])
    assert (pdf["cid_sql"].to_numpy(np.int64) == expected).all()


def test_latlng_chain_parity_sample(spark):
    """200k deterministic pseudorandom points, global coverage."""
    rng = np.random.default_rng(1234)
    lat = np.concatenate(
        [rng.uniform(-90, 90, 100_000), np.linspace(-89.9, 89.9, 50_000)]
    )
    lng = np.concatenate(
        [rng.uniform(-180, 180, 100_000), np.linspace(-179.9, 179.9, 50_000)]
    )
    pdf = pd.DataFrame({"lat": lat, "lng": lng})
    df = spark.createDataFrame(pdf)
    out = sq.with_s2_cellid(df, out_col="cid_sql").select("lat", "lng", "cid_sql")
    res = out.toPandas()
    expected = encode(res["lat"], res["lng"])
    got = res["cid_sql"].to_numpy(np.int64)
    n_mismatch = int((got != expected).sum())
    assert n_mismatch == 0, f"{n_mismatch} / {len(got)} ids differ"


def test_null_latlng_gives_null(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"lat": [1.0, None, 3.0], "lng": [2.0, 5.0, None]})
    )
    out = sq.with_s2_cellid(df, out_col="cid").toPandas()
    assert out["cid"].isna().tolist() == [False, True, True]


def test_hierarchy_sql_columns(spark):
    """parent/level/flip/range/token SQL columns vs the scalar port."""
    from s2js_spark.spark.functions import register_all

    register_all(spark)
    rng = np.random.default_rng(99)
    lat = rng.uniform(-90, 90, 20_000)
    lng = rng.uniform(-180, 180, 20_000)
    ids = [cs.from_latlng_degrees(a, b) for a, b in zip(lat, lng)]
    pdf = pd.DataFrame({"cid": as_long(ids)})
    df = spark.createDataFrame(pdf)
    out = df.select(
        "cid",
        sq.s2_parent_sql("cid", 10).alias("p10"),
        sq.s2_parent_sql("cid", 0).alias("p0"),
        sq.s2_flip_key_sql("cid").alias("fk"),
        F.expr("s2_range_min(s2_parent(cid, 12))").alias("rmin"),
        F.expr("s2_range_max(s2_parent(cid, 12))").alias("rmax"),
        sq.s2_token_sql("cid").alias("tok"),
        sq.s2_token_sql(sq.s2_parent_sql("cid", 4)).alias("tok4"),
    ).toPandas()
    col = lambda name: out[name].to_numpy(np.int64)  # noqa: E731
    assert (col("p10") == as_long([cs.parent(i, 10) for i in ids])).all()
    assert (col("p0") == as_long([cs.parent(i, 0) for i in ids])).all()
    assert (col("fk") == as_long([i ^ (1 << 63) for i in ids])).all()
    p12 = [cs.parent(i, 12) for i in ids]
    assert (col("rmin") == as_long([cs.range_min(i) for i in p12])).all()
    assert (col("rmax") == as_long([cs.range_max(i) for i in p12])).all()
    assert out["tok"].tolist() == [cs.to_token(i) for i in ids]
    assert out["tok4"].tolist() == [cs.to_token(cs.parent(i, 4)) for i in ids]


def test_level_sql_all_levels(spark):
    leaf = cs.from_latlng_degrees(47.5, 8.5)
    all_lv = as_long([cs.parent(leaf, lv) for lv in range(31)])
    df = spark.createDataFrame(pd.DataFrame({"cid": all_lv}))
    out = df.select(sq.s2_level_sql("cid").alias("lv")).toPandas()
    assert out["lv"].tolist() == list(range(31))


def test_token_sql_zero_is_x(spark):
    df = spark.createDataFrame(pd.DataFrame({"cid": [0]}))
    out = df.select(sq.s2_token_sql("cid").alias("t")).toPandas()
    assert out["t"].tolist() == ["X"]


def test_encode_sql_text_is_pinned(spark, monkeypatch):
    """The expression list with_s2_cellid generates is byte-identical
    to the one the geotag_bulk benchmark measured: an edit to a helper
    it shares (the face projection, the st->ij clamp) must not change
    the encode plan silently."""
    import hashlib

    df = spark.createDataFrame(pd.DataFrame({"lat": [1.0], "lng": [2.0]}))
    calls = []
    cls = type(df)
    select_expr = cls.selectExpr

    def spy(self, *exprs):
        calls.append(exprs)
        return select_expr(self, *exprs)

    monkeypatch.setattr(cls, "selectExpr", spy)
    sq.with_s2_cellid(df)
    assert len(calls) == 1 and calls[0][0] == "*"
    digest = hashlib.sha256("\n".join(calls[0][1:]).encode()).hexdigest()
    assert digest == "6bdc8d467ed2ad99eb81fcdc322bda330a2bca4239fe3bbd14917d7c2257bd8b"


def test_neighborhood_matches_scalar(spark):
    """The SQL 3x3 neighbourhood is {cell} + all_neighbors(cell) of the
    scalar port, with no duplicate row, on the eight cube corners, the
    poles, +-180 and random points, at coarse to leaf levels."""
    corner = np.degrees(np.arctan(1 / np.sqrt(2)))
    pts = [(s * corner, lng) for s in (1, -1) for lng in (45.0, 135.0, -45.0, -135.0)]
    pts += [(90.0, 0.0), (-90.0, 0.0), (0.0, 180.0), (0.0, -180.0),
            (45.0, 180.0), (-45.0, -180.0), (0.0, 0.0), (0.0, 45.0)]
    rng = np.random.default_rng(5)
    pts += list(zip(rng.uniform(-90, 90, 200), rng.uniform(-180, 180, 200)))
    rows = [(n, float(la), float(ln)) for n, (la, ln) in enumerate(pts)]
    df = spark.createDataFrame(rows, "query_id long, qlat double, qlng double")
    for level in (0, 1, 2, 8, 16, 30):
        out = sq.with_s2_neighborhood(df, "qlat", "qlng", level, "_cell")
        got = [(r.query_id, r._cell & cs.MASK64) for r in out.collect()]
        assert len(got) == len(set(got)), level
        want = set()
        for n, la, ln in rows:
            cell = cs.parent(cs.from_latlng_degrees(la, ln), level)
            want |= {(n, c) for c in [cell, *cs.all_neighbors(cell, level)]}
        assert set(got) == want, level


def test_registered_sql_functions_match_scalar(spark):
    """The seven SQL-bodied functions register_all creates equal the
    scalar port on ids at every level 0-30 (faces 4/5 carry the sign
    bit) plus id 0, and run with no Python node in the plan."""
    from s2js_spark.spark.functions import register_all

    register_all(spark)
    rng = np.random.default_rng(11)
    ids = [0] + [
        cs.from_face_pos_level(int(f), int(p), lv)
        for lv in range(31)
        for f, p in zip(rng.integers(0, 6, 100), rng.integers(0, 1 << 61, 100))
    ]
    # b: a's first leaf (contained) on odd rows, another id on even
    # rows; for a = 0 the unsigned range [1, 2^64-1] holds every b but 0
    other = [cs.range_min(a) if n % 2 else ids[(n * 7 + 1) % len(ids)] for n, a in enumerate(ids)]
    lvls = rng.integers(0, 31, len(ids))
    pdf = pd.DataFrame({
        "n": range(len(ids)), "a": as_long(ids), "b": as_long(other), "lv": lvls,
    })
    spark.createDataFrame(pdf).createOrReplaceTempView("cells")
    out = spark.sql(
        """SELECT n, s2_level(a) AS level, s2_parent(a, lv) AS parent,
                  s2_range_min(a) AS rmin, s2_range_max(a) AS rmax,
                  s2_contains(a, b) AS contains, s2_flip_key(a) AS fk,
                  s2_token(a) AS token
           FROM cells ORDER BY n"""
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    m = cs.MASK64
    got = out.collect()
    assert len(got) == len(ids) >= 3000
    assert sum(r.contains for r in got) > len(ids) // 3
    for r, a, b, lv in zip(got, ids, other, lvls):
        assert r.level == cs.level(a)
        assert r.parent & m == cs.parent(a, int(lv))
        assert r.rmin & m == cs.range_min(a)
        assert r.rmax & m == cs.range_max(a)
        assert r.contains == cs.contains(a, b)
        assert r.fk & m == a ^ (1 << 63)
        assert r.token == cs.to_token(a)


def _level10(cell: int) -> list[int]:
    """Every level-10 descendant of ``cell``, in order."""
    c, end = cs.child_begin_at_level(cell, 10), cs.child_end_at_level(cell, 10)
    out = []
    while c != end:
        out.append(c)
        c = cs.next_cell(c)
    return out


def test_cell_union_normalize_matches_scalar(spark):
    """The SQL ancestor-count normalize equals CellUnion.normalize per
    key on a fixture whose merges stop at every level 5-9: a level-4
    subtree less one cell (on face 5, where ids carry the sign bit), a
    complete level-7 subtree and an incomplete quad in "a"; a complete
    level-5 subtree inside the same level-4 cell in "b"; a seeded
    3,000-of-4,096 sample of a level-4 subtree in "c". An empty input
    gives zero rows with the same columns."""
    from s2js_spark.geometry.cellunion import CellUnion

    t4 = cs.from_face_pos_level(5, 0x0A5 << 53, 4)
    sub4 = _level10(t4)
    gone = sub4[1000]
    t5 = cs.parent(gone, 5)
    q9 = cs.from_face_pos_level(2, 0x1234567 << 37, 9)
    rng = np.random.default_rng(3)
    sample = _level10(cs.from_face_pos_level(0, 0x3C << 55, 4))
    cells = {
        "a": [c for c in sub4 if c != gone]
        + _level10(cs.from_face_pos_level(1, 0x2B << 47, 7))
        + cs.children(q9)[:3],
        "b": _level10(t5),
        "c": [sample[k] for k in rng.choice(len(sample), 3000, replace=False)],
    }
    rows = [(k, int(v)) for k, vs in cells.items() for v in as_long(vs)]
    df = spark.createDataFrame(rows, "lang string, cell long")

    out = sq.cell_union_normalize(df, "lang", "cell", 10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "InMemoryRelation" not in plan
    got = {}
    for r in out.collect():
        got.setdefault(r.lang, []).append(r.cell & cs.MASK64)
    for lang, vs in cells.items():
        cu = CellUnion(vs)
        cu.normalize()
        assert sorted(got[lang]) == list(cu), lang
    assert {cs.level(c) for c in got["a"]} == {5, 6, 7, 8, 9, 10}
    assert got["b"] == [t5]
    assert {cs.level(c) for c in got["c"]} >= {8, 9, 10}

    empty = sq.cell_union_normalize(df.limit(0), "lang", "cell", 10)
    assert empty.columns == ["lang", "cell"] and empty.count() == 0
