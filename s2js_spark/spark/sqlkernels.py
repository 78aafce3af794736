"""Pure-Spark-SQL (JVM, whole-stage-codegen) S2 cell kernels.

The executors' only cell arithmetic, and the one SQL spelling of point
geometry (degrees -> unit vector, chord^2, rect and cap containment;
see "point geometry" below). Spark SQL column expressions
carry the whole (lat,lng) -> face/(u,v) -> (s,t) -> (i,j) ->
Hilbert-encode chain (reference semantics: s2js ``s2/stuv.ts:158-220``
and ``s2/cellid.ts:360-386``), the cross-face 3x3 cell
neighbourhood knn fans queries out to, the hierarchy bit-ops, and
the normalize of a same-level cell union (an ancestor count). The
encode chain is:

- trig + cube-face projection: CASE/arithmetic on doubles;
- the quadratic (u,v)->(s,t) projection: sqrt/branch;
- the 8-round Hilbert encode: bitwise ops + ``element_at`` gathers on
  the 1024-entry lookup table shipped as a literal array.

Everything runs inside whole-stage codegen — zero Python in the loop.

Parity with the scalar port (geometry/cellid_scalar.py):

- every stage downstream of cos/sin (division, sqrt, multiply, floor,
  all bit logic) is IEEE correctly-rounded or exact in both and is
  bitwise-identical (tests/test_sqlkernels.py checks the
  (face,i,j)->id stage on dense random triples and the full chain on
  real data);
- cos/sin themselves may differ by 1 ulp between Java's Math and
  glibc, which Python's ``math`` calls (~0.2% of inputs). A 1-ulp
  input difference changes the leaf id only when a coordinate lies
  within ~2^-51 of a leaf-cell boundary (~1e-9 probability per point).
  The TS reference runs on V8's libm — a third implementation — so
  bit-for-bit trig parity across engines is unattainable for ANY port;
  the engine defines the JVM result as canonical for DataFrame cell
  assignment, and exact geometric refinement (tagjoin.py) makes join
  answers independent of ulp-level leaf placement.

Intermediate values are lateral column aliases inside ONE
``selectExpr`` (single analysis pass — chained withColumn re-analyzes
the whole plan per stage, measured at seconds of driver time); the
analyzer rewrites them to nested Projects and Spark >=3.3
CollapseProject keeps non-cheap multi-referenced expressions in
separate nodes, so each stage is evaluated exactly once per row inside
one codegen span.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..geometry.cellid_scalar import LOOKUP_BITS, LOOKUP_POS

MAX_LEVEL = 30
MAX_SIZE = 1 << MAX_LEVEL
POS_BITS = 2 * MAX_LEVEL + 1  # 61
_D = math.pi / 180.0


def _lookup_lit() -> Column:
    """The 1024-entry Hilbert lookup table, shipped to executors once
    as an array literal (element_at is O(1) on literal array data)."""
    return F.lit(LOOKUP_POS)


def values_frame(spark, rows: list[str], empty_row: str, alias: str) -> DataFrame:
    """Inline ``VALUES`` frame (a LocalRelation: its broadcast runs one
    Spark job, without Python). An empty ``rows`` takes its column
    types from the typed ``empty_row`` placeholder and filters it out."""
    if not rows:
        return spark.sql(f"SELECT * FROM VALUES {empty_row} AS {alias} WHERE false")
    return spark.sql(f"SELECT * FROM VALUES {', '.join(rows)} AS {alias}")


def struct_array_type(fields: tuple[str, ...]) -> str:
    """``array<struct<...>>`` of the double ``fields``."""
    return "array<struct<" + ",".join(f"{n}:double" for n in fields) + ">>"


def struct_array_sql(fields: tuple[str, ...], rows: list[tuple[float, ...]]) -> str:
    """``rows`` as an array of structs of the double ``fields``, in the
    VALUES frames' spelling (cast_lit). Only an empty array is cast to
    its type: a CAST to a struct array type on every row of a VALUES
    frame costs its analysis over 1 ms a row."""
    if not rows:
        return f"CAST(array() AS {struct_array_type(fields)})"
    return "array({})".format(", ".join(
        "named_struct(" + ", ".join(f"'{n}', {cast_lit(v)}" for n, v in zip(fields, row)) + ")"
        for row in rows
    ))


# --------------------------------------------------------- point geometry
#
# The one SQL spelling of point geometry. The tag join's refinement,
# the knn chord^2, the convex clip, the buffer join and the registered
# s2_rect_contains / s2_cap_contains are built from these texts. Each
# keeps the scalar port's op order, so every op after cos/sin is
# correctly rounded alike in both. ``lit`` spells a double literal for
# the target dialect: the clip and buffer texts also run in DuckDB
# (polyline_ops.duckdb_lit), the oracle's spelling.


def spark_lit(v: float) -> str:
    """Spark SQL double literal: the shortest round-trip repr."""
    return f"{float(v)!r}D"


def cast_lit(v: float) -> str:
    """Spark SQL double as ``CAST('<repr>' AS DOUBLE)``: the round-trip
    repr, and also spells inf and nan. The VALUES frames' spelling."""
    return f"CAST('{float(v)!r}' AS DOUBLE)"


def radians_sql(deg: str, lit=spark_lit) -> str:
    """Degrees -> radians as ``deg * (pi / 180)``, LatLng.from_degrees."""
    return f"({deg} * {lit(_D)})"


def xyz_sql(lat: str, lng: str, lit=spark_lit) -> tuple[str, str, str]:
    """Degree expressions -> unit vector (x, y, z):
    Point.from_latlng_degrees, cos(lng)*cos(lat), sin(lng)*cos(lat),
    sin(lat) on the radians."""
    latr, lngr = radians_sql(lat, lit), radians_sql(lng, lit)
    return (
        f"(cos({lngr}) * cos({latr}))",
        f"(sin({lngr}) * cos({latr}))",
        f"sin({latr})",
    )


def chord2_sql(p: tuple[str, str, str], q: tuple[str, str, str]) -> str:
    """Point.chord_angle_between: min(4, |p - q|^2) of two (x, y, z)
    expression triples."""
    d = [f"({a} - {b})" for a, b in zip(p, q)]
    return "least(4.0D, " + " + ".join(f"{e} * {e}" for e in d) + ")"


def chord_from_angle_sql(angle: str) -> str:
    """s1.chord_from_angle of a radians expression: -1 for a negative
    angle, else l * l with l = 2 sin(0.5 min(pi, angle)). An infinite
    angle gives 4, not infinity: no chord^2 exceeds either."""
    l = f"(2.0D * sin(0.5D * least({math.pi!r}D, {angle})))"
    return f"(CASE WHEN {angle} < 0.0D THEN -1.0D ELSE {l} * {l} END)"


def cap_contains_sql(p: tuple[str, str, str], center: tuple[str, str, str], r2: str) -> str:
    """Cap.contains_point: the chord^2 between ``p`` and the cap's
    center is at most the cap's chord radius ``r2``."""
    return f"({chord2_sql(p, center)} <= {r2})"


def rect_contains_sql(
    lat: str, lng: str, lat_lo: str, lat_hi: str, lng_lo: str, lng_hi: str
) -> str:
    """Rect.contains_latlng on radian expressions: LatLng.is_valid, the
    R1 latitude interval, and S1Interval.contains with its -pi -> pi
    remap, the inverted (wrapping) case and the empty (pi, -pi)
    interval."""
    pi = f"{math.pi!r}D"
    l = f"(CASE WHEN {lng} = -{pi} THEN {pi} ELSE {lng} END)"
    return (
        f"(abs({lat}) <= {math.pi / 2!r}D AND abs({lng}) <= {pi}"
        f" AND {lat} >= {lat_lo} AND {lat} <= {lat_hi}"
        f" AND CASE WHEN {lng_lo} > {lng_hi}"
        f" THEN ({l} >= {lng_lo} OR {l} <= {lng_hi})"
        f" AND NOT ({lng_lo} = {pi} AND {lng_hi} = -{pi})"
        f" ELSE {l} >= {lng_lo} AND {l} <= {lng_hi} END)"
    )


# ----------------------------------------------------------- encode chain

def pushdown_barrier(df: DataFrame, name: str = "_pd_barrier") -> DataFrame:
    """Append a nondeterministic column that blocks predicate pushdown.

    Catalyst's PushPredicateThroughNonJoin substitutes aliases into any
    predicate it pushes through a Project. Pushing a predicate through
    the 14-layer encode chain inlines the whole chain once per layer —
    a fixed-point blow-up measured in MINUTES of driver CPU on a
    475-row input. A Project containing one nondeterministic field is
    ineligible for pushdown (and for CollapseProject), so a cheap
    rand() column pins the boundary.

    CAVEAT (measured in round 3): the barrier only holds while the
    rand column is REFERENCED above it. ColumnPruning deletes an
    unreferenced nondeterministic column, the Project turns
    deterministic again, and every predicate above it is pushed with
    full alias substitution (a 530 KB executed plan and ~2s of
    per-execution overhead for pip_tag). Any filter meant to stay
    above the barrier must therefore AND in ``barrier_guard(name)`` —
    a nondeterministic always-true term referencing the column, which
    Spark 4's rand-bound folding does not simplify (plain
    ``rand() > -1`` IS folded; ``rand() + 1 > 0`` is not).
    """
    return df.withColumn(name, F.rand())


def barrier_guard(name: str = "_pd_barrier") -> Column:
    """Always-true nondeterministic predicate pinning ``name``'s
    pushdown_barrier: rand() ∈ [0,1) so rand()+1 > 0 for every row,
    but the reference keeps the barrier column alive and the
    containing Filter unpushable/unsplittable past the barrier."""
    return (F.col(name) + F.lit(1.0)) > F.lit(0.0)


def _hilbert_exprs(f: str, i: str, j: str, t: str, out_col: str) -> list[str]:
    """(face,i,j) -> leaf id as lateral-alias SQL text: the exact
    8-round Hilbert encode (cellid.ts:360-386). ``_lut`` must be a
    column holding the 1024-entry lookup literal.

    element_at returns the literal array's element type (int); cast to
    long BEFORE shifting or the shift wraps at 32 bits.
    """
    mask = (1 << LOOKUP_BITS) - 1
    exprs = [
        f"shiftleft(cast({f} as bigint), {POS_BITS - 1}) AS {t}n8",
        f"(cast({f} as bigint) & 1) AS {t}b8",
    ]
    for k in range(7, -1, -1):
        key = (
            f"({t}b{k + 1}"
            f" + shiftleft(shiftrightunsigned({i}, {k * LOOKUP_BITS}) & {mask},"
            f" {LOOKUP_BITS + 2})"
            f" + shiftleft(shiftrightunsigned({j}, {k * LOOKUP_BITS}) & {mask}, 2))"
        )
        exprs += [
            f"cast(element_at(_lut, cast({key} + 1 as int)) as bigint) AS {t}v{k}",
            f"({t}n{k + 1} | shiftleft(shiftrightunsigned({t}v{k}, 2),"
            f" {k * 2 * LOOKUP_BITS})) AS {t}n{k}",
            f"({t}v{k} & 3) AS {t}b{k}",
        ]
    exprs.append(f"(shiftleft({t}n0, 1) | 1) AS {out_col}")
    return exprs


def _st_to_ij(s: str) -> str:
    """(s,t) -> clamped leaf coordinate, as ``cellid_scalar.st_to_ij``."""
    return (
        f"least(greatest(cast(floor({float(MAX_SIZE)!r}D * {s}) as bigint), 0L),"
        f" {MAX_SIZE - 1}L)"
    )


def _face_uv_exprs(t: str) -> list[str]:
    """({t}x,{t}y,{t}z) -> face {t}f and ({t}u,{t}v) as lateral-alias
    SQL text (stuv.ts:176-220, reference tie-breaks)."""
    return [
        f"abs({t}x) AS {t}ax",
        f"abs({t}y) AS {t}ay",
        f"abs({t}z) AS {t}az",
        f"(({t}ax > {t}ay) AND ({t}ax > {t}az)) AS {t}isx",
        f"((NOT ({t}ax > {t}ay)) AND ({t}ay > {t}az)) AS {t}isy",
        f"(CASE WHEN {t}isx THEN {t}x WHEN {t}isy THEN {t}y ELSE {t}z END)"
        f" AS {t}comp",
        f"(CASE WHEN {t}isx THEN 0 WHEN {t}isy THEN 1 ELSE 2 END"
        f" + CASE WHEN {t}comp < 0.0D THEN 3 ELSE 0 END) AS {t}f",
        f"(CASE WHEN {t}f = 0 THEN {t}y / {t}x"
        f" WHEN {t}f = 1 THEN -{t}x / {t}y"
        f" WHEN {t}f = 2 THEN -{t}x / {t}z"
        f" WHEN {t}f = 3 THEN {t}z / {t}x"
        f" WHEN {t}f = 4 THEN {t}z / {t}y"
        f" ELSE -{t}y / {t}z END) AS {t}u",
        f"(CASE WHEN {t}f = 0 THEN {t}z / {t}x"
        f" WHEN {t}f = 1 THEN {t}z / {t}y"
        f" WHEN {t}f = 2 THEN -{t}y / {t}z"
        f" WHEN {t}f = 3 THEN {t}y / {t}x"
        f" WHEN {t}f = 4 THEN -{t}x / {t}y"
        f" ELSE -{t}x / {t}z END) AS {t}v",
    ]


def _latlng_exprs(lat: str, lng: str, t: str) -> list[str]:
    """(lat,lng) degrees -> (face,i,j) as lateral-alias SQL text, in
    the scalar port's op order (stuv.ts:158-220)."""
    return [
        f"{radians_sql(lat)} AS {t}latr",
        f"{radians_sql(lng)} AS {t}lngr",
        f"cos({t}latr) AS {t}clat",
        f"(cos({t}lngr) * {t}clat) AS {t}x",
        f"(sin({t}lngr) * {t}clat) AS {t}y",
        f"sin({t}latr) AS {t}z",
        *_face_uv_exprs(t),
        f"(CASE WHEN {t}u >= 0.0D THEN 0.5D * sqrt(1.0D + 3.0D * {t}u)"
        f" ELSE 1.0D - 0.5D * sqrt(1.0D - 3.0D * {t}u) END) AS {t}s",
        f"(CASE WHEN {t}v >= 0.0D THEN 0.5D * sqrt(1.0D + 3.0D * {t}v)"
        f" ELSE 1.0D - 0.5D * sqrt(1.0D - 3.0D * {t}v) END) AS {t}t",
        f"{_st_to_ij(f'{t}s')} AS {t}i",
        f"{_st_to_ij(f'{t}t')} AS {t}j",
    ]


def with_s2_cellid(
    df: DataFrame,
    lat_col: str = "lat",
    lng_col: str = "lng",
    out_col: str = "cellid",
    assume_nonnull: bool = False,
) -> DataFrame:
    """Append the leaf S2 cell id (raw uint64 bits in a LongType column)
    computed entirely JVM-side.

    Null lat/lng rows get a null cell id (``assume_nonnull`` skips the
    null guard; callers that pre-filter on the base columns should set
    it — filtering on the OUTPUT column instead triggers the pushdown
    blow-up described in ``pushdown_barrier``).

    The whole chain is ONE ``selectExpr`` of lateral column aliases:
    a single analysis pass (chained withColumn re-analyzes the full
    plan per stage — measured seconds of driver time per query), while
    the analyzer still rewrites it into nested Projects so every stage
    is evaluated exactly once per row inside one codegen span.
    """
    t = "_s2sql_"
    exprs = _latlng_exprs(lat_col, lng_col, t) + _hilbert_exprs(
        f"{t}f", f"{t}i", f"{t}j", t, out_col
    )
    out = df.withColumn("_lut", _lookup_lit()).selectExpr("*", *exprs)
    if not assume_nonnull:
        keep_null = F.when(
            F.col(lat_col).isNotNull() & F.col(lng_col).isNotNull(),
            F.col(out_col),
        )
        out = out.withColumn(out_col, keep_null)
    return out.select(*df.columns, out_col)


def with_s2_cellid_from_face_ij(
    df: DataFrame, f_col: str, i_col: str, j_col: str, out_col: str = "cellid"
) -> DataFrame:
    """(face,i,j) -> leaf id: the exact 8-round Hilbert encode
    (cellid.ts:360-386) in pure bitwise SQL. Bit-for-bit equal to
    ``geometry.cellid_scalar.from_face_ij`` (tests/test_sqlkernels.py
    checks random triples and every face corner)."""
    t = "_s2hil_"
    exprs = _hilbert_exprs(f_col, i_col, j_col, t, out_col)
    out = df.withColumn("_lut", _lookup_lit()).selectExpr("*", *exprs)
    return out.select(*df.columns, out_col)


def with_s2_neighborhood(
    df: DataFrame, lat_col: str, lng_col: str, level: int, out_col: str
) -> DataFrame:
    """One row per cell of each point's 3x3 neighbourhood at ``level``:
    the cell holding (lat, lng) and its 7 or 8 neighbours, as
    ``cellid_scalar.all_neighbors``. Coordinates must be non-null.

    Each (di, dj) offset moves the leaf (i, j) one cell and wraps it as
    ``cellid_scalar.from_face_ij_wrap`` does, so cells across a face
    edge are exact and in-face cells come back unchanged. At a cube
    corner the diagonal whose i and j both leave the face repeats a
    cell already in the set and is dropped.
    """
    t, w = "_s2nb_", "_s2wr_"
    size = 1 << (MAX_LEVEL - level)
    limit = math.nextafter(1.0, 2.0)
    offsets = ", ".join(
        f"struct({di} AS {w}di, {dj} AS {w}dj)" for di in (-1, 0, 1) for dj in (-1, 0, 1)
    )
    clip = lambda c, d: f"greatest(-1L, least({MAX_SIZE}L, {t}{c} + {w}{d} * {size}L))"  # noqa: E731
    lin = lambda c: (  # noqa: E731
        f"greatest(-{limit!r}D, least({limit!r}D,"
        f" {1.0 / MAX_SIZE!r}D * (2L * {w}{c} + {1 - MAX_SIZE}L)))"
    )
    xyz = {  # cellid_scalar._face_uv_to_xyz_scalar, faces 0..5
        "x": ("1.0D", f"-{w}cu", f"-{w}cu", "-1.0D", f"{w}cv", f"{w}cv"),
        "y": (f"{w}cu", "1.0D", f"-{w}cv", f"-{w}cv", "-1.0D", f"{w}cu"),
        "z": (f"{w}cv", f"{w}cv", "1.0D", f"-{w}cu", f"-{w}cu", "-1.0D"),
    }
    out = (
        df.selectExpr("*", *_latlng_exprs(lat_col, lng_col, t))
        .selectExpr("*", f"inline(array({offsets}))")
        .selectExpr("*", f"{clip('i', 'di')} AS {w}ci", f"{clip('j', 'dj')} AS {w}cj")
        .filter(f"NOT ({w}ci IN (-1, {MAX_SIZE}) AND {w}cj IN (-1, {MAX_SIZE}))")
        .selectExpr(
            "*",
            f"{lin('ci')} AS {w}cu",
            f"{lin('cj')} AS {w}cv",
            *(
                f"(CASE {t}f WHEN 0 THEN {a} WHEN 1 THEN {b} WHEN 2 THEN {c}"
                f" WHEN 3 THEN {d} WHEN 4 THEN {e} ELSE {g} END) AS {w}{k}"
                for k, (a, b, c, d, e, g) in xyz.items()
            ),
            *_face_uv_exprs(w),
            f"{_st_to_ij(f'(0.5D * ({w}u + 1.0D))')} AS {w}i",
            f"{_st_to_ij(f'(0.5D * ({w}v + 1.0D))')} AS {w}j",
        )
    )
    out = with_s2_cellid_from_face_ij(out, f"{w}f", f"{w}i", f"{w}j", f"{w}leaf")
    return out.select(*df.columns, s2_parent_sql(f"{w}leaf", level).alias(out_col))


# ------------------------------------------------------- hierarchy columns

def s2_parent_sql(cellid: Column | str, level: int) -> Column:
    """Ancestor at ``level`` (cellid.ts:74-77) as pure bigint bit ops.

    Works on the raw uint64 bit pattern stored in LongType: AND/OR are
    bit-pattern operations, identical under the signed reinterpret.
    """
    c = F.col(cellid) if isinstance(cellid, str) else cellid
    lsb = 1 << (2 * (MAX_LEVEL - level))
    return c.bitwiseAND(F.lit(-lsb)).bitwiseOR(F.lit(lsb))


def s2_level_sql(cellid: Column | str) -> Column:
    """Level in [0,30]: 30 - ctz/2 with ctz = bit_count(lsb - 1)."""
    c = F.col(cellid) if isinstance(cellid, str) else cellid
    lsb = c.bitwiseAND(-c)
    ctz = F.bit_count(lsb - F.lit(1)).cast("int")
    return (F.lit(MAX_LEVEL) - F.shiftrightunsigned(ctz, 1)).cast("int")


def cell_union_normalize(df: DataFrame, key: str, cell: str, level: int) -> DataFrame:
    """``CellUnion.normalize`` per ``key`` of cells that are all at
    ``level``: distinct ``(key, cell)`` rows of the normalized unions.

    On a same-level input, normalize keeps exactly each maximal
    ancestor whose 4^(level-L) descendants at ``level`` are all
    present. Each distinct cell is exploded into its ancestors at
    levels 0..level-1, a window counts the cells under each
    ``(key, ancestor)``, and each cell keeps its coarsest complete
    ancestor, or itself when none is complete. One JVM plan, no
    Python; the largest window partition is one (key, face) at level
    0, at most 4^level rows whatever the input size.
    """
    cells = df.select(key, cell).distinct()
    anc = F.inline(
        F.array(
            *(
                F.struct(
                    F.lit(lv).alias("_lvl"),
                    s2_parent_sql(cell, lv).alias("_anc"),
                    F.lit(4 ** (level - lv)).cast("long").alias("_need"),
                )
                for lv in range(level)
            )
        )
    )
    n = F.count(F.lit(1)).over(Window.partitionBy(key, "_anc"))
    complete = F.when(n == F.col("_need"), F.struct("_lvl", "_anc"))
    return (
        cells.select(key, cell, anc)
        .select(key, cell, complete.alias("_c"))
        .groupBy(key, cell)
        .agg(F.min("_c").alias("_top"))
        .select(key, F.coalesce(F.col("_top._anc"), F.col(cell)).alias(cell))
        .distinct()
    )


def s2_flip_key_sql(cellid: Column | str) -> Column:
    """XOR with 2^63: signed order == unsigned S2 order."""
    c = F.col(cellid) if isinstance(cellid, str) else cellid
    return c.bitwiseXOR(F.lit(-(1 << 63)))


def s2_token_sql(cellid: Column | str) -> Column:
    """Hex token, trailing zeros stripped, 'X' for 0 (cellid.ts:224-228)."""
    c = F.col(cellid) if isinstance(cellid, str) else cellid
    h = F.regexp_replace(F.lower(F.lpad(F.hex(c), 16, "0")), "0+$", "")
    return F.when(c == 0, F.lit("X")).otherwise(h)
