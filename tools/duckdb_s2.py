"""DuckDB SQL text for the S2 leaf-cell encode.

Mirrors the engine's pure-SQL chain (s2js_spark/spark/sqlkernels.py)
in DuckDB dialect so the driver's oracle can verify `s2_encode` and
`cell_rollup` EXACTLY instead of rows-only:

- trig/face/uv/st/ij: same correctly-rounded double arithmetic
  (DuckDB's libm is glibc, which agreed bitwise with the JVM on every
  corpus point and a 200k global sample — see tests/test_sqlkernels);
- Hilbert rounds: the 1024-entry lookup table inlined as a VALUES
  relation, joined once per round; bit ops are two's-complement on
  BIGINT in both engines;
- the final (n << 1) | 1 overflows into the sign bit for faces 4-5;
  DuckDB raises on BIGINT overflow, so the wrap is computed in
  HUGEINT and cast back.
"""

from __future__ import annotations

from s2js_spark.geometry.cellid_scalar import LOOKUP_POS

MAX_SIZE = 1 << 30


def lut_values_sql() -> str:
    rows = ", ".join(f"({k},{v})" for k, v in enumerate(LOOKUP_POS))
    return f"(VALUES {rows})"


def encode_cte_sql(pages_rel: str = "geo") -> str:
    """CTE chain computing ``cellid`` (raw bit pattern as BIGINT) for
    every row of ``pages_rel`` (needs lat/lng DOUBLE columns). The
    final relation is ``enc`` with all of pages_rel's columns plus
    cellid."""
    d = repr(0.017453292519943295)
    # stage 0: xyz -> face -> uv -> st -> ij (same op order as the engine)
    stage0 = f"""
    s2s0 AS (
      SELECT *,
        cos(lng * {d}) * cos(lat * {d}) AS _x,
        sin(lng * {d}) * cos(lat * {d}) AS _y,
        sin(lat * {d}) AS _z
      FROM {pages_rel}),
    s2s1 AS (
      SELECT *,
        (CASE WHEN abs(_x) > abs(_y) AND abs(_x) > abs(_z) THEN (CASE WHEN _x < 0 THEN 3 ELSE 0 END)
              WHEN NOT (abs(_x) > abs(_y)) AND abs(_y) > abs(_z) THEN (CASE WHEN _y < 0 THEN 4 ELSE 1 END)
              ELSE (CASE WHEN _z < 0 THEN 5 ELSE 2 END) END) AS _f
      FROM s2s0),
    s2s2 AS (
      SELECT *,
        (CASE _f WHEN 0 THEN _y/_x WHEN 1 THEN -_x/_y WHEN 2 THEN -_x/_z
                 WHEN 3 THEN _z/_x WHEN 4 THEN _z/_y ELSE -_y/_z END) AS _u,
        (CASE _f WHEN 0 THEN _z/_x WHEN 1 THEN _z/_y WHEN 2 THEN -_y/_z
                 WHEN 3 THEN _y/_x WHEN 4 THEN -_x/_y ELSE -_x/_z END) AS _v
      FROM s2s1),
    s2s3 AS (
      SELECT *,
        (CASE WHEN _u >= 0 THEN 0.5 * sqrt(1.0 + 3.0 * _u)
              ELSE 1.0 - 0.5 * sqrt(1.0 - 3.0 * _u) END) AS _s,
        (CASE WHEN _v >= 0 THEN 0.5 * sqrt(1.0 + 3.0 * _v)
              ELSE 1.0 - 0.5 * sqrt(1.0 - 3.0 * _v) END) AS _t
      FROM s2s2),
    s2s4 AS (
      SELECT *,
        least(greatest(CAST(floor({float(MAX_SIZE)!r} * _s) AS BIGINT), 0), {MAX_SIZE - 1}) AS _i,
        least(greatest(CAST(floor({float(MAX_SIZE)!r} * _t) AS BIGINT), 0), {MAX_SIZE - 1}) AS _j,
        (CAST(_f AS BIGINT) << 60) AS _n8,
        (CAST(_f AS BIGINT) & 1) AS _b8
      FROM s2s3)"""
    # 8 Hilbert rounds, each a join against the lookup VALUES relation
    rounds = []
    for k in range(7, -1, -1):
        prev = 8 if k == 7 else k + 1
        rounds.append(f"""
    s2r{k} AS (
      SELECT t.*, CAST(l.v AS BIGINT) AS _v{k},
        (t._n{prev} | ((CAST(l.v AS BIGINT) >> 2) << {k * 8})) AS _n{k},
        (CAST(l.v AS BIGINT) & 3) AS _b{k}
      FROM {('s2s4' if k == 7 else f's2r{k + 1}')} t
      JOIN {lut_values_sql()} AS l(k, v)
        ON l.k = t._b{prev} + (((t._i >> {k * 4}) & 15) << 6) + (((t._j >> {k * 4}) & 15) << 2))""")
    final = """
    enc AS (
      SELECT *,
        CAST(
          (CAST(_n0 AS HUGEINT) * 2 + 1)
          - (CASE WHEN _n0 >= 4611686018427387904 THEN CAST('18446744073709551616' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END)
        AS BIGINT) AS cellid
      FROM s2r0)"""
    return stage0 + "," + ",".join(rounds) + "," + final


def token_sql(cellid_expr: str) -> str:
    """Hex token, trailing zeros stripped, 'X' for 0 — two's-complement
    hex via HUGEINT wrap (to match the engine's unsigned view)."""
    unsigned = (
        f"(CAST({cellid_expr} AS HUGEINT)"
        f" + (CASE WHEN {cellid_expr} < 0 THEN CAST('18446744073709551616' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END))"
    )
    h = f"lpad(lower(to_hex({unsigned})), 16, '0')"
    stripped = f"rtrim({h}, '0')"
    return f"(CASE WHEN {cellid_expr} = 0 OR {stripped} = '' THEN 'X' ELSE {stripped} END)"


def parent_sql(cellid_expr: str, level: int) -> str:
    lsb = 1 << (2 * (30 - level))
    return f"(({cellid_expr} & {-lsb}) | {lsb})"


def flip_key_sql(cellid_expr: str) -> str:
    return f"xor({cellid_expr}, -9223372036854775808)"
