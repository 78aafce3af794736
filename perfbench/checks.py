"""Output checks, run after the timed window.

Three references, none of them the engine path under test:

- the DuckDB ``oracle_sql()`` of the declared queries (and SQL written
  here in the same style for the geotag_bulk tile counts), over the
  very parquet files the engine read;
- the scalar ``s2js_spark.geometry`` port, for fresh seeded shapes, on
  a seeded sample of pages;
- NumPy brute force for fresh kNN batches.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd

D = math.pi / 180.0


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive, dtype-normalised frame (exact values)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].astype(np.float64)
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype(np.int64)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    a, b = canon(a), canon(b)
    return list(a.columns) == list(b.columns) and len(a) == len(b) and a.equals(b)


def duck(work: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{work}/{t}.parquet'")
    return con


def xyz(lat_deg, lng_deg):
    la, ln = np.asarray(lat_deg) * D, np.asarray(lng_deg) * D
    return np.stack([np.cos(ln) * np.cos(la), np.sin(ln) * np.cos(la), np.sin(la)], -1)


# ------------------------------------------------------------ geotag_bulk

def tile_count_sql(tiles: list[tuple[str, str]], table: str) -> str:
    """Per-tile page counts after the url dedup, as DuckDB SQL over the
    amplified pages parquet. ``tiles`` is (tile_id, predicate over
    ``lat_e6``/``lng_e6``)."""
    hits = " UNION ALL ".join(
        f"SELECT '{tid}' AS tile_id FROM dedup WHERE {pred}" for tid, pred in tiles
    )
    return f"""
        WITH dedup AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY url
                ORDER BY warc_ts_sec DESC, doc_id DESC) AS rn
            FROM '{table}') WHERE rn = 1 AND lat_e6 IS NOT NULL)
        SELECT tile_id, count(*) AS n FROM ({hits}) GROUP BY 1"""


# ----------------------------------------------------- fresh spatial shapes

def sample_points(con, seed: int, n: int) -> pd.DataFrame:
    """A seeded sample of geotagged pages: (doc_id, url, lat, lng)."""
    from s2js_spark.spark.pages import PAGES_SQL

    pts = con.sql(
        f"SELECT doc_id, url, lat_e6 / 1e6 AS lat, lng_e6 / 1e6 AS lng"
        f" FROM ({PAGES_SQL}) WHERE lat_e6 IS NOT NULL ORDER BY doc_id"
    ).df()
    rng = np.random.default_rng([seed, 7])
    take = rng.choice(len(pts), size=min(n, len(pts)), replace=False)
    return pts.iloc[np.sort(take)].reset_index(drop=True)


def contains_sample(shape, sample: pd.DataFrame) -> set[int]:
    from s2js_spark.geometry.point import Point

    return {
        int(d) for d, la, ln in zip(sample.doc_id, sample.lat, sample.lng)
        if shape.contains_point(Point.from_latlng_degrees(float(la), float(ln)))
    }


def check_membership(shape, sample: pd.DataFrame, got_doc_ids) -> bool:
    """Engine membership restricted to the sample == scalar membership."""
    in_sample = set(int(d) for d in sample.doc_id)
    got = {int(d) for d in got_doc_ids} & in_sample
    return got == contains_sample(shape, sample)


def check_buffer(ring, radius_deg: float, sample: pd.DataFrame,
                 got: pd.DataFrame) -> bool:
    """Buffer membership and boundary chord² against the scalar port's
    point-to-edge distances; lanes within 1e-12 of the radius are
    skipped (either answer is right there)."""
    from s2js_spark.geometry.edge_distances import update_min_distance
    from s2js_spark.geometry.geojson import from_geojson
    from s2js_spark.geometry.point import Point
    from s2js_spark.spark.distance import chord2_limit

    poly = from_geojson({"type": "Polygon", "coordinates": [ring]})
    verts = [Point.from_latlng_degrees(v[1], v[0]) for v in ring[:-1]]
    limit = chord2_limit(radius_deg)
    got_d = dict(zip(got.doc_id.astype(int), got.bdist))
    for d, la, ln in zip(sample.doc_id, sample.lat, sample.lng):
        p = Point.from_latlng_degrees(float(la), float(ln))
        dist = min(
            update_min_distance(p, verts[i], verts[(i + 1) % len(verts)], 4.0)[0]
            for i in range(len(verts))
        )
        expect = poly.contains_point(p) or dist <= limit
        if abs(dist - limit) < 1e-12:
            continue
        if expect != (int(d) in got_d):
            return False
        if expect and abs(got_d[int(d)] - dist) > 1e-8:
            return False
    return True


def knn_expected(points: pd.DataFrame, queries, k: int) -> dict[int, list[float]]:
    """Brute-force k smallest chord² per query (NumPy)."""
    p = xyz(points.lat.to_numpy(), points.lng.to_numpy())
    out = {}
    for qid, qlat, qlng in queries:
        q = xyz(qlat, qlng)
        c2 = np.minimum(4.0, ((p - q) ** 2).sum(axis=1))
        out[int(qid)] = sorted(c2.tolist())[:k]
    return out


def check_knn(expected: dict[int, list[float]], got: pd.DataFrame) -> bool:
    for qid, want in expected.items():
        rows = got[got.query_id == qid].sort_values("rank")
        have = rows.chord2.tolist()
        if len(have) != len(want):
            return False
        if any(abs(a - b) > 1e-10 for a, b in zip(have, want)):
            return False
    return True
