"""Seeded inputs for the benchmark.

Everything the engine sees is derived here from one integer seed:
the ``documents`` and ``embeddings`` tables (the shapes of the
driver's sf tables), the amplified page corpus of ``geotag_bulk``,
and the request stream of ``spatial_requests`` (fresh polygons, caps,
rects, buffer radii, kNN query points and the request order).

The same seed always gives the same bytes; nothing here reads any
file outside the work directory it is handed.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Page counts per scale factor follow the driver's sf tables (sf0.1
# holds 5,000 documents); sf0.001 is the smoke-test size.
DOCS_PER_SF = 50_000
EMB_DIM = 64
EMB_LABELS = 10

VOCAB = (
    "spark window merge table column vector stream value data small join"
    " filter big group hash customer sort order slow line part fast row"
    " the agg key query a scan batch"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]


def n_docs(sf: float) -> int:
    return max(50, int(round(sf * DOCS_PER_SF)))


def documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """(doc_id, text, lang, source, n_chars); ~5% near-duplicates
    (an earlier text plus one word) and ~1% exact duplicates, so both
    dedup operators have real work."""
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and u < 0.06:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.choice(VOCAB, size=int(rng.integers(8, 90)))
            texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[int(k)] for k in rng.integers(0, len(LANGS), n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """(vec_id, embedding float[64], label): unit vectors around ten
    cluster centres, ~5% of them near-copies of an earlier vector."""
    centres = rng.normal(size=(EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, n)
    vecs = centres[labels] + rng.normal(scale=1.2, size=(n, EMB_DIM))
    for i in range(10, n):
        if rng.random() < 0.05:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(scale=0.05, size=EMB_DIM)
            labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vecs),
            "label": labels.astype(np.int32),
        }
    )


def write_tables(work: str, seed: int, sf: float, n_emb: int) -> None:
    """``documents.parquet`` and ``embeddings.parquet`` under ``work``."""
    rng = np.random.default_rng([seed, 1])
    docs = documents(rng, n_docs(sf))
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                   f"{work}/documents.parquet")
    emb = embeddings(np.random.default_rng([seed, 2]), n_emb)
    table = pa.table(
        {
            "vec_id": pa.array(emb["vec_id"]),
            "embedding": pa.array([v.tolist() for v in emb["embedding"]],
                                  type=pa.list_(pa.float32())),
            "label": pa.array(emb["label"]),
        }
    )
    pq.write_table(table, f"{work}/embeddings.parquet")


# ----------------------------------------------------------- amplification

def _e6_str(v: np.ndarray) -> list[str]:
    return [
        f"{'-' if x < 0 else ''}{abs(x) // 1_000_000}.{abs(x) % 1_000_000:06d}"
        for x in v.tolist()
    ]


def amplify_pages(base: pd.DataFrame, seed: int, times: int,
                  jitter_e6: int = 200_000) -> pd.DataFrame:
    """``times`` replicas of the synthetic pages table.

    Replica 0 is the base table itself; replica r > 0 gets urls
    suffixed ``?r=<r>`` (re-crawl pairs stay pairs inside a replica),
    fresh doc ids, and every geotag moved by a seeded jitter of up to
    ``jitter_e6`` micro-degrees, re-rendered into the html exactly the
    way the page synthesis renders it. ``text`` is carried unchanged.
    """
    rng = np.random.default_rng([seed, 3])
    n = len(base)
    rep = np.repeat(np.arange(times, dtype=np.int64), n)
    idx = np.tile(np.arange(n), times)
    b = base.iloc[idx].reset_index(drop=True)
    has_geo = b["lat_e6"].notna().to_numpy()
    lat = b["lat_e6"].fillna(0).to_numpy(np.int64)
    lng = b["lng_e6"].fillna(0).to_numpy(np.int64)
    jl = rng.integers(-jitter_e6, jitter_e6 + 1, n * times)
    jg = rng.integers(-jitter_e6, jitter_e6 + 1, n * times)
    jl[rep == 0] = 0
    jg[rep == 0] = 0
    lat = np.clip(lat + jl, -89_900_000, 89_900_000)
    lng = (lng + jg + 180_000_000) % 360_000_000 - 180_000_000
    doc_id = rep * n + b["doc_id"].to_numpy(np.int64)
    lat_s, lng_s = _e6_str(lat), _e6_str(lng)
    text = b["text"].tolist()
    html = [
        f"<html><head><title>page {d}</title>"
        + (
            f'<meta name="geo.position" content="{la};{lo}">'
            f'<meta name="ICBM" content="{la}, {lo}">'
            if g else ""
        )
        + f"</head><body>{t}</body></html>"
        for d, g, la, lo, t in zip(doc_id.tolist(), has_geo, lat_s, lng_s, text)
    ]
    url = [u if r == 0 else f"{u}?r={r}" for u, r in zip(b["url"].tolist(), rep.tolist())]
    return pd.DataFrame(
        {
            "url": url,
            "warc_ts_sec": b["warc_ts_sec"].to_numpy(np.int64),
            "html": html,
            "text": text,
            "lang": b["lang"],
            "doc_id": doc_id,
            "lat_e6": pd.Series(lat, dtype="Int64").where(has_geo),
            "lng_e6": pd.Series(lng, dtype="Int64").where(has_geo),
        }
    )


# ------------------------------------------------------------ request stream

# The page synthesis puts 16 "cities" at lat = 7c - 55, lng = 21c - 160.
def city(c: int) -> tuple[float, float]:
    return 7.0 * c - 55.0, 21.0 * c - 160.0


def destination(lat: float, lng: float, bearing: float, dist: float) -> tuple[float, float]:
    """Point reached from (lat, lng) degrees along ``bearing`` (radians)
    after ``dist`` radians of great circle, in degrees."""
    p1, l1 = math.radians(lat), math.radians(lng)
    p2 = math.asin(math.sin(p1) * math.cos(dist)
                   + math.cos(p1) * math.sin(dist) * math.cos(bearing))
    l2 = l1 + math.atan2(math.sin(bearing) * math.sin(dist) * math.cos(p1),
                         math.cos(dist) - math.sin(p1) * math.sin(p2))
    lng2 = (math.degrees(l2) + 540.0) % 360.0 - 180.0
    return math.degrees(p2), lng2


def convex_ring(rng: np.random.Generator, lat: float, lng: float,
                radius_deg: float, n: int) -> list[list[float]]:
    """A CCW geodesically convex ring: ``n`` vertices on one spherical
    small circle, at sorted seeded bearings (GeoJSON [lng, lat])."""
    gaps = rng.uniform(0.5, 1.5, n)
    angles = np.cumsum(gaps) / gaps.sum() * 2 * math.pi
    ring = []
    for a in angles:
        # bearings run clockwise from north, so walk them backwards
        vlat, vlng = destination(lat, lng, -float(a), math.radians(radius_deg))
        ring.append([vlng, vlat])
    ring.append(list(ring[0]))
    return ring


def concave_ring(rng: np.random.Generator, lat: float, lng: float,
                 n: int = 240) -> list[list[float]]:
    """A jagged ``n``-vertex concave ring (star-shaped, CCW): a circle of
    radius 1.1 degrees with eight lobes of amplitude 0.4 degrees, turned
    by a seeded phase."""
    base, amp, lobes = 1.1, 0.4, 8
    phase = rng.uniform(0, 2 * math.pi)
    ring = []
    for k in range(n):
        th = 2.0 * math.pi * k / n
        r = base + amp * math.sin(lobes * th + phase)
        ring.append([lng + r * math.cos(th), lat + r * math.sin(th)])
    ring.append(list(ring[0]))
    return ring


@dataclass
class Request:
    kind: str  # rect | cap | poly | bigpoly | buffer | knn | raster
    fixed: bool  # True: a declared query over a fixed tile set
    params: dict


# Fresh request kinds, in the order blocks walk through them: the first
# block already reaches the array-aggregate winding path and the
# distance layer, which the fixed requests do not.
FRESH_KINDS = ["bigpoly", "buffer", "raster", "knn", "rect", "cap", "poly"]
FRESH_PER_BLOCK = 2
# The fixed tile sets: the declared pip_tag and knn queries, with how
# many of each a block sends. pip_tag is the most frequent, so the
# median latency falls inside its cluster. One pip_tag request varies by
# up to a third from the next on a shared host, so the median needs
# about 16 of them to repeat from run to run.
FIXED_PER_BLOCK = {"poly": 16, "knn": 4}


def request_block(rng: np.random.Generator, block: int) -> list[Request]:
    """One block of requests in seeded order: the fixed ones of
    FIXED_PER_BLOCK and FRESH_PER_BLOCK fresh ones, whose kinds walk
    through FRESH_KINDS block by block. The composition and the size of
    every shape are the same for every seed; the geometry and the order
    come from the seed."""
    out = [Request(k, True, {}) for k, n in FIXED_PER_BLOCK.items() for _ in range(n)]
    for j in range(FRESH_PER_BLOCK):
        kind = FRESH_KINDS[(FRESH_PER_BLOCK * block + j) % len(FRESH_KINDS)]
        out.append(Request(kind, False, fresh_params(rng, kind, block)))
    order = rng.permutation(len(out))
    return [out[i] for i in order]


def fresh_params(rng: np.random.Generator, kind: str, block: int) -> dict:
    c = int(rng.integers(0, 16))
    clat, clng = city(c)
    lat = clat + rng.uniform(-0.3, 0.3)
    lng = clng + rng.uniform(-0.6, 0.6)
    # Sizes are constants: the seed moves and turns a shape, but the
    # work of covering and joining it stays the same from seed to seed.
    if kind == "rect":
        h, w = 0.4, 0.65
        return {"lat_lo": lat - h, "lat_hi": lat + h, "lng_lo": lng - w, "lng_hi": lng + w}
    if kind == "cap":
        return {"lat": lat, "lng": lng, "radius_deg": 0.5}
    if kind in ("poly", "raster"):
        return {"ring": convex_ring(rng, lat, lng, 0.65, 12)}
    if kind == "bigpoly":
        return {"ring": concave_ring(rng, lat, lng)}
    if kind == "buffer":
        return {"ring": convex_ring(rng, lat, lng, 0.4, 6), "radius_deg": 0.3}
    if kind == "knn":
        pts = []
        for q in range(4):
            qc = int(rng.integers(0, 16))
            qlat, qlng = city(qc)
            pts.append((block * 100 + q, qlat + rng.uniform(-1, 1),
                        qlng + rng.uniform(-1, 1)))
        return {"points": pts, "k": 3}
    raise ValueError(kind)
