"""Vectorized S2 coordinate transforms over NumPy arrays.

The array forms the geometry layer and the predicate UDFs call:
(lat,lng) -> xyz, the quadratic (s,t) -> (u,v) projection and the
(si,ti) <-> (s,t) codec, matching the reference semantics (s2js
``s2/stuv.ts``). Operation order is kept identical to the
reference so results are bit-for-bit equal. The scalar forms of the
whole chain live in ``geometry.cellid_scalar``.
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 30
MAX_SIZE = 1 << MAX_LEVEL
MAX_SITI = MAX_SIZE << 1  # 2**31, max si/ti coordinate

_ONE_THIRD = 1.0 / 3.0


def st_to_uv(s: np.ndarray) -> np.ndarray:
    """Quadratic (s,t)->(u,v) projection (stuv.ts:158-161)."""
    s = np.asarray(s, dtype=np.float64)
    hi = _ONE_THIRD * (4.0 * s * s - 1.0)
    lo = _ONE_THIRD * (1.0 - 4.0 * (1.0 - s) * (1.0 - s))
    return np.where(s >= 0.5, hi, lo)


def si_ti_to_st(si: np.ndarray) -> np.ndarray:
    """(si,ti) -> (s,t), capped at 1.0 (stuv.ts:138-141)."""
    si = np.asarray(si)
    st = si / float(MAX_SITI)
    return np.where(si > MAX_SITI, 1.0, st)


def st_to_si_ti(s: np.ndarray) -> np.ndarray:
    """(s,t) -> nearest (si,ti) (stuv.ts:147-150)."""
    s = np.asarray(s, dtype=np.float64)
    return np.where(
        s < 0,
        np.floor(s * MAX_SITI - 0.5),
        np.floor(s * MAX_SITI + 0.5),
    ).astype(np.int64)


def latlng_to_xyz(lat: np.ndarray, lng: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(lat,lng) radians -> unit vector (s2/Point.ts:64-69)."""
    lat = np.asarray(lat, dtype=np.float64)
    lng = np.asarray(lng, dtype=np.float64)
    cosphi = np.cos(lat)
    return np.cos(lng) * cosphi, np.sin(lng) * cosphi, np.sin(lat)
