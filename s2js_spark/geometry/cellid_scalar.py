"""Scalar (pure Python int) S2 CellID operations.

Used by the driver-side geometry layer (RegionCoverer, CellUnion) where
per-polygon object code runs, never per-document, and by knn for the
neighbourhoods of literal query batches. Python ints are exact uint64
carriers; every function masks to 64 bits. Semantics match the
reference s2js ``s2/cellid.ts`` (citations inline): the ported
``cellid_test.ts`` vectors are asserted against this module, and the
engine's SQL cell arithmetic (``spark.sqlkernels``, the registered SQL
functions) is tested for bit-equality with it. It also holds the
Hilbert lookup tables and the (s,t)/(u,v)/(si,ti) transforms of
``s2/stuv.ts``.
"""

from __future__ import annotations

import math

FACE_BITS = 3
NUM_FACES = 6
MAX_LEVEL = 30
POS_BITS = 2 * MAX_LEVEL + 1
MAX_SIZE = 1 << MAX_LEVEL
MASK64 = (1 << 64) - 1
SENTINEL = MASK64
WRAP_OFFSET = NUM_FACES << POS_BITS
MAX_SITI = MAX_SIZE << 1  # 2**31, max si/ti coordinate

# Hilbert-curve lookup tables (lookupIJ.ts:1-53): LOOKUP_POS maps a
# 10-bit key "iiiijjjjoo" (4 leaf-grid bits each of i and j, 2-bit
# orientation) to "ppppppppoo" (8 Hilbert position bits), LOOKUP_IJ is
# its inverse. The SQL encode (``spark.sqlkernels``) and the DuckDB
# oracle ship LOOKUP_POS as a literal table.
LOOKUP_BITS = 4
SWAP_MASK = 0x01
INVERT_MASK = 0x02
# Canonical Hilbert sub-cell orderings (lookupIJ.ts:5-17): canonical,
# axes swapped, bits inverted, swapped and inverted
POS_TO_IJ = ((0, 1, 3, 2), (0, 2, 3, 1), (3, 2, 0, 1), (3, 1, 0, 2))
POS_TO_ORIENTATION = (SWAP_MASK, 0, 0, INVERT_MASK | SWAP_MASK)


def _build_lookup() -> tuple[list[int], list[int]]:
    """Iterative form of the recursive table init (lookupIJ.ts:27-51)."""
    lookup_pos = [0] * (1 << (2 * LOOKUP_BITS + 2))
    lookup_ij = [0] * (1 << (2 * LOOKUP_BITS + 2))
    stack = [(0, 0, 0, o, 0, o) for o in range(4)]
    while stack:
        lvl, i, j, orig, p, orient = stack.pop()
        if lvl == LOOKUP_BITS:
            ij = (i << LOOKUP_BITS) + j
            lookup_pos[(ij << 2) + orig] = (p << 2) + orient
            lookup_ij[(p << 2) + orig] = (ij << 2) + orient
            continue
        for sub, r in enumerate(POS_TO_IJ[orient]):
            stack.append((
                lvl + 1, (i << 1) + (r >> 1), (j << 1) + (r & 1), orig,
                (p << 2) + sub, orient ^ POS_TO_ORIENTATION[sub],
            ))
    return lookup_pos, lookup_ij


LOOKUP_POS, LOOKUP_IJ = _build_lookup()


def lsb(ci: int) -> int:
    return ci & (-ci & MASK64)


def lsb_for_level(level: int) -> int:
    return 1 << (2 * (MAX_LEVEL - level))


def level(ci: int) -> int:
    if ci == 0:
        return MAX_LEVEL - 32  # matches reference findLSBSetNonZero64(0)=64
    return MAX_LEVEL - ((lsb(ci).bit_length() - 1) >> 1)


def face(ci: int) -> int:
    return ci >> POS_BITS


def pos(ci: int) -> int:
    return ci & (SENTINEL >> FACE_BITS)


def parent(ci: int, lvl: int) -> int:
    b = lsb_for_level(lvl)
    return ((ci & (-b & MASK64)) | b) & MASK64


def immediate_parent(ci: int) -> int:
    nlsb = (lsb(ci) << 2) & MASK64
    return ((ci & (-nlsb & MASK64)) | nlsb) & MASK64


def is_leaf(ci: int) -> bool:
    return (ci & 1) != 0


def is_face(ci: int) -> bool:
    return (ci & (lsb_for_level(0) - 1)) == 0


def valid(ci: int) -> bool:
    if not (0 <= ci <= MASK64):
        return False
    return face(ci) <= NUM_FACES and (lsb(ci) & 0x1555555555555555) != 0


def child_position(ci: int, lvl: int) -> int:
    return (ci >> (2 * (MAX_LEVEL - lvl) + 1)) & 0b11


def children(ci: int) -> list[int]:
    b = lsb(ci)
    c0 = (ci - b + (b >> 2)) & MASK64
    h = b >> 1
    return [c0, (c0 + h) & MASK64, (c0 + 2 * h) & MASK64, (c0 + 3 * h) & MASK64]


def range_min(ci: int) -> int:
    return (ci - (lsb(ci) - 1)) & MASK64


def range_max(ci: int) -> int:
    return (ci + (lsb(ci) - 1)) & MASK64


def contains(ci: int, oci: int) -> bool:
    return range_min(ci) <= oci <= range_max(ci)


def intersects(ci: int, oci: int) -> bool:
    return range_min(oci) <= range_max(ci) and range_max(oci) >= range_min(ci)


def child_begin(ci: int) -> int:
    ol = lsb(ci)
    return (ci - ol + (ol >> 2)) & MASK64


def child_begin_at_level(ci: int, lvl: int) -> int:
    return (ci - lsb(ci) + lsb_for_level(lvl)) & MASK64


def child_end(ci: int) -> int:
    ol = lsb(ci)
    return (ci + ol + (ol >> 2)) & MASK64


def child_end_at_level(ci: int, lvl: int) -> int:
    return (ci + lsb(ci) + lsb_for_level(lvl)) & MASK64


def next_cell(ci: int) -> int:
    return (ci + (lsb(ci) << 1)) & MASK64


def prev_cell(ci: int) -> int:
    return (ci - (lsb(ci) << 1)) & MASK64


def next_wrap(ci: int) -> int:
    n = next_cell(ci)
    return n if n < WRAP_OFFSET else (n - WRAP_OFFSET) & MASK64


def prev_wrap(ci: int) -> int:
    p = prev_cell(ci)
    return p if p < WRAP_OFFSET else (p + WRAP_OFFSET) & MASK64


def advance(ci: int, steps: int) -> int:
    """Clamped Hilbert advance (cellid.ts:759-779)."""
    if steps == 0:
        return ci
    shift = 2 * (MAX_LEVEL - level(ci)) + 1
    if steps < 0:
        min_steps = -(ci >> shift)
        if steps < min_steps:
            steps = min_steps
    else:
        max_steps = (WRAP_OFFSET + lsb(ci) - ci) >> shift
        if steps > max_steps:
            steps = max_steps
    return (ci + (steps << shift)) & MASK64


def advance_wrap(ci: int, steps: int) -> int:
    """Wrapping Hilbert advance (cellid.ts:669-699)."""
    if steps == 0:
        return ci
    shift = 2 * (MAX_LEVEL - level(ci)) + 1
    return _advance_wrap_impl(ci, steps, shift)


def _js_mod(a: int, b: int) -> int:
    """JS % (truncated remainder, sign of dividend)."""
    r = abs(a) % abs(b)
    return -r if a < 0 else r


def _advance_wrap_impl(ci: int, steps: int, shift: int) -> int:
    if steps < 0:
        mn = -(ci >> shift)
        if steps < mn:
            wrap = WRAP_OFFSET >> shift
            steps = _js_mod(steps, wrap)
            if steps < mn:
                steps += wrap
    else:
        mx = (WRAP_OFFSET - ci) >> shift
        if steps > mx:
            wrap = WRAP_OFFSET >> shift
            steps = _js_mod(steps, wrap)
            if steps > mx:
                steps -= wrap
    return (ci + (steps << shift)) & MASK64


def distance_from_begin(ci: int) -> int:
    return ci >> (2 * (MAX_LEVEL - level(ci)) + 1)


def common_ancestor_level(ci: int, oci: int) -> tuple[int, bool]:
    bits = ci ^ oci
    bits = max(bits, lsb(ci), lsb(oci))
    msb_pos = bits.bit_length() - 1
    if msb_pos > 60:
        return 0, False
    return (60 - msb_pos) >> 1, True


def max_tile(ci: int, limit: int) -> int:
    """Largest same-RangeMin cell with RangeMax < limit (cellid.ts:727-752)."""
    start = range_min(ci)
    if start >= range_min(limit):
        return limit
    if range_max(ci) >= limit:
        while True:
            ci = children(ci)[0]
            if range_max(ci) < limit:
                break
        return ci
    while not is_face(ci):
        p = immediate_parent(ci)
        if range_min(p) != start or range_max(p) >= limit:
            break
        ci = p
    return ci


# ------------------------------------------------------------ constructors

def from_face(f: int) -> int:
    return (f << POS_BITS) + lsb_for_level(0)


def from_face_pos_level(f: int, p: int, lvl: int) -> int:
    return parent((f << POS_BITS) + (p or 1), lvl)


def from_face_ij(f: int, i: int, j: int) -> int:
    """Hilbert encode (cellid.ts:360-386)."""
    n = f << (POS_BITS - 1)
    bits = f & SWAP_MASK
    mask = (1 << LOOKUP_BITS) - 1
    for k in range(7, -1, -1):
        bits += ((i >> (k * LOOKUP_BITS)) & mask) << (LOOKUP_BITS + 2)
        bits += ((j >> (k * LOOKUP_BITS)) & mask) << 2
        bits = LOOKUP_POS[bits]
        n |= (bits >> 2) << (k * 2 * LOOKUP_BITS)
        bits &= SWAP_MASK | INVERT_MASK
    return (n * 2 + 1) & MASK64


def face_ij_orientation(ci: int) -> tuple[int, int, int, int]:
    """Hilbert decode (cellid.ts:429-464)."""
    f = face(ci)
    orientation = f & SWAP_MASK
    nbits = MAX_LEVEL - 7 * LOOKUP_BITS
    i = 0
    j = 0
    for k in range(7, -1, -1):
        orientation += (((ci >> (k * 2 * LOOKUP_BITS + 1)) & ((1 << (2 * nbits)) - 1)) << 2)
        orientation = LOOKUP_IJ[orientation]
        i += (orientation >> (LOOKUP_BITS + 2)) << (k * LOOKUP_BITS)
        j += ((orientation >> 2) & ((1 << LOOKUP_BITS) - 1)) << (k * LOOKUP_BITS)
        orientation &= SWAP_MASK | INVERT_MASK
        nbits = LOOKUP_BITS
    if lsb(ci) & 0x1111111111111110:
        orientation ^= SWAP_MASK
    return f, i, j, orientation


def st_to_ij(s: float) -> int:
    return max(0, min(MAX_SIZE - 1, math.floor(MAX_SIZE * s)))


def size_ij(lvl: int) -> int:
    return 1 << max(0, min(MAX_LEVEL, MAX_LEVEL - lvl))


def ij_to_st_min(i: int) -> float:
    return i / MAX_SIZE


def ij_level_to_bound_uv(i: int, j: int, lvl: int) -> tuple[float, float, float, float]:
    """(u_lo, u_hi, v_lo, v_hi) of the cell at ``lvl`` holding leaf
    (i, j) (cellid.ts:483-492)."""
    size = size_ij(lvl)
    i_lo, j_lo = i & -size, j & -size
    return (
        _st_to_uv_scalar(ij_to_st_min(i_lo)),
        _st_to_uv_scalar(ij_to_st_min(i_lo + size)),
        _st_to_uv_scalar(ij_to_st_min(j_lo)),
        _st_to_uv_scalar(ij_to_st_min(j_lo + size)),
    )


def from_point(x: float, y: float, z: float) -> int:
    f, u, v = _xyz_to_face_uv_scalar(x, y, z)
    return from_face_ij(f, st_to_ij(_uv_to_st_scalar(u)), st_to_ij(_uv_to_st_scalar(v)))


def from_latlng_radians(lat: float, lng: float) -> int:
    cosphi = math.cos(lat)
    return from_point(math.cos(lng) * cosphi, math.sin(lng) * cosphi, math.sin(lat))


def from_latlng_degrees(lat: float, lng: float) -> int:
    d = math.pi / 180.0
    return from_latlng_radians(lat * d, lng * d)


def _uv_to_st_scalar(u: float) -> float:
    if u >= 0:
        return 0.5 * math.sqrt(1 + 3 * u)
    return 1 - 0.5 * math.sqrt(1 - 3 * u)


def _st_to_uv_scalar(s: float) -> float:
    if s >= 0.5:
        return (1.0 / 3.0) * (4 * s * s - 1)
    return (1.0 / 3.0) * (1 - 4 * (1 - s) * (1 - s))


def si_ti_to_st(si: int) -> float:
    """(si,ti) -> (s,t), capped at 1.0 (stuv.ts:138-141)."""
    return 1.0 if si > MAX_SITI else si / MAX_SITI


def _largest_component(x: float, y: float, z: float) -> int:
    ax, ay, az = abs(x), abs(y), abs(z)
    if ax > ay:
        return 0 if ax > az else 2
    return 1 if ay > az else 2


def _xyz_to_face_uv_scalar(x: float, y: float, z: float) -> tuple[int, float, float]:
    f = _largest_component(x, y, z)
    if (f == 0 and x < 0) or (f == 1 and y < 0) or (f == 2 and z < 0):
        f += 3
    if f == 0:
        return 0, y / x, z / x
    if f == 1:
        return 1, -x / y, z / y
    if f == 2:
        return 2, -x / z, -y / z
    if f == 3:
        return 3, z / x, y / x
    if f == 4:
        return 4, z / y, -x / y
    return 5, -y / z, -x / z


def _face_uv_to_xyz_scalar(f: int, u: float, v: float) -> tuple[float, float, float]:
    if f == 0:
        return 1.0, u, v
    if f == 1:
        return -u, 1.0, v
    if f == 2:
        return -u, -v, 1.0
    if f == 3:
        return -1.0, -v, -u
    if f == 4:
        return v, -1.0, -u
    return v, u, -1.0


def from_face_ij_wrap(f: int, i: int, j: int) -> int:
    """Cross-face wrapped encode (cellid.ts:388-416)."""
    i = max(-1, min(MAX_SIZE, i))
    j = max(-1, min(MAX_SIZE, j))
    scale = 1.0 / MAX_SIZE
    limit = math.nextafter(1, 2)
    u = max(-limit, min(limit, scale * (2 * i + 1 - MAX_SIZE)))
    v = max(-limit, min(limit, scale * (2 * j + 1 - MAX_SIZE)))
    x, y, z = _face_uv_to_xyz_scalar(f, u, v)
    nf, nu, nv = _xyz_to_face_uv_scalar(x, y, z)
    return from_face_ij(nf, st_to_ij(0.5 * (nu + 1)), st_to_ij(0.5 * (nv + 1)))


def from_face_ij_same(f: int, i: int, j: int, same: bool) -> int:
    return from_face_ij(f, i, j) if same else from_face_ij_wrap(f, i, j)


def face_si_ti(ci: int) -> tuple[int, int, int]:
    f, i, j, _ = face_ij_orientation(ci)
    if is_leaf(ci):
        delta = 1
    elif ((i ^ (ci >> 2)) & 1) != 0:
        delta = 2
    else:
        delta = 0
    return f, 2 * i + delta, 2 * j + delta


def raw_point(ci: int) -> tuple[float, float, float]:
    f, si, ti = face_si_ti(ci)
    return _face_uv_to_xyz_scalar(
        f, _st_to_uv_scalar(si_ti_to_st(si)), _st_to_uv_scalar(si_ti_to_st(ti))
    )


def to_point(ci: int) -> tuple[float, float, float]:
    x, y, z = raw_point(ci)
    n = math.sqrt(x * x + y * y + z * z)
    return x / n, y / n, z / n


def to_latlng(ci: int) -> tuple[float, float]:
    x, y, z = raw_point(ci)
    return math.atan2(z, math.sqrt(x * x + y * y)), math.atan2(y, x)


def edge_neighbors(ci: int) -> list[int]:
    lvl = level(ci)
    size = size_ij(lvl)
    f, i, j, _ = face_ij_orientation(ci)
    return [
        parent(from_face_ij_wrap(f, i, j - size), lvl),
        parent(from_face_ij_wrap(f, i + size, j), lvl),
        parent(from_face_ij_wrap(f, i, j + size), lvl),
        parent(from_face_ij_wrap(f, i - size, j), lvl),
    ]


def vertex_neighbors(ci: int, lvl: int) -> list[int]:
    """3-4 neighbors sharing the nearest vertex (cellid.ts:553-588)."""
    half_size = size_ij(lvl + 1)
    size = half_size << 1
    f, i, j, _ = face_ij_orientation(ci)
    if i & half_size:
        ioffset, isame = size, i + size < MAX_SIZE
    else:
        ioffset, isame = -size, i - size >= 0
    if j & half_size:
        joffset, jsame = size, j + size < MAX_SIZE
    else:
        joffset, jsame = -size, j - size >= 0
    results = [
        parent(ci, lvl),
        parent(from_face_ij_same(f, i + ioffset, j, isame), lvl),
        parent(from_face_ij_same(f, i, j + joffset, jsame), lvl),
    ]
    if isame or jsame:
        results.append(parent(from_face_ij_same(f, i + ioffset, j + joffset, isame and jsame), lvl))
    return results


def all_neighbors(ci: int, lvl: int) -> list[int]:
    """All neighbors at ``lvl`` >= level(ci) (cellid.ts:151-187)."""
    neighbors: list[int] = []
    f, i, j, _ = face_ij_orientation(ci)
    size = size_ij(level(ci))
    i &= -size
    j &= -size
    nbr_size = size_ij(lvl)
    k = -nbr_size
    while True:
        if k < 0:
            same_face = j + k >= 0
        elif k >= size:
            same_face = j + k < MAX_SIZE
        else:
            same_face = True
            neighbors.append(parent(from_face_ij_same(f, i + k, j - nbr_size, j - size >= 0), lvl))
            neighbors.append(parent(from_face_ij_same(f, i + k, j + size, j + size < MAX_SIZE), lvl))
        neighbors.append(parent(from_face_ij_same(f, i - nbr_size, j + k, same_face and i - size >= 0), lvl))
        neighbors.append(parent(from_face_ij_same(f, i + size, j + k, same_face and i + size < MAX_SIZE), lvl))
        if k >= size:
            break
        k += nbr_size
    return neighbors


# ---------------------------------------------------------------- codecs

def to_token(ci: int) -> str:
    s = format(ci & MASK64, "016x").rstrip("0")
    return s if s else "X"


def from_token(t: str) -> int:
    if not isinstance(t, str) or len(t) > 16 or len(t) == 0:
        return 0
    if not all(ch in "0123456789abcdefABCDEF" for ch in t):
        return 0
    return (int(t, 16) << (4 * (16 - len(t)))) & MASK64


def to_string(ci: int) -> str:
    if not valid(ci):
        return f"Invalid: {format(ci & MASK64, 'x')}"
    out = f"{face(ci)}/"
    for l in range(1, level(ci) + 1):
        out += str(child_position(ci, l))
    return out


def from_string(s: str) -> int:
    lvl = len(s) - 2
    if lvl < 0 or lvl > MAX_LEVEL:
        return 0
    if len(s) < 2 or not s[0].isdigit() or s[1] != "/":
        return 0
    f = int(s[0])
    if f < 0 or f > 5:
        return 0
    cid = from_face(f)
    for ch in s[2:]:
        if ch not in "0123":
            return 0
        cid = children(cid)[int(ch)]
    return cid
