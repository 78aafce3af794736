"""Hilbert-curve 4-bit lookup tables for the S2 cell decomposition.

Ports the table construction of the reference (semantics of
/root/reference/s2/lookupIJ.ts:1-53): a 1024-entry table mapping a
10-bit key "iiiijjjjoo" to "ppppppppoo" (LOOKUP_POS) and its inverse
(LOOKUP_IJ), where i/j are 4 leaf-grid bits each, p is 8 Hilbert
position bits, and o is the 2-bit orientation (SWAP, INVERT).

The scalar port (``geometry.cellid_scalar``) reads them as int lists;
the SQL encode (``spark.sqlkernels``) and the DuckDB oracle ship
LOOKUP_POS as a literal table.
"""

from __future__ import annotations

import numpy as np

LOOKUP_BITS = 4
SWAP_MASK = 0x01
INVERT_MASK = 0x02

# Canonical Hilbert sub-cell orderings (reference s2/lookupIJ.ts:5-17).
POS_TO_IJ = np.array(
    [
        [0, 1, 3, 2],  # canonical: (0,0), (0,1), (1,1), (1,0)
        [0, 2, 3, 1],  # axes swapped
        [3, 2, 0, 1],  # bits inverted
        [3, 1, 0, 2],  # swapped & inverted
    ],
    dtype=np.int64,
)
POS_TO_ORIENTATION = np.array(
    [SWAP_MASK, 0, 0, INVERT_MASK | SWAP_MASK], dtype=np.int64
)


def _build_tables() -> tuple[np.ndarray, np.ndarray]:
    lookup_pos = np.zeros(1 << (2 * LOOKUP_BITS + 2), dtype=np.int64)
    lookup_ij = np.zeros(1 << (2 * LOOKUP_BITS + 2), dtype=np.int64)

    # Iterative DFS equivalent of the recursive init (lookupIJ.ts:27-51).
    stack: list[tuple[int, int, int, int, int, int]] = [
        (0, 0, 0, 0, 0, 0),
        (0, 0, 0, SWAP_MASK, 0, SWAP_MASK),
        (0, 0, 0, INVERT_MASK, 0, INVERT_MASK),
        (0, 0, 0, SWAP_MASK | INVERT_MASK, 0, SWAP_MASK | INVERT_MASK),
    ]
    while stack:
        level, i, j, orig, pos, orient = stack.pop()
        if level == LOOKUP_BITS:
            ij = (i << LOOKUP_BITS) + j
            lookup_pos[(ij << 2) + orig] = (pos << 2) + orient
            lookup_ij[(pos << 2) + orig] = (ij << 2) + orient
            continue
        level += 1
        i <<= 1
        j <<= 1
        pos <<= 2
        r = POS_TO_IJ[orient]
        for sub in range(4):
            stack.append(
                (
                    level,
                    i + (int(r[sub]) >> 1),
                    j + (int(r[sub]) & 1),
                    orig,
                    pos + sub,
                    orient ^ int(POS_TO_ORIENTATION[sub]),
                )
            )
    return lookup_pos, lookup_ij


LOOKUP_POS, LOOKUP_IJ = _build_tables()
