"""Robust geometric predicates: the triage -> stable -> exact -> symbolic
escalation ladder.

Semantics of /root/reference/s2/predicates.ts. The exact stage uses
Python ``fractions.Fraction`` (doubles are dyadic rationals, so cross
products and dot products evaluate exactly), mirroring the reference's
arbitrary-precision PreciseVector.
"""

from __future__ import annotations

import math
from fractions import Fraction

from .point import Point

CLOCKWISE = -1
INDETERMINATE = 0
COUNTERCLOCKWISE = 1

DBL_EPSILON = 2.220446049250313e-16

MAX_DETERMINANT_ERROR = 1.8274 * DBL_EPSILON
DET_ERROR_MULTIPLIER = 3.2321 * DBL_EPSILON


def sign(a: Point, b: Point, c: Point) -> bool:
    """Strict CCW test (predicates.ts:75-85)."""
    return c.cross(a).dot(b) > 0


def triage_sign(a: Point, b: Point, c: Point) -> int:
    """Float64 determinant with certified error bound (predicates.ts:186-191)."""
    det = a.cross(b).dot(c)
    if det > MAX_DETERMINANT_ERROR:
        return COUNTERCLOCKWISE
    if det < -MAX_DETERMINANT_ERROR:
        return CLOCKWISE
    return INDETERMINATE


def stable_sign(a: Point, b: Point, c: Point) -> int:
    """Translated determinant, more stable for nearly-collinear points
    (predicates.ts:135-176)."""
    ab = b.sub(a)
    ab2 = ab.norm2()
    bc = c.sub(b)
    bc2 = bc.norm2()
    ca = a.sub(c)
    ca2 = ca.norm2()

    if ab2 >= bc2 and ab2 >= ca2:
        e1, e2, ov = ca, bc, c
    elif bc2 >= ca2:
        e1, e2, ov = ab, ca, a
    else:
        e1, e2, ov = bc, ab, b

    det = -e1.cross(e2).dot(ov)
    max_err = DET_ERROR_MULTIPLIER * math.sqrt(e1.norm2() * e2.norm2())
    if det > max_err:
        return COUNTERCLOCKWISE
    if det < -max_err:
        return CLOCKWISE
    return INDETERMINATE


def _frac(p: Point) -> tuple[Fraction, Fraction, Fraction]:
    return Fraction(p.x), Fraction(p.y), Fraction(p.z)


def _fcross(a, b):
    return (
        a[1] * b[2] - a[2] * b[1],
        a[2] * b[0] - a[0] * b[2],
        a[0] * b[1] - a[1] * b[0],
    )


def _fdot(a, b) -> Fraction:
    return a[0] * b[0] + a[1] * b[1] + a[2] * b[2]


def _fsign(x) -> int:
    if x > 0:
        return 1
    if x < 0:
        return -1
    return 0


def exact_sign(a: Point, b: Point, c: Point, perturb: bool) -> int:
    """Exact-arithmetic sign with optional symbolic perturbation
    (predicates.ts:221-260)."""
    perm_sign = COUNTERCLOCKWISE
    pa, pb, pc = a, b, c
    if pa.cmp(pb) > 0:
        pa, pb = pb, pa
        perm_sign = -perm_sign
    if pb.cmp(pc) > 0:
        pb, pc = pc, pb
        perm_sign = -perm_sign
    if pa.cmp(pb) > 0:
        pa, pb = pb, pa
        perm_sign = -perm_sign

    xa, xb, xc = _frac(pa), _frac(pb), _frac(pc)
    xb_cross_xc = _fcross(xb, xc)
    det = _fdot(xa, xb_cross_xc)

    det_sign = _fsign(det)
    if det_sign == INDETERMINATE and perturb:
        det_sign = symbolically_perturbed_sign(xa, xb, xc, xb_cross_xc)
    return perm_sign * det_sign


def symbolically_perturbed_sign(a, b, c, b_cross_c) -> int:
    """Simulation-of-Simplicity tie-break (predicates.ts:286-392).

    Requires points sorted lexicographically with an exactly-zero
    determinant; a, b, c are Fraction triples.
    """
    det_sign = _fsign(b_cross_c[2])  # da.Z
    if det_sign != 0:
        return det_sign
    det_sign = _fsign(b_cross_c[1])  # da.Y
    if det_sign != 0:
        return det_sign
    det_sign = _fsign(b_cross_c[0])  # da.X
    if det_sign != 0:
        return det_sign

    det_sign = _fsign(c[0] * a[1] - c[1] * a[0])  # db.Z
    if det_sign != 0:
        return det_sign
    det_sign = _fsign(c[0])  # db.Z * da.Y
    if det_sign != 0:
        return det_sign
    det_sign = -_fsign(c[1])  # db.Z * da.X
    if det_sign != 0:
        return det_sign
    det_sign = _fsign(c[2] * a[0] - c[0] * a[2])  # db.Y
    if det_sign != 0:
        return det_sign
    det_sign = _fsign(c[2])  # db.Y * da.X
    if det_sign != 0:
        return det_sign
    det_sign = _fsign(a[0] * b[1] - a[1] * b[0])  # dc.Z
    if det_sign != 0:
        return det_sign
    det_sign = -_fsign(b[0])  # dc.Z * da.Y
    if det_sign != 0:
        return det_sign
    det_sign = _fsign(b[1])  # dc.Z * da.X
    if det_sign != 0:
        return det_sign
    det_sign = _fsign(a[0])  # dc.Z * db.Y
    if det_sign != 0:
        return det_sign
    return COUNTERCLOCKWISE  # dc.Z * db.Y * da.X


def expensive_sign(a: Point, b: Point, c: Point) -> int:
    """Stable then exact escalation (predicates.ts:198-215)."""
    if a.equals(b) or b.equals(c) or c.equals(a):
        return INDETERMINATE
    det_sign = stable_sign(a, b, c)
    if det_sign != INDETERMINATE:
        return det_sign
    return exact_sign(a, b, c, True)


def robust_sign(a: Point, b: Point, c: Point) -> int:
    """Public entry (predicates.ts:113-119)."""
    s = triage_sign(a, b, c)
    if s == INDETERMINATE:
        s = expensive_sign(a, b, c)
    return s

