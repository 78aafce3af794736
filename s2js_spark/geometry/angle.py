"""s1.Angle and s1.ChordAngle scalar helpers.

Angles are plain float radians; chord angles are squared chord lengths
in [0,4] (a monotonic, trig-free distance proxy). Semantics follow the
reference (/root/reference/s1/angle.ts, /root/reference/s1/chordangle.ts).
"""

from __future__ import annotations

import math

DEGREE = math.pi / 180
EPSILON = 1e-15
# Reference pins this truncated value (s1/angle_constants.ts:7).
DBL_EPSILON = 2.220446049e-16

# chordangle constants (s1/chordangle_constants.ts)
NEGATIVE_CHORDANGLE = -1.0
RIGHT_CHORDANGLE = 2.0
STRAIGHT_CHORDANGLE = 4.0
MAX_LENGTH2 = 4.0


def degrees(a: float) -> float:
    d = a / DEGREE
    return d if d else 0.0  # JS `|| 0` maps -0 to 0 (angle.ts:49)


def from_degrees(d: float) -> float:
    return d * DEGREE


# --------------------------------------------------------------- chordangle

def chord_from_angle(a: float) -> float:
    """Angle -> ChordAngle (chordangle.ts:89-94)."""
    if a < 0:
        return NEGATIVE_CHORDANGLE
    if math.isinf(a):
        return math.inf
    l = 2 * math.sin(0.5 * min(math.pi, a))
    return l * l


def chord_from_squared_length(l2: float) -> float:
    """Clamped squared-length constructor (chordangle.ts:102)."""
    return STRAIGHT_CHORDANGLE if l2 > MAX_LENGTH2 else l2


def chord_angle(c: float) -> float:
    """ChordAngle -> Angle radians (chordangle.ts:119-123)."""
    if c < 0:
        return -1.0
    if math.isinf(c):
        return math.inf
    return 2 * math.asin(0.5 * math.sqrt(c))


def chord_is_special(c: float) -> bool:
    return c < 0 or math.isinf(c)


def chord_expanded(c: float, e: float) -> float:
    """Adjust by an error bound (chordangle.ts:111-116)."""
    if chord_is_special(c):
        return c
    return max(0.0, min(MAX_LENGTH2, c + e))


def chord_max_point_error(c: float) -> float:
    return 4.5 * DBL_EPSILON * c + 16 * DBL_EPSILON * DBL_EPSILON


def chord_max_angle_error(c: float) -> float:
    return DBL_EPSILON * c


def chord_add(c: float, oc: float) -> float:
    """Chord-angle addition via exact angles (chordangle.ts:194-199,
    matching the reference's slower-but-accurate choice)."""
    return chord_from_angle(chord_angle(c) + chord_angle(oc))


def chord_sub(c: float, oc: float) -> float:
    """Chord-angle subtraction (chordangle.ts:229-235)."""
    if oc == 0:
        return c
    if c <= oc:
        return 0.0
    x = c * (1 - 0.25 * oc)
    y = oc * (1 - 0.25 * c)
    return max(0.0, x + y - 2 * math.sqrt(x * y))


def chord_sin2(c: float) -> float:
    v = c * (1 - 0.25 * c)
    return v if v else 0.0


def chord_sin(c: float) -> float:
    v = math.sqrt(chord_sin2(c))
    return v if v else 0.0
