"""r1.Interval (closed interval on R) and s1.Interval (circular interval).

Ports of /root/reference/r1/Interval.ts and /root/reference/s1/Interval.ts.
Used by Rect (lat x lng bounds) and the coverer.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from .angle import DBL_EPSILON, EPSILON

PI = math.pi


@dataclass(frozen=True)
class R1Interval:
    lo: float
    hi: float

    @staticmethod
    def empty() -> "R1Interval":
        return R1Interval(1.0, 0.0)

    @staticmethod
    def from_point(p: float) -> "R1Interval":
        return R1Interval(p, p)

    def is_empty(self) -> bool:
        return self.lo > self.hi

    def equals(self, oi: "R1Interval") -> bool:
        return (self.lo == oi.lo and self.hi == oi.hi) or (self.is_empty() and oi.is_empty())

    def center(self) -> float:
        return 0.5 * (self.lo + self.hi)

    def length(self) -> float:
        return self.hi - self.lo

    def contains(self, p: float) -> bool:
        return self.lo <= p <= self.hi

    def contains_interval(self, oi: "R1Interval") -> bool:
        if oi.is_empty():
            return True
        return self.lo <= oi.lo and oi.hi <= self.hi

    def intersects(self, oi: "R1Interval") -> bool:
        if self.lo <= oi.lo:
            return oi.lo <= self.hi and oi.lo <= oi.hi
        return self.lo <= oi.hi and self.lo <= self.hi

    def interior_intersects(self, oi: "R1Interval") -> bool:
        return oi.lo < self.hi and self.lo < oi.hi and self.lo < self.hi and oi.lo <= oi.hi

    def intersection(self, j: "R1Interval") -> "R1Interval":
        return R1Interval(max(self.lo, j.lo), min(self.hi, j.hi))

    def union(self, oi: "R1Interval") -> "R1Interval":
        if self.is_empty():
            return oi
        if oi.is_empty():
            return self
        return R1Interval(min(self.lo, oi.lo), max(self.hi, oi.hi))

    def add_point(self, p: float) -> "R1Interval":
        if self.is_empty():
            return R1Interval(p, p)
        if p < self.lo:
            return R1Interval(p, self.hi)
        if p > self.hi:
            return R1Interval(self.lo, p)
        return self

    def expanded(self, margin: float) -> "R1Interval":
        if self.is_empty():
            return self
        return R1Interval(self.lo - margin, self.hi + margin)

    def approx_equal(self, oi: "R1Interval", epsilon: float = 1e-15) -> bool:
        if self.is_empty():
            return oi.length() <= 2 * epsilon
        if oi.is_empty():
            return self.length() <= 2 * epsilon
        return abs(oi.lo - self.lo) <= epsilon and abs(oi.hi - self.hi) <= epsilon


@dataclass(frozen=True)
class S1Interval:
    """Closed interval on the unit circle; may be inverted (wraps)."""

    lo: float
    hi: float

    @staticmethod
    def from_endpoints(lo: float, hi: float) -> "S1Interval":
        # Both conditions test the ORIGINAL endpoints (Interval.ts:38-43),
        # so (-pi, -pi) normalizes to (pi, pi), not the empty interval.
        new_lo, new_hi = lo, hi
        if lo == -PI and hi != PI:
            new_lo = PI
        if hi == -PI and lo != PI:
            new_hi = PI
        return S1Interval(new_lo, new_hi)

    @staticmethod
    def from_point_pair(a: float, b: float) -> "S1Interval":
        if a == -PI:
            a = PI
        if b == -PI:
            b = PI
        if S1Interval.positive_distance(a, b) <= PI:
            return S1Interval(a, b)
        return S1Interval(b, a)

    @staticmethod
    def empty() -> "S1Interval":
        return S1Interval(PI, -PI)

    @staticmethod
    def full() -> "S1Interval":
        return S1Interval(-PI, PI)

    @staticmethod
    def positive_distance(a: float, b: float) -> float:
        d = b - a
        if d >= 0:
            return d
        return (b + PI) - (a - PI)

    def is_valid(self) -> bool:
        return (
            abs(self.lo) <= PI
            and abs(self.hi) <= PI
            and not (self.lo == -PI and self.hi != PI)
            and not (self.hi == -PI and self.lo != PI)
        )

    def is_full(self) -> bool:
        return self.lo == -PI and self.hi == PI

    def is_empty(self) -> bool:
        return self.lo == PI and self.hi == -PI

    def is_inverted(self) -> bool:
        return self.lo > self.hi

    def equals(self, oi: "S1Interval") -> bool:
        return (self.lo == oi.lo and self.hi == oi.hi) or (self.is_empty() and oi.is_empty())

    def invert(self) -> "S1Interval":
        return S1Interval(self.hi, self.lo)

    def center(self) -> float:
        c = 0.5 * (self.lo + self.hi)
        if not self.is_inverted():
            return c
        if c <= 0:
            return c + PI
        return c - PI

    def length(self) -> float:
        l = self.hi - self.lo
        if l >= 0:
            return l
        l += 2 * PI
        if l > 0:
            return l
        return -1.0

    def fast_contains(self, p: float) -> bool:
        if self.is_inverted():
            return (p >= self.lo or p <= self.hi) and not self.is_empty()
        return self.lo <= p <= self.hi

    def contains(self, p: float) -> bool:
        if p == -PI:
            p = PI
        return self.fast_contains(p)

    def contains_interval(self, oi: "S1Interval") -> bool:
        if self.is_inverted():
            if oi.is_inverted():
                return oi.lo >= self.lo and oi.hi <= self.hi
            return (oi.lo >= self.lo or oi.hi <= self.hi) and not self.is_empty()
        if oi.is_inverted():
            return self.is_full() or oi.is_empty()
        return oi.lo >= self.lo and oi.hi <= self.hi

    def intersects(self, oi: "S1Interval") -> bool:
        if self.is_empty() or oi.is_empty():
            return False
        if self.is_inverted():
            return oi.is_inverted() or oi.lo <= self.hi or oi.hi >= self.lo
        if oi.is_inverted():
            return oi.lo <= self.hi or oi.hi >= self.lo
        return oi.lo <= self.hi and oi.hi >= self.lo

    def interior_intersects(self, oi: "S1Interval") -> bool:
        if self.is_empty() or oi.is_empty() or self.lo == self.hi:
            return False
        if self.is_inverted():
            return oi.is_inverted() or oi.lo < self.hi or oi.hi > self.lo
        if oi.is_inverted():
            return oi.lo < self.hi or oi.hi > self.lo
        return (oi.lo < self.hi and oi.hi > self.lo) or self.is_full()

    def union(self, oi: "S1Interval") -> "S1Interval":
        if oi.is_empty():
            return self
        if self.fast_contains(oi.lo):
            if self.fast_contains(oi.hi):
                if self.contains_interval(oi):
                    return self
                return S1Interval.full()
            return S1Interval(self.lo, oi.hi)
        if self.fast_contains(oi.hi):
            return S1Interval(oi.lo, self.hi)
        if self.is_empty() or oi.fast_contains(self.lo):
            return oi
        if S1Interval.positive_distance(oi.hi, self.lo) < S1Interval.positive_distance(self.hi, oi.lo):
            return S1Interval(oi.lo, self.hi)
        return S1Interval(self.lo, oi.hi)

    def intersection(self, oi: "S1Interval") -> "S1Interval":
        if oi.is_empty():
            return S1Interval.empty()
        if self.fast_contains(oi.lo):
            if self.fast_contains(oi.hi):
                if oi.length() < self.length():
                    return oi
                return self
            return S1Interval(oi.lo, self.hi)
        if self.fast_contains(oi.hi):
            return S1Interval(self.lo, oi.hi)
        if oi.fast_contains(self.lo):
            return self
        return S1Interval.empty()

    def add_point(self, p: float) -> "S1Interval":
        if abs(p) > PI:
            return self
        if p == -PI:
            p = PI
        if self.fast_contains(p):
            return self
        if self.is_empty():
            return S1Interval(p, p)
        if S1Interval.positive_distance(p, self.lo) < S1Interval.positive_distance(self.hi, p):
            return S1Interval(p, self.hi)
        return S1Interval(self.lo, p)

    def expanded(self, margin: float) -> "S1Interval":
        if margin >= 0:
            if self.is_empty():
                return self
            if self.length() + 2 * margin + 2 * DBL_EPSILON >= 2 * PI:
                return S1Interval.full()
        else:
            if self.is_full():
                return self
            if self.length() + 2 * margin - 2 * DBL_EPSILON <= 0:
                return S1Interval.empty()
        result = S1Interval.from_endpoints(
            math.remainder(self.lo - margin, 2 * PI),
            math.remainder(self.hi + margin, 2 * PI),
        )
        if result.lo <= -PI:
            result = S1Interval(PI, result.hi)
        return result

    def approx_equal(self, other: "S1Interval") -> bool:
        if self.is_empty():
            return other.length() <= 2 * EPSILON
        if other.is_empty():
            return self.length() <= 2 * EPSILON
        if self.is_full():
            return other.length() >= 2 * (PI - EPSILON)
        if other.is_full():
            return self.length() >= 2 * (PI - EPSILON)
        return (
            abs(math.remainder(other.lo - self.lo, 2 * PI)) <= EPSILON
            and abs(math.remainder(other.hi - self.hi, 2 * PI)) <= EPSILON
            and abs(self.length() - other.length()) <= 2 * EPSILON
        )

    def complement(self) -> "S1Interval":
        if self.lo == self.hi:
            return S1Interval.full()
        return S1Interval(self.hi, self.lo)
