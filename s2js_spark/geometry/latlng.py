"""LatLng pair of radians (semantics of /root/reference/s2/LatLng.ts)."""

from __future__ import annotations

import math
from dataclasses import dataclass

from .point import Point


@dataclass(frozen=True)
class LatLng:
    lat: float
    lng: float

    @staticmethod
    def from_degrees(lat: float, lng: float) -> "LatLng":
        d = math.pi / 180
        return LatLng(lat * d, lng * d)

    @staticmethod
    def from_point(p: Point) -> "LatLng":
        return LatLng(p.latitude(), p.longitude())

    def to_point(self) -> Point:
        return Point.from_latlng_radians(self.lat, self.lng)

    def is_valid(self) -> bool:
        return abs(self.lat) <= math.pi / 2 and abs(self.lng) <= math.pi

    def distance(self, o: "LatLng") -> float:
        dlat = math.sin(0.5 * (o.lat - self.lat))
        dlng = math.sin(0.5 * (o.lng - self.lng))
        x = dlat * dlat + dlng * dlng * math.cos(self.lat) * math.cos(o.lat)
        return 2 * math.atan2(math.sqrt(x), math.sqrt(max(0.0, 1 - x)))
