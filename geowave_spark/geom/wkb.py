"""Minimal WKB geometry codec (numpy), replacing the reference's
TWKB/JTS geometry serialization
(core/geotime/src/main/java/org/locationtech/geowave/core/geotime/util/TWKBWriter.java;
PySpark convention geowave_pyspark/types.py:16-33 — geometry travels as
WKB bytes, decoded in Python).

Supported: Point, LineString, Polygon (with holes), MultiPolygon,
MultiPoint — standard little-endian ISO WKB, interoperable with
Shapely/PostGIS/JTS byte-for-byte.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

_POINT = 1
_LINESTRING = 2
_POLYGON = 3
_MULTIPOINT = 4
_MULTIPOLYGON = 6

@dataclass
class Geometry:
    """Lightweight geometry: ``gtype`` + coordinate parts.

    parts layout:
      Point        -> [array [[x, y]]]
      LineString   -> [array Nx2]
      MultiPoint   -> [array Nx2]
      Polygon      -> [ring0 (exterior, closed), ring1.. (holes)]
      MultiPolygon -> polygons flattened; ``poly_ring_counts`` records how
                      many rings belong to each member polygon
    """

    gtype: str
    parts: list  # list[np.ndarray (N,2) float64]
    poly_ring_counts: list = field(default_factory=list)
    _bounds: tuple | None = field(default=None, repr=False, compare=False)

    @property
    def bounds(self) -> tuple[float, float, float, float]:
        # memoized: the keying path asks for bounds 2-3x per geometry
        # (res pick + polyfill grid), and each recompute was a
        # vstack + 4 reductions
        if self._bounds is None:
            allc = self.parts[0] if len(self.parts) == 1 else np.vstack(self.parts)
            self._bounds = (
                float(allc[:, 0].min()),
                float(allc[:, 1].min()),
                float(allc[:, 0].max()),
                float(allc[:, 1].max()),
            )
        return self._bounds

    def polygons(self):
        """Iterate member polygons as lists of rings."""
        if self.gtype == "Polygon":
            yield self.parts
        elif self.gtype == "MultiPolygon":
            i = 0
            for n in self.poly_ring_counts:
                yield self.parts[i : i + n]
                i += n
        else:
            raise TypeError(f"not areal: {self.gtype}")

    def __eq__(self, other):
        return (
            isinstance(other, Geometry)
            and self.gtype == other.gtype
            and len(self.parts) == len(other.parts)
            and all(np.array_equal(a, b) for a, b in zip(self.parts, other.parts))
        )


def point(x: float, y: float) -> Geometry:
    return Geometry("Point", [np.array([[x, y]], dtype=np.float64)])


def linestring(coords) -> Geometry:
    return Geometry("LineString", [np.asarray(coords, dtype=np.float64)])


def _close_ring(a: np.ndarray) -> np.ndarray:
    if not np.array_equal(a[0], a[-1]):
        a = np.vstack([a, a[:1]])
    return a


def polygon(exterior, holes=()) -> Geometry:
    parts = [_close_ring(np.asarray(exterior, dtype=np.float64))]
    for h in holes:
        parts.append(_close_ring(np.asarray(h, dtype=np.float64)))
    return Geometry("Polygon", parts)


def box(x_lo, y_lo, x_hi, y_hi) -> Geometry:
    return polygon(
        [[x_lo, y_lo], [x_hi, y_lo], [x_hi, y_hi], [x_lo, y_hi], [x_lo, y_lo]]
    )


def multipolygon(polys: list[Geometry]) -> Geometry:
    parts, counts = [], []
    for p in polys:
        parts.extend(p.parts)
        counts.append(len(p.parts))
    return Geometry("MultiPolygon", parts, counts)


# ---------------------------------------------------------------- encode


def _ring_bytes(ring: np.ndarray) -> bytes:
    return struct.pack("<I", len(ring)) + ring.astype("<f8").tobytes()


def wkb_dumps(g: Geometry) -> bytes:
    if g.gtype == "Point":
        return b"\x01" + struct.pack("<I", _POINT) + g.parts[0][0].astype("<f8").tobytes()
    if g.gtype == "LineString":
        return b"\x01" + struct.pack("<I", _LINESTRING) + _ring_bytes(g.parts[0])
    if g.gtype == "MultiPoint":
        pts = g.parts[0]
        out = b"\x01" + struct.pack("<II", _MULTIPOINT, len(pts))
        for p in pts:
            out += b"\x01" + struct.pack("<I", _POINT) + p.astype("<f8").tobytes()
        return out
    if g.gtype == "Polygon":
        out = b"\x01" + struct.pack("<II", _POLYGON, len(g.parts))
        for ring in g.parts:
            out += _ring_bytes(ring)
        return out
    if g.gtype == "MultiPolygon":
        polys = list(g.polygons())
        out = b"\x01" + struct.pack("<II", _MULTIPOLYGON, len(polys))
        for rings in polys:
            out += b"\x01" + struct.pack("<II", _POLYGON, len(rings))
            for ring in rings:
                out += _ring_bytes(ring)
        return out
    raise TypeError(g.gtype)


# ---------------------------------------------------------------- decode


def _read_ring(buf: memoryview, off: int) -> tuple[np.ndarray, int]:
    (n,) = struct.unpack_from("<I", buf, off)
    off += 4
    arr = np.frombuffer(buf, dtype="<f8", count=2 * n, offset=off).reshape(n, 2)
    return arr.astype(np.float64), off + 16 * n


def _decode_at(buf: memoryview, off: int):
    endian = buf[off]
    if endian != 1:  # big-endian WKB is rare; normalize if seen
        raise ValueError("only little-endian WKB supported")
    (t,) = struct.unpack_from("<I", buf, off + 1)
    t &= 0xFF  # strip SRID/Z flags
    off += 5
    if t == _POINT:
        arr = np.frombuffer(buf, dtype="<f8", count=2, offset=off).reshape(1, 2)
        return Geometry("Point", [arr.astype(np.float64)]), off + 16
    if t == _LINESTRING:
        arr, off = _read_ring(buf, off)
        return Geometry("LineString", [arr]), off
    if t == _MULTIPOINT:
        (n,) = struct.unpack_from("<I", buf, off)
        off += 4
        pts = []
        for _ in range(n):
            g, off = _decode_at(buf, off)
            pts.append(g.parts[0][0])
        return Geometry("MultiPoint", [np.asarray(pts, dtype=np.float64)]), off
    if t == _POLYGON:
        (n,) = struct.unpack_from("<I", buf, off)
        off += 4
        rings = []
        for _ in range(n):
            r, off = _read_ring(buf, off)
            rings.append(r)
        return Geometry("Polygon", rings), off
    if t == _MULTIPOLYGON:
        (n,) = struct.unpack_from("<I", buf, off)
        off += 4
        parts, counts = [], []
        for _ in range(n):
            g, off = _decode_at(buf, off)
            parts.extend(g.parts)
            counts.append(len(g.parts))
        return Geometry("MultiPolygon", parts, counts), off
    raise ValueError(f"unsupported WKB type {t}")


def wkb_loads(b: bytes) -> Geometry:
    g, _ = _decode_at(memoryview(b), 0)
    return g
