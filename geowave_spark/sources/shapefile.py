"""Minimal from-scratch ESRI Shapefile codec + Spark reader — half of
the geotools-vector ingest analog (extensions/formats/geotools-vector/
.../GeoToolsVectorDataStoreIngestPlugin.java reads any GeoTools
DataStore; shapefile is its canonical on-disk format).

Implements the published ESRI Shapefile Technical Description (1998)
and dBase III subset a vector ingest needs, numpy/struct only:

- .shp: Point (1), PolyLine (3), Polygon (5), MultiPoint (8), Null (0)
  records; mixed-endian header per spec. Z/M variants raise loudly.
- .dbf: dBase III field descriptors, C (character) and N (numeric)
  fields, deleted-record flags honored.
- reader: each .shp is one whole-file task (binaryFile); geometries
  come out as the engine's WKB (geom/wkb.py), attributes as a
  map<string,string> column — the schema-on-read stance; callers cast
  with element_at + try_cast (SimpleFeatureType's typed bindings are
  the CALLER's declaration in this engine, matching how the reference
  requires a feature type per shapefile).

The byte layout follows the public specs, not any implementation.
"""

from __future__ import annotations

import os
import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geowave_spark.geom.predicates import _points_in_ring, _points_on_ring
from geowave_spark.geom.wkb import (
    Geometry,
    _close_ring,
    linestring,
    multipolygon,
    point,
    polygon,
    wkb_dumps,
)

SHAPE_NULL = 0
SHAPE_POINT = 1
SHAPE_POLYLINE = 3
SHAPE_POLYGON = 5
SHAPE_MULTIPOINT = 8

_SUPPORTED = {SHAPE_NULL, SHAPE_POINT, SHAPE_POLYLINE, SHAPE_POLYGON, SHAPE_MULTIPOINT}


# ------------------------------------------------------------------ write


def write_shapefile(
    base_path: str,
    shapes: list[tuple[int, list[np.ndarray]]],
    fields: list[tuple[str, str, int, int]],
    records: list[list],
) -> None:
    """Write base_path.shp/.shx/.dbf.

    shapes: (shape_type, parts) with parts = list of (n,2) float64
    arrays (one part per point/ring/line part). fields: (name, type
    'C'|'N', length, decimals). records: one value list per shape."""
    shp_records = []
    bbox = [np.inf, np.inf, -np.inf, -np.inf]
    for rec_no, (stype, parts) in enumerate(shapes, start=1):
        if stype == SHAPE_NULL:
            content = struct.pack("<i", SHAPE_NULL)
        elif stype == SHAPE_POINT:
            (pt,) = parts
            content = struct.pack("<idd", SHAPE_POINT, pt[0, 0], pt[0, 1])
        elif stype in (SHAPE_POLYLINE, SHAPE_POLYGON, SHAPE_MULTIPOINT):
            pts = np.vstack(parts)
            xmin, ymin = pts.min(axis=0)
            xmax, ymax = pts.max(axis=0)
            if stype == SHAPE_MULTIPOINT:
                content = struct.pack(
                    "<i4di", stype, xmin, ymin, xmax, ymax, len(pts)
                ) + pts.astype("<f8").tobytes()
            else:
                offsets, off = [], 0
                for p in parts:
                    offsets.append(off)
                    off += len(p)
                content = (
                    struct.pack(
                        "<i4dii",
                        stype,
                        xmin,
                        ymin,
                        xmax,
                        ymax,
                        len(parts),
                        len(pts),
                    )
                    + struct.pack(f"<{len(parts)}i", *offsets)
                    + pts.astype("<f8").tobytes()
                )
        else:
            raise ValueError(f"unsupported shape type {stype}")
        if stype != SHAPE_NULL:
            pts = np.vstack(parts)
            bbox[0] = min(bbox[0], pts[:, 0].min())
            bbox[1] = min(bbox[1], pts[:, 1].min())
            bbox[2] = max(bbox[2], pts[:, 0].max())
            bbox[3] = max(bbox[3], pts[:, 1].max())
        shp_records.append(
            struct.pack(">ii", rec_no, len(content) // 2) + content
        )

    if not np.isfinite(bbox[0]):
        bbox = [0.0, 0.0, 0.0, 0.0]
    body = b"".join(shp_records)
    flen_words = (100 + len(body)) // 2

    def header(length_words: int) -> bytes:
        # 100 bytes: BE file code + 20 unused + BE length, then LE
        # version/type + LE bbox (x/y then unused z/m ranges)
        return (
            struct.pack(">i", 9994)
            + b"\0" * 20
            + struct.pack(">i", length_words)
            + struct.pack("<ii", 1000, next(
                (s for s, _p in shapes if s != SHAPE_NULL), SHAPE_NULL
            ))
            + struct.pack("<4d", *bbox)
            + struct.pack("<4d", 0, 0, 0, 0)
        )

    with open(base_path + ".shp", "wb") as f:
        f.write(header(flen_words) + body)

    # .shx index: per-record (offset words, content-length words)
    shx_body, off_words = [], 50
    for rec in shp_records:
        content_words = (len(rec) - 8) // 2
        shx_body.append(struct.pack(">ii", off_words, content_words))
        off_words += len(rec) // 2
    with open(base_path + ".shx", "wb") as f:
        f.write(header(50 + 4 * len(shp_records)) + b"".join(shx_body))

    # .dbf
    rec_size = 1 + sum(l for _n, _t, l, _d in fields)
    hdr_size = 32 + 32 * len(fields) + 1
    out = bytearray()
    out += struct.pack(
        "<B3BIHH20x", 0x03, 95, 1, 1, len(records), hdr_size, rec_size
    )
    for name, ftype, length, dec in fields:
        out += struct.pack(
            "<11sc4xBB14x", name.encode()[:11], ftype.encode(), length, dec
        )
    out += b"\x0d"
    for rec in records:
        out += b" "  # active record
        for (name, ftype, length, dec), val in zip(fields, rec):
            if ftype == "N":
                txt = ("" if val is None else f"{val:.{dec}f}" if dec else str(int(val)))
                if len(txt) > length:
                    raise ValueError(
                        f"dBase N field {name!r} overflow: {txt!r} "
                        f"exceeds width {length}"
                    )
                out += txt.rjust(length).encode()
            else:
                out += str("" if val is None else val).ljust(length).encode()[:length]
    out += b"\x1a"
    with open(base_path + ".dbf", "wb") as f:
        f.write(bytes(out))


# ------------------------------------------------------------------- read


def shp_decode(data: bytes) -> list[tuple[int, int, list[np.ndarray]]]:
    """Parse .shp bytes → [(record_number, shape_type, parts)]."""
    buf = memoryview(bytes(data))
    (code,) = struct.unpack_from(">i", buf, 0)
    if code != 9994:
        raise ValueError("not a shapefile: bad file code")
    (version, ftype) = struct.unpack_from("<ii", buf, 28)
    if version != 1000:
        raise ValueError(f"unsupported shapefile version {version}")
    out = []
    pos = 100
    while pos + 8 <= len(buf):
        rec_no, content_words = struct.unpack_from(">ii", buf, pos)
        pos += 8
        (stype,) = struct.unpack_from("<i", buf, pos)
        if stype not in _SUPPORTED:
            raise NotImplementedError(
                f"unsupported shape type {stype} (Z/M variants not handled)"
            )
        if stype == SHAPE_NULL:
            parts: list[np.ndarray] = []
        elif stype == SHAPE_POINT:
            x, y = struct.unpack_from("<dd", buf, pos + 4)
            parts = [np.array([[x, y]])]
        elif stype == SHAPE_MULTIPOINT:
            (n,) = struct.unpack_from("<i", buf, pos + 36)
            pts = np.frombuffer(buf, "<f8", 2 * n, pos + 40).reshape(n, 2)
            parts = [pts.copy()]
        else:
            n_parts, n_pts = struct.unpack_from("<ii", buf, pos + 36)
            offs = list(
                struct.unpack_from(f"<{n_parts}i", buf, pos + 44)
            ) + [n_pts]
            pts = np.frombuffer(
                buf, "<f8", 2 * n_pts, pos + 44 + 4 * n_parts
            ).reshape(n_pts, 2)
            parts = [
                pts[offs[i] : offs[i + 1]].copy() for i in range(n_parts)
            ]
        out.append((rec_no, stype, parts))
        pos += content_words * 2
    return out


_RING_PROBE = 16  # vertices of one ring tested against another at once


def polygon_from_rings(rings: list[np.ndarray]) -> Geometry:
    """One Polygon record's rings → a Polygon, or a MultiPolygon when the
    record has more than one outer ring.

    The spec marks holes only by winding (clockwise = outer), which not
    every writer honours, so rings are classified by nesting instead: a
    ring inside an even number of the record's other rings (none, for
    the usual polygon) is an outer ring; one inside an odd number is a
    hole of the innermost outer ring around it. A ring's position is
    tested at its first vertex that is not on the other ring.

    Cost stays linear in the vertices of the rings compared: only pairs
    whose bounding boxes nest are tested, and a ring's vertices go
    against the other ring ``_RING_PROBE`` at a time, so the first
    slice almost always decides (an all-pairs vertex × segment test of
    a 50k-vertex outline and its 20k-vertex hole would need ~8 GB)."""
    rings = [_close_ring(np.asarray(r, dtype=np.float64)) for r in rings]
    if len(rings) == 1:
        return polygon(rings[0])
    lo = np.array([r.min(axis=0) for r in rings])
    hi = np.array([r.max(axis=0) for r in rings])

    def inside(a: np.ndarray, b: np.ndarray) -> bool:
        for k in range(0, len(a), _RING_PROBE):
            s = a[k : k + _RING_PROBE]
            off = ~_points_on_ring(s[:, 0], s[:, 1], b)
            if off.any():
                i = int(off.argmax())
                return bool(_points_in_ring(s[i : i + 1, 0], s[i : i + 1, 1], b)[0])
        return False

    around = []
    for i, a in enumerate(rings):
        boxed = ((lo[i] >= lo) & (hi[i] <= hi)).all(axis=1)
        boxed[i] = False
        js = np.flatnonzero(boxed).tolist()
        around.append([j for j in js if inside(a, rings[j])])
    depth = [len(js) for js in around]
    parent = {}
    for i, js in enumerate(around):
        outers = [j for j in js if depth[j] % 2 == 0]
        if depth[i] % 2 and outers:
            parent[i] = max(outers, key=depth.__getitem__)
    holes = {i: [] for i in range(len(rings)) if i not in parent}
    for i, p in parent.items():
        holes[p].append(rings[i])
    polys = [polygon(rings[i], hs) for i, hs in holes.items()]
    return polys[0] if len(polys) == 1 else multipolygon(polys)


def dbf_decode(data: bytes, keep_deleted: bool = False) -> pd.DataFrame:
    """Parse .dbf bytes → DataFrame of string values (numeric
    conversion is the caller's cast — the map<string,string>
    schema-on-read stance). Deleted records are dropped by default;
    ``keep_deleted=True`` keeps them (flagged in a ``_deleted``
    column) so POSITIONAL consumers stay aligned — dBase record i
    always corresponds to shape record i, deleted or not."""
    buf = bytes(data)
    n_rec, hdr_size, rec_size = struct.unpack_from("<IHH", buf, 4)
    fields = []
    pos = 32
    while pos < hdr_size - 1 and buf[pos] != 0x0D:
        name = buf[pos : pos + 11].split(b"\0")[0].decode("ascii")
        length = buf[pos + 16]
        fields.append((name, length))
        pos += 32
    rows = []
    pos = hdr_size
    for _ in range(n_rec):
        rec = buf[pos : pos + rec_size]
        pos += rec_size
        if not rec:
            continue
        deleted = rec[0:1] == b"*"
        if deleted and not keep_deleted:
            continue
        vals, off = {}, 1
        for name, length in fields:
            raw_f = rec[off : off + length]
            # deleted records routinely hold stale/garbage bytes (only
            # the flag byte changes on deletion) — decode them leniently;
            # active records keep the strict dBase-ASCII contract
            vals[name] = raw_f.decode(
                "ascii", errors="replace" if deleted else "strict"
            ).strip()
            off += length
        if keep_deleted:
            vals["_deleted"] = deleted
        rows.append(vals)
    cols = [n for n, _l in fields] + (["_deleted"] if keep_deleted else [])
    return pd.DataFrame(rows, columns=cols)


_READER_SCHEMA = (
    "file string, fid int, shape_type int, geometry binary, "
    "attrs map<string,string>"
)


def read_shapefile(spark: SparkSession, path) -> DataFrame:
    """Shapefiles → feature rows: one whole-.shp task per file; the
    sibling .dbf rides in via a basename equi-join of two binaryFile
    scans (both through Spark's IO layer, so any Hadoop filesystem
    works — no executor-local `open()`), attributes joined
    positionally (the dBase record order IS the shape record order,
    per spec). Multi-part polygons become one WKB Polygon with rings;
    multi-part polylines one LineString feature per part (the
    reference's feature-per-geometry ingest)."""
    dbf_glob = "*.dbf"
    if isinstance(path, str):
        shp_path = [path]
        if path.endswith(".shp"):
            # a single-.shp call reads ONLY its own sibling .dbf: scan
            # the containing directory with a basename-specific glob
            dbf_path = [os.path.dirname(path) or "."]
            dbf_glob = os.path.basename(path)[: -len(".shp")] + ".dbf"
        else:
            dbf_path = [path]
    else:
        # explicit .shp file list (ingest_directory routing): the .dbf
        # siblings live in the same directories — scan those
        shp_path = list(path)
        dbf_path = sorted({os.path.dirname(p) for p in shp_path})
    base = F.regexp_replace(
        F.element_at(F.split("path", "/"), -1), r"\.(shp|dbf)$", ""
    )
    shp = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.shp")
        .load(shp_path)
        .select(base.alias("base"), "path", F.col("content").alias("shp"))
    )
    dbf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", dbf_glob)
        .load(dbf_path)
        .select(base.alias("base"), F.col("content").alias("dbf"))
    )
    files = shp.join(F.broadcast(dbf), "base", "left")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [c.split(" ")[0] for c in _READER_SCHEMA.split(", ")]
        for pdf in batches:
            rows = []
            for p, content, dbf_bytes in zip(
                pdf["path"], pdf["shp"], pdf["dbf"]
            ):
                attrs = (
                    dbf_decode(bytes(dbf_bytes), keep_deleted=True)
                    if dbf_bytes is not None
                    else None
                )
                fname = p.rsplit("/", 1)[-1]
                for rec_no, stype, parts in shp_decode(bytes(content)):
                    if stype == SHAPE_NULL:
                        wkbs = [None]
                    elif stype == SHAPE_POINT:
                        wkbs = [
                            wkb_dumps(point(parts[0][0, 0], parts[0][0, 1]))
                        ]
                    elif stype == SHAPE_POLYLINE:
                        # one feature per line part (the reference's
                        # feature-per-geometry ingest; WKB here has no
                        # MultiLineString form)
                        wkbs = [wkb_dumps(linestring(q)) for q in parts]
                    elif stype == SHAPE_POLYGON:
                        wkbs = [wkb_dumps(polygon_from_rings(parts))]
                    else:  # MultiPoint
                        wkbs = [
                            wkb_dumps(
                                Geometry(
                                    "MultiPoint",
                                    [np.asarray(parts[0], float)],
                                )
                            )
                        ]
                    if attrs is not None and rec_no - 1 < len(attrs):
                        arow = attrs.iloc[rec_no - 1]
                        # a deleted dBase record keeps its positional
                        # slot (alignment) but contributes no attributes
                        amap = (
                            {}
                            if arow["_deleted"]
                            else {
                                k: v
                                for k, v in arow.items()
                                if k != "_deleted"
                            }
                        )
                    else:
                        amap = {}
                    for wkb in wkbs:
                        rows.append(
                            {
                                "file": fname,
                                "fid": rec_no,
                                "shape_type": stype,
                                "geometry": wkb,
                                "attrs": amap,
                            }
                        )
            yield pd.DataFrame(rows, columns=cols)

    return files.select("path", "shp", "dbf").mapInPandas(
        parse, _READER_SCHEMA
    )
