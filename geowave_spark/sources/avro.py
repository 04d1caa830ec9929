"""Minimal from-scratch Apache Avro Object Container File codec +
Spark reader — the avro ingest-format analog
(extensions/formats/avro/.../GeoWaveAvroIngestPlugin.java reads Avro
container files of feature records through DataFileStream).

Implements the public Avro 1.x specification subset a feature ingest
needs, with zero Avro-library dependency (stdlib + zlib):

- container: `Obj\\x01` magic, file-metadata map (avro.schema /
  avro.codec), 16-byte sync marker, counted blocks, `null` and
  `deflate` (raw DEFLATE) codecs;
- binary encoding: zigzag-varint int/long, IEEE LE float/double,
  length-prefixed bytes/string, boolean, null, enum, fixed, blocked
  arrays and maps, index-prefixed unions, records (fields in order);
- schema: JSON record schemas with nested arrays/maps and
  union-with-null nullability; logical types read as their raw base.

The Spark reader maps the writer schema (read once, driver-side, from
one file header — a metadata-sized read) onto a Spark schema, then
decodes whole files in Arrow-batched mapInPandas tasks.

Byte layout follows the published Avro specification, not any
implementation.
"""

from __future__ import annotations

import json
import struct
import zlib

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geowave_spark.results import result_rows

MAGIC = b"Obj\x01"
SYNC = bytes(range(16))  # fixed deterministic sync marker for writes


# -------------------------------------------------------- binary encoding


def _zz_encode(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


class _Reader:
    def __init__(self, data: bytes):
        self.b = data
        self.pos = 0

    def long(self) -> int:
        u, shift = 0, 0
        while True:
            byte = self.b[self.pos]
            self.pos += 1
            u |= (byte & 0x7F) << shift
            if not byte & 0x80:
                break
            shift += 7
        return (u >> 1) ^ -(u & 1)

    def raw(self, n: int) -> bytes:
        out = self.b[self.pos : self.pos + n]
        self.pos += n
        return out

    def at_end(self) -> bool:
        return self.pos >= len(self.b)


def _encode(schema, val, out: bytearray) -> None:
    t = schema["type"] if isinstance(schema, dict) else schema
    if isinstance(schema, list):  # union
        for i, branch in enumerate(schema):
            bt = branch["type"] if isinstance(branch, dict) else branch
            if (val is None) == (bt == "null"):
                out += _zz_encode(i)
                return _encode(branch, val, out)
        raise ValueError(f"no union branch for {val!r} in {schema}")
    if t == "null":
        return
    if t == "boolean":
        out.append(1 if val else 0)
    elif t in ("int", "long"):
        out += _zz_encode(int(val))
    elif t == "float":
        out += struct.pack("<f", val)
    elif t == "double":
        out += struct.pack("<d", val)
    elif t == "string":
        raw = str(val).encode("utf-8")
        out += _zz_encode(len(raw)) + raw
    elif t == "bytes":
        out += _zz_encode(len(val)) + bytes(val)
    elif t == "fixed":
        out += bytes(val)
    elif t == "enum":
        out += _zz_encode(schema["symbols"].index(val))
    elif t == "array":
        if val:
            out += _zz_encode(len(val))
            for item in val:
                _encode(schema["items"], item, out)
        out += _zz_encode(0)
    elif t == "map":
        if val:
            out += _zz_encode(len(val))
            for k, v in val.items():
                _encode("string", k, out)
                _encode(schema["values"], v, out)
        out += _zz_encode(0)
    elif t == "record":
        for f in schema["fields"]:
            _encode(f["type"], val[f["name"]], out)
    else:
        raise NotImplementedError(f"avro type {t}")


def _decode(schema, r: _Reader):
    t = schema["type"] if isinstance(schema, dict) else schema
    if isinstance(schema, list):  # union
        return _decode(schema[r.long()], r)
    if t == "null":
        return None
    if t == "boolean":
        return r.raw(1) != b"\x00"
    if t in ("int", "long"):
        return r.long()
    if t == "float":
        return struct.unpack("<f", r.raw(4))[0]
    if t == "double":
        return struct.unpack("<d", r.raw(8))[0]
    if t == "string":
        return r.raw(r.long()).decode("utf-8")
    if t == "bytes":
        return r.raw(r.long())
    if t == "fixed":
        return r.raw(schema["size"])
    if t == "enum":
        return schema["symbols"][r.long()]
    if t == "array":
        out = []
        while True:
            n = r.long()
            if n == 0:
                return out
            if n < 0:  # block with byte-size prefix
                n = -n
                r.long()
            for _ in range(n):
                out.append(_decode(schema["items"], r))
    if t == "map":
        out = {}
        while True:
            n = r.long()
            if n == 0:
                return out
            if n < 0:
                n = -n
                r.long()
            for _ in range(n):
                k = r.raw(r.long()).decode("utf-8")
                out[k] = _decode(schema["values"], r)
    if t == "record":
        return {f["name"]: _decode(f["type"], r) for f in schema["fields"]}
    raise NotImplementedError(f"avro type {t}")


# ------------------------------------------------------------- container


def avro_write(path: str, schema: dict, records,
               codec: str = "null", block_records: int = 1000) -> int:
    """Write an Avro Object Container File (null or deflate codec).
    `records` may be any iterable — blocks stream to disk every
    `block_records`, so an export never holds more than one block in
    memory. Returns the record count."""
    meta = {
        "avro.schema": json.dumps(schema).encode(),
        "avro.codec": codec.encode(),
    }
    head = bytearray(MAGIC)
    _encode({"type": "map", "values": "bytes"}, meta, head)
    head += SYNC
    total = 0
    with open(path, "wb") as f:
        f.write(bytes(head))

        def flush(chunk):
            body = bytearray()
            for rec in chunk:
                _encode(schema, rec, body)
            payload = bytes(body)
            if codec == "deflate":
                payload = zlib.compress(payload)[2:-4]  # raw DEFLATE per spec
            f.write(_zz_encode(len(chunk)) + _zz_encode(len(payload)))
            f.write(payload + SYNC)

        buf: list = []
        for rec in records:
            buf.append(rec)
            total += 1
            if len(buf) >= block_records:
                flush(buf)
                buf = []
        if buf:
            flush(buf)
    return total


def avro_read(data: bytes) -> tuple[dict, list[dict]]:
    """Parse container bytes → (writer schema, records)."""
    r = _Reader(bytes(data))
    if r.raw(4) != MAGIC:
        raise ValueError("not an Avro container: bad magic")
    meta = _decode({"type": "map", "values": "bytes"}, r)
    schema = json.loads(meta["avro.schema"].decode())
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise NotImplementedError(f"avro codec {codec}")
    sync = r.raw(16)
    records: list[dict] = []
    while not r.at_end():
        n = r.long()
        size = r.long()
        payload = r.raw(size)
        if codec == "deflate":
            payload = zlib.decompress(payload, wbits=-15)
        br = _Reader(payload)
        for _ in range(n):
            records.append(_decode(schema, br))
        if r.raw(16) != sync:
            raise ValueError("avro block sync mismatch")
    return schema, records


def avro_schema_bytes(data: bytes) -> dict:
    """Writer schema from a container header only (no block decode)."""
    r = _Reader(bytes(data))
    if r.raw(4) != MAGIC:
        raise ValueError("not an Avro container: bad magic")
    meta = _decode({"type": "map", "values": "bytes"}, r)
    return json.loads(meta["avro.schema"].decode())


# ----------------------------------------------------------- spark reader

_SPARK_TYPES = {
    "boolean": "boolean",
    "int": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "bytes": "binary",
    "enum": "string",
    "fixed": "binary",
}


def _spark_type(schema) -> str:
    t = schema["type"] if isinstance(schema, dict) else schema
    if isinstance(schema, list):
        branches = [b for b in schema if (b if isinstance(b, str) else b["type"]) != "null"]
        if len(branches) != 1:
            raise NotImplementedError("only union-with-null supported")
        return _spark_type(branches[0])
    if t in _SPARK_TYPES:
        return _SPARK_TYPES[t]
    if t == "array":
        return f"array<{_spark_type(schema['items'])}>"
    if t == "map":
        return f"map<string,{_spark_type(schema['values'])}>"
    if t == "record":
        inner = ", ".join(
            f"{f['name']}: {_spark_type(f['type'])}" for f in schema["fields"]
        )
        return f"struct<{inner}>"
    raise NotImplementedError(f"avro type {t}")


def read_avro(spark: SparkSession, path) -> DataFrame:
    """Avro container files → DataFrame: the writer schema is read from
    ONE file header driver-side (metadata-sized read) and mapped to the
    Spark schema; whole files then decode in Arrow-batched mapInPandas
    tasks (GeoWaveAvroIngestPlugin's DataFileStream loop, distributed
    one container per task)."""
    files = spark.read.format("binaryFile")
    if not isinstance(path, str):
        path = list(path)
    df = files.load(path).select("path", "content")
    first = df.select("path").limit(1).collect()
    if not first:
        raise ValueError(f"no avro files under {path}")
    # header-sized read: the schema lives in the first few hundred
    # bytes; open the file directly when it is locally reachable and
    # only fall back to collecting one file's bytes otherwise
    p = first[0][0]
    local = p[len("file:") :] if p.startswith("file:") else p
    try:
        with open(local, "rb") as f:
            head = f.read(1 << 16)
        schema = avro_schema_bytes(head)
    except (OSError, ValueError, IndexError):
        blob = df.where(df["path"] == p).select("content").collect()[0][0]
        schema = avro_schema_bytes(bytes(blob))
    if (schema["type"] if isinstance(schema, dict) else schema) != "record":
        raise NotImplementedError("top-level avro schema must be a record")
    fields = [(f["name"], _spark_type(f["type"])) for f in schema["fields"]]
    ddl = ", ".join(f"{n} {t}" for n, t in fields)
    names = [n for n, _t in fields]

    def parse(batches):
        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                _s, recs = avro_read(bytes(content))
                rows.extend(recs)
            yield pd.DataFrame(rows, columns=names)

    return df.select("content").mapInPandas(parse, ddl)


_AVRO_OF_SPARK = {
    "boolean": "boolean",
    "int": "int",
    "smallint": "int",
    "bigint": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "binary": "bytes",
}


def spark_to_avro_schema(schema, name: str = "feature") -> dict:
    """Spark StructType → Avro record schema (the export direction —
    VectorLocalExportCommand.java writes Avro feature collections).
    Every field is union-with-null (Spark columns are nullable by
    default); timestamps export as epoch-microsecond longs."""

    def field_type(dt) -> object:
        s = dt.simpleString()
        if s in _AVRO_OF_SPARK:
            return _AVRO_OF_SPARK[s]
        if s == "timestamp":
            return "long"  # epoch micros, converted by the exporter
        if s.startswith("array<"):
            return {"type": "array", "items": field_type(dt.elementType)}
        if s.startswith("map<"):
            return {"type": "map", "values": field_type(dt.valueType)}
        raise NotImplementedError(f"avro export of spark type {s}")

    return {
        "type": "record",
        "name": name,
        "fields": [
            {"name": f.name, "type": ["null", field_type(f.dataType)]}
            for f in schema.fields
        ],
    }


def export_avro(df, path: str, codec: str = "deflate",
                block_records: int = 10_000) -> int:
    """Export a DataFrame as ONE local Avro container — the
    `vector localexport` path (VectorLocalExportCommand.java: batched
    DataFileWriter with deflate). A local single-file export is
    driver-side by nature; memory stays bounded by reading rows in runs
    of partitions (``results.result_rows``) + per-block flushing (the
    reference's batchSize). Returns rows."""
    schema = spark_to_avro_schema(df.schema)
    # epoch micros computed JVM-side: exact, and independent of the
    # driver's local timezone (a Python datetime round trip is neither)
    df = df.withColumns({
        f.name: F.unix_micros(F.col(f.name)) for f in df.schema.fields
        if f.dataType.simpleString() == "timestamp"
    })
    rows = (row.asDict(recursive=True) for row in result_rows(df))
    return avro_write(path, schema, rows, codec=codec,
                      block_records=block_records)
