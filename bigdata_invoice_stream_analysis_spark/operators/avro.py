"""Avro object-container ingestion from first principles — the row
format of Kafka archives, Iceberg manifests, and most Hadoop-era
data exchange.

Built against the public Apache Avro 1.11 specification:

* Container framing: ``Obj\\x01`` magic, a file-metadata map
  (``avro.schema`` JSON + ``avro.codec``), a 16-byte sync marker,
  then blocks of ``(object count, byte size, payload, sync)`` — the
  sync marker after every block is what makes Avro splittable, and
  it is verified here (a mismatched sync means corruption or a
  mis-seek, surfaced as ValueError).
* Binary encoding: zigzag base-128 varlongs, little-endian
  float/double, length-prefixed bytes/string, and the schema-driven
  composite forms — records (field order = schema order), enums
  (index), fixeds, arrays and maps (block sequences with optional
  negative-count + byte-size form), unions (branch index varlong).
* Codecs: ``null``, ``deflate`` (raw zlib, the spec's -15 window),
  ``bzip2`` and ``xz`` (both stdlib) decode for real; ``snappy`` /
  ``zstandard`` are honestly reported as unsupported (ValueError).

A matching encoder emits deterministic container files for fixtures
(sorted map keys, minimal zigzag varlongs, single or multi block).

Scale posture: one linear walk per container, map-side inside
content triage (operators/sniff.py).  The sync-marker design means a
100 TB Avro corpus could equally be split WITHIN files at block
boundaries; the per-file walk here is the per-task unit either way.

Reference: n/a (extension surface).
"""

from __future__ import annotations

import bz2
import json
import lzma
import struct
import zlib

MAGIC = b"Obj\x01"


class _Cursor:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def take(self, n: int) -> bytes:
        if n < 0 or self.pos + n > len(self.data):
            raise ValueError("avro: truncated data")
        b = self.data[self.pos : self.pos + n]
        self.pos += n
        return b

    def varlong(self) -> int:
        result = 0
        shift = 0
        while True:
            if self.pos >= len(self.data):
                raise ValueError("avro: truncated varlong")
            if shift > 70:
                raise ValueError("avro: varlong too long")
            b = self.data[self.pos]
            self.pos += 1
            result |= (b & 0x7F) << shift
            if not b & 0x80:
                return (result >> 1) ^ -(result & 1)
            shift += 7

    def bytes_(self) -> bytes:
        return self.take(self.varlong())


# --- schema-driven datum decoding ------------------------------------------


def _named(schema, names: dict):
    """Register/resolve named types so later references ("TypeName")
    decode; returns the schema with references expanded."""
    if isinstance(schema, str) and schema in names:
        return names[schema]
    if isinstance(schema, dict):
        t = schema.get("type")
        if t in ("record", "enum", "fixed") and "name" in schema:
            # full name = namespace.name; register both spellings
            name = schema["name"]
            names[name] = schema
            ns = schema.get("namespace")
            if ns:
                names[f"{ns}.{name}"] = schema
    return schema


def read_datum(cur: _Cursor, schema, names: dict | None = None):
    """Decode one datum per the (JSON-decoded) schema."""
    names = names if names is not None else {}
    schema = _named(schema, names)
    if isinstance(schema, list):  # union
        idx = cur.varlong()
        if not 0 <= idx < len(schema):
            raise ValueError(f"avro: union branch {idx} out of range")
        return read_datum(cur, schema[idx], names)
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            return {
                f["name"]: read_datum(cur, f["type"], names)
                for f in schema["fields"]
            }
        if t == "enum":
            symbols = schema["symbols"]
            idx = cur.varlong()
            if not 0 <= idx < len(symbols):
                raise ValueError(f"avro: enum index {idx} out of range")
            return symbols[idx]
        if t == "fixed":
            return cur.take(schema["size"])
        if t == "array":
            out = []
            while True:
                n = cur.varlong()
                if n == 0:
                    return out
                if n < 0:
                    n = -n
                    cur.varlong()  # byte size of block, skippable
                if n > len(cur.data) - cur.pos:
                    raise ValueError("avro: array block count too big")
                for _ in range(n):
                    out.append(read_datum(cur, schema["items"], names))
        if t == "map":
            out = {}
            while True:
                n = cur.varlong()
                if n == 0:
                    return out
                if n < 0:
                    n = -n
                    cur.varlong()
                if n > len(cur.data) - cur.pos:
                    raise ValueError("avro: map block count too big")
                for _ in range(n):
                    k = cur.bytes_().decode("utf-8", "replace")
                    out[k] = read_datum(cur, schema["values"], names)
        # {"type": "string", "logicalType": ...} etc. fall through
        return read_datum(cur, t, names)
    # primitives / named-type references
    if schema == "null":
        return None
    if schema == "boolean":
        return cur.take(1) == b"\x01"
    if schema in ("int", "long"):
        return cur.varlong()
    if schema == "float":
        return struct.unpack("<f", cur.take(4))[0]
    if schema == "double":
        return struct.unpack("<d", cur.take(8))[0]
    if schema == "bytes":
        return cur.bytes_()
    if schema == "string":
        return cur.bytes_().decode("utf-8", "replace")
    if isinstance(schema, str) and names and schema in names:
        return read_datum(cur, names[schema], names)
    raise ValueError(f"avro: unknown schema {schema!r}")


# --- container walk --------------------------------------------------------


def _decompress(codec: str, block: bytes) -> bytes:
    try:
        if codec in ("null", ""):
            return block
        if codec == "deflate":
            return zlib.decompress(block, -15)
        if codec == "bzip2":
            return bz2.decompress(block)
        if codec == "xz":
            return lzma.decompress(block)
    except (zlib.error, lzma.LZMAError, OSError, EOFError) as exc:
        # corrupt compressed block = corrupt file: the shared
        # ValueError contract, not a codec-library leak (fuzz-pinned)
        raise ValueError(f"avro: bad {codec} block ({exc})") from None
    raise ValueError(f"avro: unsupported codec {codec!r}")


def parse_avro(data: bytes, *, max_records: int | None = None) -> dict:
    """Parse one container file: ``{schema, codec, sync, records,
    n_blocks, n_records}``.  Malformed framing (bad magic, sync
    mismatch, truncation) raises ValueError."""
    cur = _Cursor(bytes(data))
    if cur.take(4) != MAGIC:
        raise ValueError("avro: missing Obj\\x01 magic")
    meta: dict[str, bytes] = {}
    while True:
        n = cur.varlong()
        if n == 0:
            break
        if n < 0:
            n = -n
            cur.varlong()
        if n > len(cur.data) - cur.pos:
            raise ValueError("avro: metadata block count too big")
        for _ in range(n):
            k = cur.bytes_().decode("utf-8", "replace")
            meta[k] = cur.bytes_()
    try:
        schema = json.loads(meta.get("avro.schema", b"null"))
    except json.JSONDecodeError as exc:
        raise ValueError(f"avro: bad schema JSON ({exc})") from None
    codec = meta.get("avro.codec", b"null").decode("utf-8", "replace")
    sync = cur.take(16)

    records: list = []
    names: dict = {}
    n_blocks = 0
    n_records = 0
    while cur.pos < len(cur.data):
        count = cur.varlong()
        size = cur.varlong()
        if count < 0 or size < 0:
            raise ValueError("avro: negative block header")
        body = _decompress(codec, cur.take(size))
        if cur.take(16) != sync:
            raise ValueError("avro: sync marker mismatch")
        n_blocks += 1
        n_records += count
        bcur = _Cursor(body)
        for _ in range(count):
            if max_records is not None and len(records) >= max_records:
                break
            try:
                records.append(read_datum(bcur, schema, names))
            except (KeyError, TypeError, AttributeError,
                    struct.error) as exc:
                # A corrupt schema JSON can be valid JSON of the
                # wrong SHAPE (a record without "fields", a string
                # where a dict belongs) — same condition as a parse
                # failure; fuzz-pinned.
                raise ValueError(
                    f"avro: malformed schema/datum ({exc})") from None
    return {
        "schema": schema,
        "codec": codec,
        "sync": sync,
        "records": records,
        "n_blocks": n_blocks,
        "n_records": n_records,
    }


# --- encoder (fixtures) ----------------------------------------------------
