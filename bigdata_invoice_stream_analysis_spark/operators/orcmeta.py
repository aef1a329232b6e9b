"""ORC footer metadata audit — the remaining columnar format's
control plane, read from scratch.

Per the public Apache ORC v1 specification, an ORC file ends with:
a protobuf POSTSCRIPT (footer length, compression kind/block size,
version, magic) whose own length is the file's final byte; before it
the protobuf FOOTER (schema type tree, stripe directory, row count,
column statistics), compressed — when the file is compressed — in
ORC's chunked framing: each chunk has a 3-byte little-endian header
``(chunkLength << 1) | isOriginal``.

The protobuf walk is a generic wire reader (``parse_wire`` —
field/wire-type/value triples, no schema compiler); on top of it this
module builds the ORC message shapes (PostScript, Footer,
StripeInformation, Type, ColumnStatistics with zigzag sint64 integer
stats) and the chunked-decompression framing.
Codecs: NONE and ZLIB decode for real (raw deflate, stdlib);
SNAPPY/LZO/LZ4/ZSTD are honestly reported as unsupported.

Cross-validated in the unit suite against pyarrow.orc reading and
writing the same files (rows, stripes, schema, compression).

Scale posture: tail-only reads (postscript + footer) — the
offsets-not-contents posture of the parquet footer audit applied to
ORC.

Reference: n/a (extension surface).
"""

from __future__ import annotations

import struct
import zlib

COMPRESSION = {0: "NONE", 1: "ZLIB", 2: "SNAPPY", 3: "LZO",
               4: "LZ4", 5: "ZSTD"}
TYPE_KINDS = {
    0: "boolean", 1: "tinyint", 2: "smallint", 3: "int", 4: "bigint",
    5: "float", 6: "double", 7: "string", 8: "binary",
    9: "timestamp", 10: "list", 11: "map", 12: "struct", 13: "union",
    14: "decimal", 15: "date", 16: "varchar", 17: "char",
    18: "timestamp_instant",
}


# --- protobuf wire walk ----------------------------------------------------


def _read_varint(data: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        if pos >= len(data):
            raise ValueError("protobuf: truncated varint")
        if shift > 70:
            raise ValueError("protobuf: varint too long")
        b = data[pos]
        result |= (b & 0x7F) << shift
        pos += 1
        if not b & 0x80:
            return result, pos
        shift += 7


def parse_wire(data: bytes) -> list[tuple[int, int, object]]:
    """Generic wire walk: ``[(field_number, wire_type, raw_value)]``
    — varints as int, fixed32/64 as raw 4/8 bytes, length-delimited
    as bytes.  Groups (wire types 3/4) are rejected: deprecated
    pre-proto2 syntax no ORC writer emits."""
    out = []
    pos = 0
    while pos < len(data):
        tag, pos = _read_varint(data, pos)
        field, wt = tag >> 3, tag & 0x7
        if wt == 0:
            v, pos = _read_varint(data, pos)
        elif wt == 1:
            if pos + 8 > len(data):
                raise ValueError("protobuf: truncated fixed64")
            v = data[pos : pos + 8]
            pos += 8
        elif wt == 2:
            ln, pos = _read_varint(data, pos)
            if pos + ln > len(data):
                raise ValueError("protobuf: truncated bytes field")
            v = data[pos : pos + ln]
            pos += ln
        elif wt == 5:
            if pos + 4 > len(data):
                raise ValueError("protobuf: truncated fixed32")
            v = data[pos : pos + 4]
            pos += 4
        else:
            raise ValueError(f"protobuf: unsupported wire type {wt}")
        out.append((field, wt, v))
    return out


def _zz(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _fields(data: bytes) -> dict[int, list]:
    out: dict[int, list] = {}
    for f, _wt, v in parse_wire(data):
        out.setdefault(f, []).append(v)
    return out


def _first(d: dict, f: int, default=None):
    return d[f][0] if f in d else default


def _packed_u32(values: list) -> list[int]:
    """repeated uint32 [packed=true]: one length-delimited blob of
    varints (the form ORC writers emit), but tolerate the unpacked
    per-element form too."""
    out: list[int] = []
    for v in values:
        if isinstance(v, int):
            out.append(v)
            continue
        pos = 0
        while pos < len(v):
            x, pos = _read_varint(v, pos)
            out.append(x)
    return out


def _decompress_stream(data: bytes, codec: str) -> bytes:
    """ORC chunked framing: 3-byte LE header per chunk,
    (length << 1) | isOriginal."""
    if codec == "NONE":
        return data
    if codec != "ZLIB":
        raise ValueError(f"orc: unsupported compression {codec}")
    out = bytearray()
    pos = 0
    while pos < len(data):
        if pos + 3 > len(data):
            raise ValueError("orc: truncated chunk header")
        head = data[pos] | (data[pos + 1] << 8) | (data[pos + 2] << 16)
        length = head >> 1
        pos += 3
        if pos + length > len(data):
            raise ValueError("orc: chunk length exceeds stream")
        chunk = data[pos : pos + length]
        pos += length
        if head & 1:  # original (stored) chunk
            out += chunk
        else:
            try:
                out += zlib.decompress(chunk, -15)
            except zlib.error as exc:
                raise ValueError(f"orc: bad zlib chunk ({exc})") from None
    return bytes(out)


def parse_orc_footer(data: bytes) -> dict:
    """Parse the ORC tail: postscript + footer.  Returns
    ``{compression, compression_block, version, magic_ok, num_rows,
    content_length, row_index_stride, stripes: [...], schema:
    [...], column_stats: [...]}``.  Malformed input raises ValueError
    (shared module contract)."""
    if len(data) < 4 or b"ORC" not in data[:4]:
        raise ValueError("orc: missing ORC header magic")
    try:
        return _parse_tail(data)
    except (KeyError, TypeError, AttributeError, struct.error,
            IndexError) as exc:
        # wrong-shaped protobuf = malformed file (same guard pattern
        # as the parquet footer mapper; fuzz-pinned)
        raise ValueError(f"orc: malformed footer ({exc})") from None


def _parse_tail(data: bytes) -> dict:
    ps_len = data[-1]
    if ps_len == 0 or 1 + ps_len > len(data):
        raise ValueError("orc: bad postscript length")
    ps = _fields(data[len(data) - 1 - ps_len : len(data) - 1])
    footer_len = _first(ps, 1, 0)
    codec = COMPRESSION.get(_first(ps, 2, 0), "UNKNOWN")
    version = ".".join(str(v) for v in _packed_u32(ps.get(4, [])))
    magic = _first(ps, 8000, b"")  # PostScript.magic is field 8000
    if 1 + ps_len + footer_len > len(data):
        raise ValueError("orc: footer length exceeds file")
    raw = data[len(data) - 1 - ps_len - footer_len
               : len(data) - 1 - ps_len]
    footer = _fields(_decompress_stream(raw, codec))

    stripes = []
    for s in footer.get(3, []):
        sf = _fields(s)
        stripes.append({
            "offset": _first(sf, 1, 0),
            "index_length": _first(sf, 2, 0),
            "data_length": _first(sf, 3, 0),
            "footer_length": _first(sf, 4, 0),
            "num_rows": _first(sf, 5, 0),
        })
    schema = []
    for t in footer.get(4, []):
        tf = _fields(t)
        schema.append({
            "kind": TYPE_KINDS.get(_first(tf, 1, 0), "unknown"),
            "subtypes": _packed_u32(tf.get(2, [])),
            "field_names": [
                b.decode("utf-8", "replace") for b in tf.get(3, [])],
        })
    stats = []
    for cs in footer.get(7, []):
        cf = _fields(cs)
        row = {"n_values": _first(cf, 1, 0),
               "has_null": bool(_first(cf, 10, 0)),
               "min": None, "max": None}
        if 2 in cf:  # IntegerStatistics (sint64 zigzag)
            isf = _fields(cf[2][0])
            if 1 in isf:
                row["min"] = str(_zz(isf[1][0]))
            if 2 in isf:
                row["max"] = str(_zz(isf[2][0]))
        elif 4 in cf:  # StringStatistics
            ssf = _fields(cf[4][0])
            if 1 in ssf:
                row["min"] = ssf[1][0].decode("utf-8", "replace")
            if 2 in ssf:
                row["max"] = ssf[2][0].decode("utf-8", "replace")
        stats.append(row)

    return {
        "compression": codec,
        "compression_block": _first(ps, 3, 0),
        "version": version,
        "magic_ok": magic == b"ORC",
        "num_rows": _first(footer, 6, 0),
        "content_length": _first(footer, 2, 0),
        "row_index_stride": _first(footer, 8, 0),
        "stripes": stripes,
        "schema": schema,
        "column_stats": stats,
    }
