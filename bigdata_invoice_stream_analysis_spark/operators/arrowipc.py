"""Arrow IPC (Feather v2) file metadata — the in-memory-format
interchange file, read from scratch, completing the columnar
control-plane quartet (parquet / ORC / Avro / Arrow IPC).

An Arrow IPC *file* is ``ARROW1\\0\\0`` + a stream of framed
messages + a FOOTER flatbuffer + ``i32 footer_len`` + ``ARROW1``.
Everything interesting is FlatBuffers (the public
``format/*.fbs`` schemas), so the core of this module is a
from-scratch flatbuffers reader: root offset → table → soffset to
vtable → u16 field-offset slots; scalars inline, strings/vectors/
tables behind u32 relative offsets, unions as (type byte, value
table), struct vectors as packed fixed-width records.  On top of it,
the Arrow message shapes: Footer (version, schema, dictionary +
record-batch Blocks), Schema/Field (name, nullable, type union —
Int bit width/signedness, FloatingPoint precision, Utf8, Bool,
Timestamp, List, Struct, ...), and the framed Message → RecordBatch
headers (row length, FieldNode null counts, Buffer extents) that
each Block points at.

The reader is metadata-only by design: schema, batch directory, row
counts, null counts and buffer byte totals come from the footer and
the ~100-byte message headers — array payloads are never decoded
(pyarrow exists for that; the 100 TB use case here is the AUDIT of
shipped IPC/Feather artifacts, same as the parquet/ORC footers).

Cross-validated against pyarrow.ipc in the unit suite (files
pyarrow writes; schemas, batch counts, row totals, null counts).

Reference: n/a (extension surface).
"""

from __future__ import annotations

import struct

MAGIC = b"ARROW1"

TYPE_NAMES = {
    1: "null", 2: "int", 3: "floatingpoint", 4: "binary", 5: "utf8",
    6: "bool", 7: "decimal", 8: "date", 9: "time", 10: "timestamp",
    11: "interval", 12: "list", 13: "struct", 14: "union",
    15: "fixedsizebinary", 16: "fixedsizelist", 17: "map",
    18: "duration", 19: "largebinary", 20: "largeutf8",
    21: "largelist", 22: "runendencoded", 23: "binaryview",
    24: "utf8view", 25: "listview", 26: "largelistview",
}
_FP_PRECISION = {0: "half", 1: "float", 2: "double"}


class _FB:
    """Minimal flatbuffers reader (tables, vtables, scalars,
    strings, vectors, unions, struct vectors) with bounds checks —
    ValueError on anything malformed, per the shared parser
    contract."""

    def __init__(self, data: bytes, base: int = 0) -> None:
        self.data = data
        self.base = base

    def _i(self, fmt: str, pos: int) -> int:
        size = struct.calcsize(fmt)
        if pos < 0 or pos + size > len(self.data):
            raise ValueError("flatbuffers: out-of-bounds read")
        return struct.unpack_from(fmt, self.data, pos)[0]

    def root(self) -> int:
        return self.base + self._i("<I", self.base)

    def field_pos(self, table: int, slot: int) -> int | None:
        """Absolute position of field ``slot`` (0-based) of the
        table at ``table``, or None when absent."""
        vtab = table - self._i("<i", table)
        vsize = self._i("<H", vtab)
        off = 4 + 2 * slot
        if off + 2 > vsize:
            return None
        rel = self._i("<H", vtab + off)
        return table + rel if rel else None

    def scalar(self, table: int, slot: int, fmt: str, default=0):
        pos = self.field_pos(table, slot)
        return default if pos is None else self._i(fmt, pos)

    def offset(self, table: int, slot: int) -> int | None:
        pos = self.field_pos(table, slot)
        if pos is None:
            return None
        return pos + self._i("<I", pos)

    def string(self, table: int, slot: int) -> str | None:
        pos = self.offset(table, slot)
        if pos is None:
            return None
        n = self._i("<I", pos)
        if pos + 4 + n > len(self.data):
            raise ValueError("flatbuffers: string exceeds buffer")
        return self.data[pos + 4 : pos + 4 + n].decode(
            "utf-8", "replace")

    def vector(self, table: int, slot: int) -> tuple[int, int] | None:
        """(element_count, first_element_pos) for a vector field."""
        pos = self.offset(table, slot)
        if pos is None:
            return None
        n = self._i("<I", pos)
        return n, pos + 4

    def vector_tables(self, table: int, slot: int) -> list[int]:
        v = self.vector(table, slot)
        if v is None:
            return []
        n, start = v
        if start + 4 * n > len(self.data):
            raise ValueError("flatbuffers: vector exceeds buffer")
        return [start + 4 * i + self._i("<I", start + 4 * i)
                for i in range(n)]


# --- Arrow message shapes --------------------------------------------------


def _field_type(fb: _FB, field: int) -> str:
    ttype = fb.scalar(field, 2, "<b", 0)
    tname = TYPE_NAMES.get(ttype, f"type{ttype}")
    tpos = fb.offset(field, 3)
    if tname == "int" and tpos is not None:
        bits = fb.scalar(tpos, 0, "<i", 0)
        signed = fb.scalar(tpos, 1, "<b", 0)
        return f"{'int' if signed else 'uint'}{bits}"
    if tname == "floatingpoint" and tpos is not None:
        return _FP_PRECISION.get(
            fb.scalar(tpos, 0, "<h", 0), "floatingpoint")
    if tname == "timestamp":
        return "timestamp"
    return tname


def _parse_field(fb: _FB, field: int) -> dict:
    return {
        "name": fb.string(field, 0) or "",
        "nullable": bool(fb.scalar(field, 1, "<b", 0)),
        "type": _field_type(fb, field),
        "n_children": len(fb.vector_tables(field, 5)),
    }


def _parse_blocks(fb: _FB, table: int, slot: int) -> list[dict]:
    v = fb.vector(table, slot)
    if v is None:
        return []
    n, start = v
    # struct Block: i64 offset, i32 metaDataLength, (pad), i64 body
    if start + 24 * n > len(fb.data):
        raise ValueError("arrow: block vector exceeds buffer")
    out = []
    for i in range(n):
        p = start + 24 * i
        out.append({
            "offset": fb._i("<q", p),
            "meta_len": fb._i("<i", p + 8),
            "body_len": fb._i("<q", p + 16),
        })
    return out


def _record_batch_header(data: bytes, block: dict) -> dict:
    """Parse the framed Message at a Block offset and extract the
    RecordBatch header: rows, per-column null counts, buffer bytes."""
    pos = block["offset"]
    if pos + 8 > len(data):
        raise ValueError("arrow: block offset beyond file")
    if struct.unpack_from("<i", data, pos)[0] == -1:  # continuation
        mlen = struct.unpack_from("<i", data, pos + 4)[0]
        mstart = pos + 8
    else:  # pre-1.0 framing without continuation marker
        mlen = struct.unpack_from("<i", data, pos)[0]
        mstart = pos + 4
    if mlen <= 0 or mstart + mlen > len(data):
        raise ValueError("arrow: bad message length")
    fb = _FB(data, mstart)
    msg = fb.root()
    if fb.scalar(msg, 1, "<b", 0) != 3:  # MessageHeader.RecordBatch
        raise ValueError("arrow: block does not hold a RecordBatch")
    rb = fb.offset(msg, 2)
    if rb is None:
        raise ValueError("arrow: message has no header table")
    rows = fb.scalar(rb, 0, "<q", 0)
    nodes = []
    v = fb.vector(rb, 1)
    if v is not None:
        n, start = v
        if start + 16 * n > len(data):
            raise ValueError("arrow: node vector exceeds buffer")
        nodes = [
            {"length": fb._i("<q", start + 16 * i),
             "null_count": fb._i("<q", start + 16 * i + 8)}
            for i in range(n)
        ]
    buf_bytes = 0
    v = fb.vector(rb, 2)
    if v is not None:
        n, start = v
        if start + 16 * n > len(data):
            raise ValueError("arrow: buffer vector exceeds buffer")
        buf_bytes = sum(
            fb._i("<q", start + 16 * i + 8) for i in range(n))
    return {"rows": rows, "nodes": nodes, "buffer_bytes": buf_bytes,
            "body_len": block["body_len"]}


def parse_arrow_file(data: bytes) -> dict:
    """Parse an Arrow IPC file's footer + record-batch headers:
    ``{version, schema: [fields], n_batches, n_dictionaries,
    batches: [{rows, nodes, buffer_bytes}], num_rows}``.
    ValueError on malformed framing (shared contract)."""
    if len(data) < 20 or data[:6] != MAGIC:
        raise ValueError("arrow: missing ARROW1 header magic")
    if data[-6:] != MAGIC:
        raise ValueError("arrow: missing ARROW1 footer magic")
    (flen,) = struct.unpack_from("<i", data, len(data) - 10)
    if flen <= 0 or flen + 10 > len(data):
        raise ValueError("arrow: bad footer length")
    fstart = len(data) - 10 - flen
    try:
        return _parse_footer(data, fstart)
    except (struct.error, IndexError, KeyError, TypeError) as exc:
        raise ValueError(f"arrow: malformed footer ({exc})") from None


def _parse_footer(data: bytes, fstart: int) -> dict:
    fb = _FB(data, fstart)
    footer = fb.root()
    version = fb.scalar(footer, 0, "<h", 0)
    schema_pos = fb.offset(footer, 1)
    fields = []
    if schema_pos is not None:
        fields = [
            _parse_field(fb, f)
            for f in fb.vector_tables(schema_pos, 1)
        ]
    dict_blocks = _parse_blocks(fb, footer, 2)
    rb_blocks = _parse_blocks(fb, footer, 3)
    batches = [_record_batch_header(data, b) for b in rb_blocks]
    return {
        "version": version,
        "schema": fields,
        "n_batches": len(rb_blocks),
        "n_dictionaries": len(dict_blocks),
        "batches": batches,
        "num_rows": sum(b["rows"] for b in batches),
    }
