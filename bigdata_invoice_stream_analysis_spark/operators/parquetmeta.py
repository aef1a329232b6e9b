"""Parquet footer metadata audit — the lakehouse control-plane read.

At 100 TB the most consequential scans are the ones that never touch
data pages: OPTIMIZE planners, row-group pruners, stats-based query
planners and table-health audits all operate on the parquet FOOTER
alone (FileMetaData: schema, row groups, column-chunk offsets, codecs,
encodings, min/max/null statistics).  This module reads that footer
from scratch: the footer is a Thrift **compact-protocol** struct
(`parquet.thrift` in the apache/parquet-format spec), so the core here
is a from-scratch compact-protocol reader — field-id delta headers,
zigzag varints, length-prefixed binaries, size-and-type list headers,
nested structs with their own field-id context — plus the id→name
mapping for the parquet metadata structs.

A matching minimal parquet WRITER (`encode_parquet`) produces real,
readable-by-anyone files for fixtures: PLAIN-encoded INT64 / DOUBLE /
BYTE_ARRAY(UTF8) columns, REQUIRED or OPTIONAL (RLE/bit-width-1
definition levels), UNCOMPRESSED or GZIP column chunks (the one
parquet codec whose machinery ships in the Python stdlib), exact
min/max/null_count statistics, and multi-row-group layout — the unit
suite cross-validates both directions (our parser vs pyarrow's footer
on pyarrow/Spark-written files; pyarrow/DuckDB reading our files).

Scale posture: Arrow mapInPandas, one file per row, and only the tail
of each file is ever examined (magic + footer length + footer bytes)
— the offsets-not-contents posture of the ZIP/TAR walks applied to
the table format itself.

Reference: n/a (extension surface).
"""

from __future__ import annotations

import struct

MAGIC = b"PAR1"

# --- Thrift compact protocol: wire types -----------------------------------
CT_STOP = 0x0
CT_TRUE = 0x1
CT_FALSE = 0x2
CT_BYTE = 0x3
CT_I16 = 0x4
CT_I32 = 0x5
CT_I64 = 0x6
CT_DOUBLE = 0x7
CT_BINARY = 0x8
CT_LIST = 0x9
CT_SET = 0xA
CT_MAP = 0xB
CT_STRUCT = 0xC

PHYSICAL_TYPES = {
    0: "BOOLEAN", 1: "INT32", 2: "INT64", 3: "INT96",
    4: "FLOAT", 5: "DOUBLE", 6: "BYTE_ARRAY", 7: "FIXED_LEN_BYTE_ARRAY",
}
CODECS = {
    0: "UNCOMPRESSED", 1: "SNAPPY", 2: "GZIP", 3: "LZO",
    4: "BROTLI", 5: "LZ4", 6: "ZSTD", 7: "LZ4_RAW",
}
ENCODINGS = {
    0: "PLAIN", 2: "PLAIN_DICTIONARY", 3: "RLE", 4: "BIT_PACKED",
    5: "DELTA_BINARY_PACKED", 6: "DELTA_LENGTH_BYTE_ARRAY",
    7: "DELTA_BYTE_ARRAY", 8: "RLE_DICTIONARY", 9: "BYTE_STREAM_SPLIT",
}
REPETITIONS = {0: "REQUIRED", 1: "OPTIONAL", 2: "REPEATED"}


class _Reader:
    """Thrift compact-protocol reader over a bytes buffer.

    Structs come back as ``{field_id: value}``; the caller maps ids to
    names with the parquet.thrift tables below.  Each struct gets its
    own last-field-id context (the spec's writer pushes/pops it), and
    every length read is bounds-checked so a corrupt footer raises
    ValueError — the module contract shared with the other parsers —
    never an unbounded allocation.
    """

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0

    def _take(self, n: int) -> bytes:
        if n < 0 or self.pos + n > len(self.data):
            raise ValueError("thrift: truncated buffer")
        b = self.data[self.pos:self.pos + n]
        self.pos += n
        return b

    def byte(self) -> int:
        return self._take(1)[0]

    def varint(self) -> int:
        result = 0
        shift = 0
        while True:
            if shift > 70:
                raise ValueError("thrift: varint too long")
            b = self.byte()
            result |= (b & 0x7F) << shift
            if not b & 0x80:
                return result
            shift += 7

    def zigzag(self) -> int:
        n = self.varint()
        return (n >> 1) ^ -(n & 1)

    def binary(self) -> bytes:
        return self._take(self.varint())

    def value(self, ctype: int):
        if ctype == CT_TRUE:
            # Bool OUTSIDE a field header (list element): one byte.
            return self.byte() == CT_TRUE
        if ctype == CT_BYTE:
            return struct.unpack("b", self._take(1))[0]
        if ctype in (CT_I16, CT_I32, CT_I64):
            return self.zigzag()
        if ctype == CT_DOUBLE:
            # parquet-mr (Java thrift) writes compact doubles
            # little-endian; parquet metadata has no double fields in
            # practice, but the branch keeps the reader total.
            return struct.unpack("<d", self._take(8))[0]
        if ctype == CT_BINARY:
            return self.binary()
        if ctype in (CT_LIST, CT_SET):
            return self.list_()
        if ctype == CT_MAP:
            return self.map_()
        if ctype == CT_STRUCT:
            return self.struct()
        raise ValueError(f"thrift: unknown compact type {ctype}")

    def list_(self) -> list:
        head = self.byte()
        size = head >> 4
        etype = head & 0x0F
        if size == 15:
            size = self.varint()
        if size > len(self.data) - self.pos:
            # Every element costs >=1 byte, so this cannot be valid.
            raise ValueError("thrift: list size exceeds buffer")
        return [self.value(etype) for _ in range(size)]

    def map_(self) -> dict:
        size = self.varint()
        if size == 0:
            return {}
        kv = self.byte()
        ktype, vtype = kv >> 4, kv & 0x0F
        if ktype in (CT_LIST, CT_SET, CT_MAP, CT_STRUCT):
            # unhashable key types are not valid for any parquet map
            raise ValueError("thrift: non-primitive map key type")
        if size > len(self.data) - self.pos:
            raise ValueError("thrift: map size exceeds buffer")
        return {self.value(ktype): self.value(vtype) for _ in range(size)}

    def struct(self) -> dict:
        fields: dict[int, object] = {}
        last_fid = 0
        while True:
            head = self.byte()
            if head == CT_STOP:
                return fields
            delta = head >> 4
            ftype = head & 0x0F
            fid = (last_fid + delta) if delta else self.zigzag()
            last_fid = fid
            if ftype == CT_TRUE:
                fields[fid] = True
            elif ftype == CT_FALSE:
                fields[fid] = False
            else:
                fields[fid] = self.value(ftype)


class _Writer:
    """Thrift compact-protocol writer (the fixture-encoder twin)."""

    def __init__(self) -> None:
        self.out = bytearray()

    def varint(self, n: int) -> None:
        if n < 0:
            raise ValueError("thrift: varint must be unsigned")
        while True:
            if n < 0x80:
                self.out.append(n)
                return
            self.out.append((n & 0x7F) | 0x80)
            n >>= 7

    def zigzag(self, n: int) -> None:
        self.varint((n << 1) ^ (n >> 63) if n >= 0 else ((-n << 1) - 1))

    def binary(self, b: bytes) -> None:
        self.varint(len(b))
        self.out += b

    def _value(self, ctype: int, v) -> None:
        if ctype == CT_TRUE:
            self.out.append(CT_TRUE if v else CT_FALSE)
        elif ctype == CT_BYTE:
            self.out += struct.pack("b", v)
        elif ctype in (CT_I16, CT_I32, CT_I64):
            self.zigzag(v)
        elif ctype == CT_DOUBLE:
            self.out += struct.pack("<d", v)
        elif ctype == CT_BINARY:
            self.binary(v.encode() if isinstance(v, str) else v)
        elif ctype == CT_LIST:
            etype, items = v
            if len(items) < 15:
                self.out.append((len(items) << 4) | etype)
            else:
                self.out.append(0xF0 | etype)
                self.varint(len(items))
            for it in items:
                self._value(etype, it)
        elif ctype == CT_STRUCT:
            self.struct(v)
        else:
            raise ValueError(f"thrift: unwritable compact type {ctype}")

    def struct(self, fields: list[tuple[int, int, object]]) -> None:
        """fields: [(field_id, ctype, value)] — need not be sorted;
        compact field headers require ascending ids, so we sort."""
        last_fid = 0
        for fid, ctype, v in sorted(fields, key=lambda f: f[0]):
            if v is None:
                continue
            if ctype in (CT_TRUE, CT_FALSE):
                ftype = CT_TRUE if v else CT_FALSE
            else:
                ftype = ctype
            delta = fid - last_fid
            if 0 < delta <= 15:
                self.out.append((delta << 4) | ftype)
            else:
                self.out.append(ftype)
                self.zigzag(fid)
            last_fid = fid
            if ctype not in (CT_TRUE, CT_FALSE):
                self._value(ctype, v)
        self.out.append(CT_STOP)


# --- parquet.thrift id->name mapping ---------------------------------------

def _schema_element(d: dict) -> dict:
    return {
        "type": PHYSICAL_TYPES.get(d.get(1), d.get(1)),
        "type_length": d.get(2),
        "repetition_type": REPETITIONS.get(d.get(3), d.get(3)),
        "name": _utf8(d.get(4)),
        "num_children": d.get(5, 0),
        "converted_type": d.get(6),
        "field_id": d.get(9),
    }


def _utf8(b) -> str | None:
    if b is None:
        return None
    return b.decode("utf-8", "replace") if isinstance(b, bytes) else str(b)


def _statistics(d: dict | None, ptype: str) -> dict:
    d = d or {}
    # min_value/max_value (5/6) supersede the deprecated min/max (2/1)
    # whose ordering was ill-defined for signed types.
    raw_min = d.get(6, d.get(2))
    raw_max = d.get(5, d.get(1))
    return {
        "null_count": d.get(3),
        "distinct_count": d.get(4),
        "min": decode_stat(ptype, raw_min),
        "max": decode_stat(ptype, raw_max),
        "has_min_max": raw_min is not None or raw_max is not None,
    }


def decode_stat(ptype: str, raw: bytes | None):
    """Decode a statistics value per the physical type, to a STRING
    rendering (audit output column; avoids a union type).  Numeric
    renderings are canonical (int digits; float repr)."""
    if raw is None:
        return None
    if ptype == "BOOLEAN":
        return str(bool(raw[0])).lower() if raw else None
    if ptype == "INT32":
        return str(struct.unpack("<i", raw)[0])
    if ptype == "INT64":
        return str(struct.unpack("<q", raw)[0])
    if ptype == "FLOAT":
        return repr(struct.unpack("<f", raw)[0])
    if ptype == "DOUBLE":
        return repr(struct.unpack("<d", raw)[0])
    # BYTE_ARRAY / FIXED_LEN_BYTE_ARRAY / INT96: render as UTF-8 with
    # replacement (stats on strings are byte-wise truncations anyway).
    return raw.decode("utf-8", "replace")


def _column_meta(d: dict) -> dict:
    ptype = PHYSICAL_TYPES.get(d.get(1), str(d.get(1)))
    return {
        "type": ptype,
        "encodings": [ENCODINGS.get(e, str(e)) for e in d.get(2, [])],
        "path_in_schema": [_utf8(p) for p in d.get(3, [])],
        "codec": CODECS.get(d.get(4), str(d.get(4))),
        "num_values": d.get(5),
        "total_uncompressed_size": d.get(6),
        "total_compressed_size": d.get(7),
        "data_page_offset": d.get(9),
        "index_page_offset": d.get(10),
        "dictionary_page_offset": d.get(11),
        "statistics": _statistics(d.get(12), ptype),
    }


def parse_parquet_footer(data: bytes) -> dict:
    """Parse the FileMetaData footer of a parquet file.

    Reads ONLY the file tail: both magics are checked, the 4-byte
    little-endian footer length is bounds-checked, and the footer
    bytes are walked with the compact-protocol reader.  Raises
    ValueError on anything malformed (shared module contract).
    """
    if len(data) < 12:
        raise ValueError("parquet: file shorter than magic + footer")
    if data[:4] != MAGIC:
        raise ValueError("parquet: missing header magic")
    if data[-4:] != MAGIC:
        if data[-4:] == b"PARE":
            raise ValueError("parquet: encrypted footer (PARE) unsupported")
        raise ValueError("parquet: missing footer magic")
    (flen,) = struct.unpack("<I", data[-8:-4])
    if flen + 12 > len(data):
        raise ValueError("parquet: footer length exceeds file")
    raw = data[len(data) - 8 - flen : len(data) - 8]
    fmd = _Reader(raw).struct()
    try:
        return _map_file_metadata(fmd, flen)
    except (TypeError, AttributeError, KeyError, struct.error) as exc:
        # A corrupt footer can decode a field to the WRONG THRIFT
        # TYPE (an int where a list/struct belongs, a short binary
        # where a stat value belongs); every such shape mismatch is
        # the same condition as a parse failure — fuzz-pinned.
        raise ValueError(
            f"parquet: malformed footer structure ({exc})") from None


def _map_file_metadata(fmd: dict, flen: int) -> dict:
    schema = [_schema_element(s) for s in fmd.get(2, [])]
    leaves = [s for s in schema[1:] if not s["num_children"]]
    row_groups = []
    for rg in fmd.get(4, []):
        chunks = []
        for cc in rg.get(1, []):
            md = cc.get(3)
            chunks.append({
                "file_offset": cc.get(2),
                "meta": _column_meta(md) if md is not None else None,
            })
        row_groups.append({
            "num_rows": rg.get(3),
            "total_byte_size": rg.get(2),
            "total_compressed_size": rg.get(6),
            "file_offset": rg.get(5),
            "columns": chunks,
        })
    return {
        "version": fmd.get(1),
        "num_rows": fmd.get(3),
        "created_by": _utf8(fmd.get(6)),
        "schema": schema,
        "num_leaf_columns": len(leaves),
        "row_groups": row_groups,
        "key_value_metadata": {
            _utf8(kv.get(1)): _utf8(kv.get(2))
            for kv in fmd.get(5, [])
        },
        "footer_bytes": flen,
    }


# --- minimal from-scratch parquet writer (fixture encoder) -----------------

_PHYS = {"int64": 2, "double": 5, "string": 6}
_PLAIN = 0
_RLE = 3


def _plain_encode(typ: str, values: list) -> bytes:
    out = bytearray()
    for v in values:
        if typ == "int64":
            out += struct.pack("<q", v)
        elif typ == "double":
            out += struct.pack("<d", v)
        else:
            b = v.encode() if isinstance(v, str) else bytes(v)
            out += struct.pack("<I", len(b)) + b
    return bytes(out)


def _rle_def_levels(levels: list[int]) -> bytes:
    """RLE/bit-packed-hybrid encode of 0/1 definition levels
    (bit width 1) as run-length RLE runs, with the 4-byte length
    prefix data-page V1 requires."""
    runs = bytearray()
    i = 0
    while i < len(levels):
        j = i
        while j < len(levels) and levels[j] == levels[i]:
            j += 1
        w = _Writer()
        w.varint((j - i) << 1)
        runs += w.out
        runs.append(levels[i])
        i = j
    return struct.pack("<I", len(runs)) + bytes(runs)


def _stat_bytes(typ: str, v) -> bytes:
    if typ == "int64":
        return struct.pack("<q", v)
    if typ == "double":
        return struct.pack("<d", v)
    return v.encode() if isinstance(v, str) else bytes(v)


def encode_parquet(
    columns: list[tuple[str, str, list]],
    *,
    codec: str = "UNCOMPRESSED",
    max_rows_per_group: int | None = None,
    created_by: str = "parquetmeta-writer 1.0",
    key_value_metadata: dict[str, str] | None = None,
) -> bytes:
    """Write a real parquet file: PLAIN encoding, one data page per
    column chunk per row group, exact statistics.

    ``columns``: [(name, type, values)] with type in
    {'int64','double','string'}; a None value makes the whole column
    OPTIONAL (RLE definition levels).  ``codec``: UNCOMPRESSED or
    GZIP.  ``max_rows_per_group`` splits rows into several row groups
    — the multi-row-group layout every pruning/compaction audit is
    about.  The output opens in pyarrow and DuckDB (unit-verified).
    """
    import gzip as _gzip

    if codec not in ("UNCOMPRESSED", "GZIP"):
        raise ValueError(f"parquet writer: unsupported codec {codec}")
    codec_id = 0 if codec == "UNCOMPRESSED" else 2
    if not columns:
        raise ValueError("parquet writer: need at least one column")
    n = len(columns[0][2])
    if any(len(v) != n for _, _, v in columns):
        raise ValueError("parquet writer: ragged columns")
    step = max_rows_per_group or max(n, 1)
    optional = [any(v is None for v in vals) for _, _, vals in columns]

    out = bytearray(MAGIC)
    rg_fields = []
    for start in range(0, n, step):
        rows = min(step, n - start)
        cc_fields = []
        rg_comp = 0
        rg_uncomp = 0
        for (name, typ, vals), opt in zip(columns, optional):
            sl = vals[start:start + rows]
            present = [v for v in sl if v is not None]
            body = b""
            if opt:
                body += _rle_def_levels([int(v is not None) for v in sl])
            body += _plain_encode(typ, present)
            comp = _gzip.compress(body) if codec_id else body
            stats = [(3, CT_I64, len(sl) - len(present))]
            if present:
                stats += [
                    (5, CT_BINARY, _stat_bytes(typ, max(present))),
                    (6, CT_BINARY, _stat_bytes(typ, min(present))),
                    (7, CT_TRUE, True),
                    (8, CT_TRUE, True),
                ]
            hdr = _Writer()
            hdr.struct([
                (1, CT_I32, 0),                 # DATA_PAGE
                (2, CT_I32, len(body)),
                (3, CT_I32, len(comp)),
                (5, CT_STRUCT, [               # DataPageHeader
                    (1, CT_I32, len(sl)),
                    (2, CT_I32, _PLAIN),
                    (3, CT_I32, _RLE),
                    (4, CT_I32, _RLE),
                    (5, CT_STRUCT, stats),
                ]),
            ])
            page_off = len(out)
            out += hdr.out + comp
            chunk_comp = len(hdr.out) + len(comp)
            chunk_uncomp = len(hdr.out) + len(body)
            rg_comp += chunk_comp
            rg_uncomp += chunk_uncomp
            col_md = [
                (1, CT_I32, _PHYS[typ]),
                (2, CT_LIST, (CT_I32, [_PLAIN, _RLE])),
                (3, CT_LIST, (CT_BINARY, [name])),
                (4, CT_I32, codec_id),
                (5, CT_I64, len(sl)),
                (6, CT_I64, chunk_uncomp),
                (7, CT_I64, chunk_comp),
                (9, CT_I64, page_off),
                (12, CT_STRUCT, stats),
            ]
            cc_fields.append((CT_STRUCT, [
                (2, CT_I64, page_off),
                (3, CT_STRUCT, col_md),
            ]))
        rg_fields.append((CT_STRUCT, [
            (1, CT_LIST, (CT_STRUCT, [f[1] for f in cc_fields])),
            (2, CT_I64, rg_uncomp),
            (3, CT_I64, rows),
            (6, CT_I64, rg_comp),
        ]))

    schema_elems = [[(4, CT_BINARY, "schema"),
                     (5, CT_I32, len(columns))]]
    for (name, typ, _), opt in zip(columns, optional):
        el = [
            (1, CT_I32, _PHYS[typ]),
            (3, CT_I32, 1 if opt else 0),
            (4, CT_BINARY, name),
        ]
        if typ == "string":
            el.append((6, CT_I32, 0))  # ConvertedType.UTF8
        schema_elems.append(el)

    fmd = [
        (1, CT_I32, 1),
        (2, CT_LIST, (CT_STRUCT, schema_elems)),
        (3, CT_I64, n),
        (4, CT_LIST, (CT_STRUCT, [f[1] for f in rg_fields])),
        (6, CT_BINARY, created_by),
        # column_orders: TYPE_ORDER for every leaf — without this,
        # readers must ignore min_value/max_value (pyarrow does).
        (7, CT_LIST, (CT_STRUCT,
                      [[(1, CT_STRUCT, [])]] * len(columns))),
    ]
    if key_value_metadata:
        fmd.append((5, CT_LIST, (CT_STRUCT, [
            [(1, CT_BINARY, k), (2, CT_BINARY, v)]
            for k, v in sorted(key_value_metadata.items())
        ])))
    w = _Writer()
    w.struct(fmd)
    out += w.out
    out += struct.pack("<I", len(w.out)) + MAGIC
    return bytes(out)


# --- Spark operators -------------------------------------------------------


def parquet_column_chunks(files):
    """Per-column-chunk audit: one row per (file, row group, column)
    — the table a row-group pruner or OPTIMIZE planner consumes.
    Decoded min/max stats rendered as strings per physical type.
    """
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("file_id", T.LongType(), False),
        T.StructField("row_group", T.IntegerType(), False),
        T.StructField("column_path", T.StringType(), False),
        T.StructField("physical_type", T.StringType(), True),
        T.StructField("codec", T.StringType(), True),
        T.StructField("encodings", T.StringType(), True),
        T.StructField("num_values", T.LongType(), True),
        T.StructField("compressed_bytes", T.LongType(), True),
        T.StructField("uncompressed_bytes", T.LongType(), True),
        T.StructField("data_page_offset", T.LongType(), True),
        T.StructField("has_dictionary", T.BooleanType(), False),
        T.StructField("null_count", T.LongType(), True),
        T.StructField("stat_min", T.StringType(), True),
        T.StructField("stat_max", T.StringType(), True),
    ])
    cols = [f.name for f in out_schema.fields]

    def batches(it):
        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.parquetmeta import (
            parse_parquet_footer,
        )

        for pdf in it:
            out = {k: [] for k in cols}
            for fid, p in zip(pdf["file_id"], pdf["payload"]):
                try:
                    meta = parse_parquet_footer(bytes(p))
                except ValueError:
                    continue
                for gi, rg in enumerate(meta["row_groups"]):
                    for cc in rg["columns"]:
                        md = cc["meta"]
                        if md is None:
                            continue
                        st = md["statistics"]
                        out["file_id"].append(fid)
                        out["row_group"].append(gi)
                        out["column_path"].append(
                            ".".join(md["path_in_schema"]))
                        out["physical_type"].append(md["type"])
                        out["codec"].append(md["codec"])
                        out["encodings"].append(
                            ",".join(sorted(md["encodings"])))
                        out["num_values"].append(md["num_values"])
                        out["compressed_bytes"].append(
                            md["total_compressed_size"])
                        out["uncompressed_bytes"].append(
                            md["total_uncompressed_size"])
                        out["data_page_offset"].append(
                            md["data_page_offset"])
                        out["has_dictionary"].append(
                            md["dictionary_page_offset"] is not None)
                        out["null_count"].append(st["null_count"])
                        out["stat_min"].append(st["min"])
                        out["stat_max"].append(st["max"])
            yield pd.DataFrame(out)

    return files.mapInPandas(batches, schema=out_schema)
