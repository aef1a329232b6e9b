"""ORC footer metadata audit — the remaining columnar format's
control plane, read from scratch.

Per the public Apache ORC v1 specification, an ORC file ends with:
a protobuf POSTSCRIPT (footer length, compression kind/block size,
version, magic) whose own length is the file's final byte; before it
the protobuf FOOTER (schema type tree, stripe directory, row count,
column statistics), compressed — when the file is compressed — in
ORC's chunked framing: each chunk has a 3-byte little-endian header
``(chunkLength << 1) | isOriginal``.

The protobuf walk reuses the generic wire reader built for TFRecord
(operators/tfrecord.parse_wire — field/wire-type/value triples, no
schema compiler); this module contributes the ORC message shapes
(PostScript, Footer, StripeInformation, Type, ColumnStatistics with
zigzag sint64 integer stats) and the chunked-decompression framing.
Codecs: NONE and ZLIB decode for real (raw deflate, stdlib);
SNAPPY/LZO/LZ4/ZSTD are honestly reported as unsupported.

Cross-validated in the unit suite against pyarrow.orc reading and
writing the same files (rows, stripes, schema, compression).

Scale posture: tail-only reads (postscript + footer), Arrow
mapInPandas one file per row — the offsets-not-contents posture of
the parquet footer audit applied to ORC.

Reference: n/a (extension surface).
"""

from __future__ import annotations

import struct
import zlib

from bigdata_invoice_stream_analysis_spark.operators.tfrecord import (
    parse_wire,
)

COMPRESSION = {0: "NONE", 1: "ZLIB", 2: "SNAPPY", 3: "LZO",
               4: "LZ4", 5: "ZSTD"}
TYPE_KINDS = {
    0: "boolean", 1: "tinyint", 2: "smallint", 3: "int", 4: "bigint",
    5: "float", 6: "double", 7: "string", 8: "binary",
    9: "timestamp", 10: "list", 11: "map", 12: "struct", 13: "union",
    14: "decimal", 15: "date", 16: "varchar", 17: "char",
    18: "timestamp_instant",
}


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
    from bigdata_invoice_stream_analysis_spark.operators.tfrecord import (
        _read_varint,
    )

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


def orc_footer_profile(files):
    """Per-file ORC summary: one row per blob (map-side, tail-only
    reads)."""
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("file_id", T.LongType(), False),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
        T.StructField("compression", T.StringType(), True),
        T.StructField("version", T.StringType(), True),
        T.StructField("num_rows", T.LongType(), True),
        T.StructField("n_stripes", T.IntegerType(), True),
        T.StructField("n_columns", T.IntegerType(), True),
        T.StructField("column_names", T.StringType(), True),
        T.StructField("max_stripe_rows", T.LongType(), True),
        T.StructField("file_bytes", T.LongType(), False),
    ])
    cols = [f.name for f in out_schema.fields]

    def batches(it):
        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.orcmeta import (
            parse_orc_footer,
        )

        for pdf in it:
            out = {k: [] for k in cols}
            for fid, p in zip(pdf["file_id"], pdf["payload"]):
                raw = bytes(p)
                row = dict.fromkeys(cols)
                row["file_id"] = fid
                row["file_bytes"] = len(raw)
                try:
                    meta = parse_orc_footer(raw)
                except ValueError as exc:
                    row["ok"] = False
                    row["error"] = str(exc)[:120]
                else:
                    root = meta["schema"][0] if meta["schema"] else {}
                    srows = [s["num_rows"] for s in meta["stripes"]]
                    row.update(
                        ok=True,
                        compression=meta["compression"],
                        version=meta["version"],
                        num_rows=meta["num_rows"],
                        n_stripes=len(meta["stripes"]),
                        n_columns=len(root.get("field_names", [])),
                        column_names=",".join(
                            root.get("field_names", [])),
                        max_stripe_rows=max(srows, default=None),
                    )
                for k in cols:
                    out[k].append(row[k])
            yield pd.DataFrame(out)

    return files.mapInPandas(batches, schema=out_schema)
