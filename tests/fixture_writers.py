"""Fixture writers: encoders that build test inputs for the package's
parsers (Avro containers, zstd/LZ4 frames, baseline TIFF, xlsx/pptx).
No query or pipeline writes these formats, so the writers live with the
tests that feed their output to ``parse_avro``, ``parse_zstd_frames``,
``parse_lz4_frames``, ``parse_tiff`` and ``parse_ooxml``."""

from __future__ import annotations

import bz2
import json
import lzma
import struct
import zlib

from bigdata_invoice_stream_analysis_spark.operators.avro import MAGIC, _named
from bigdata_invoice_stream_analysis_spark.operators.compression import (
    LZ4_MAGIC,
    ZSTD_MAGIC,
    ZSTD_SKIPPABLE_LO,
)
from bigdata_invoice_stream_analysis_spark.operators.exif import (
    TAG_GPS_IFD,
    TAG_IMAGE_LENGTH,
    TAG_IMAGE_WIDTH,
    TAG_ORIENTATION,
)
from bigdata_invoice_stream_analysis_spark.operators.ooxml import _CT_XML
from bigdata_invoice_stream_analysis_spark.operators.zip import encode_zip

# --- Avro object container -------------------------------------------------


def _zigzag(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63) if n >= 0 else ((-n << 1) - 1)
    out = bytearray()
    while True:
        if u < 0x80:
            out.append(u)
            return bytes(out)
        out.append((u & 0x7F) | 0x80)
        u >>= 7


def write_datum(schema, value, names: dict | None = None) -> bytes:
    names = names if names is not None else {}
    schema = _named(schema, names)
    if isinstance(schema, list):  # union: first matching branch
        for idx, branch in enumerate(schema):
            if _matches(branch, value, names):
                return _zigzag(idx) + write_datum(branch, value, names)
        raise ValueError(f"avro: no union branch for {value!r}")
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            return b"".join(
                write_datum(f["type"], value[f["name"]], names)
                for f in schema["fields"]
            )
        if t == "enum":
            return _zigzag(schema["symbols"].index(value))
        if t == "fixed":
            if len(value) != schema["size"]:
                raise ValueError("avro: fixed size mismatch")
            return bytes(value)
        if t == "array":
            if not value:
                return _zigzag(0)
            body = b"".join(
                write_datum(schema["items"], v, names) for v in value)
            return _zigzag(len(value)) + body + _zigzag(0)
        if t == "map":
            if not value:
                return _zigzag(0)
            body = b""
            for k in sorted(value):
                kb = k.encode()
                body += _zigzag(len(kb)) + kb
                body += write_datum(schema["values"], value[k], names)
            return _zigzag(len(value)) + body + _zigzag(0)
        return write_datum(t, value, names)
    if schema == "null":
        return b""
    if schema == "boolean":
        return b"\x01" if value else b"\x00"
    if schema in ("int", "long"):
        return _zigzag(value)
    if schema == "float":
        return struct.pack("<f", value)
    if schema == "double":
        return struct.pack("<d", value)
    if schema == "bytes":
        return _zigzag(len(value)) + bytes(value)
    if schema == "string":
        b = value.encode()
        return _zigzag(len(b)) + b
    if isinstance(schema, str) and schema in names:
        return write_datum(names[schema], value, names)
    raise ValueError(f"avro: unknown schema {schema!r}")


def _matches(branch, value, names: dict) -> bool:
    branch = _named(branch, names)
    if branch == "null":
        return value is None
    if branch == "boolean":
        return isinstance(value, bool)
    if branch in ("int", "long"):
        return isinstance(value, int) and not isinstance(value, bool)
    if branch in ("float", "double"):
        return isinstance(value, float)
    if branch == "bytes":
        return isinstance(value, (bytes, bytearray))
    if branch == "string":
        return isinstance(value, str)
    if isinstance(branch, dict):
        t = branch["type"]
        if t == "record":
            return isinstance(value, dict)
        if t == "enum":
            return isinstance(value, str) and value in branch["symbols"]
        if t == "array":
            return isinstance(value, list)
        if t == "map":
            return isinstance(value, dict)
        if t == "fixed":
            return isinstance(value, (bytes, bytearray))
    return False


def encode_avro(
    schema,
    records: list,
    *,
    codec: str = "deflate",
    sync: bytes = b"\x00\x01\x02\x03\x04\x05\x06\x07"
                  b"\x08\x09\x0a\x0b\x0c\x0d\x0e\x0f",
    records_per_block: int | None = None,
) -> bytes:
    """Deterministic container file (fixed sync marker, sorted map
    keys)."""
    if len(sync) != 16:
        raise ValueError("avro: sync marker must be 16 bytes")
    names: dict = {}
    out = bytearray(MAGIC)
    meta = {
        "avro.schema": json.dumps(
            schema, sort_keys=True, separators=(",", ":")).encode(),
        "avro.codec": codec.encode(),
    }
    out += _zigzag(len(meta))
    for k in sorted(meta):
        kb = k.encode()
        out += _zigzag(len(kb)) + kb
        out += _zigzag(len(meta[k])) + meta[k]
    out += _zigzag(0)
    out += sync

    step = records_per_block or max(len(records), 1)
    for start in range(0, len(records), step):
        chunk = records[start : start + step]
        body = b"".join(write_datum(schema, r, names) for r in chunk)
        if codec == "deflate":
            comp = zlib.compressobj(6, zlib.DEFLATED, -15)
            payload = comp.compress(body) + comp.flush()
        elif codec == "bzip2":
            payload = bz2.compress(body)
        elif codec == "xz":
            payload = lzma.compress(body)
        elif codec in ("null", ""):
            payload = body
        else:
            raise ValueError(f"avro: unsupported codec {codec!r}")
        out += _zigzag(len(chunk)) + _zigzag(len(payload))
        out += payload + sync
    return bytes(out)



# --- zstd / LZ4 frames -----------------------------------------------------


def encode_zstd_stream(
    frames: list[dict],
) -> bytes:
    """Framing-valid zstd stream for fixtures: each spec ``{blocks:
    [bytes...], content_size, dict_id, checksum, skippable}`` emits
    RAW blocks (stored, not compressed — RFC 8878 block type 0), so
    real decoders can decode the result too."""
    out = bytearray()
    for spec in frames:
        if spec.get("skippable") is not None:
            body = spec["skippable"]
            out += struct.pack("<I", ZSTD_SKIPPABLE_LO | 0xE)
            out += struct.pack("<I", len(body)) + body
            continue
        blocks = spec.get("blocks", [b""])
        content_size = spec.get("content_size")
        dict_id = spec.get("dict_id")
        checksum = spec.get("checksum", False)
        out += struct.pack("<I", ZSTD_MAGIC)
        fhd = 0
        dsize = 0
        if dict_id is not None:
            fhd |= 0x2  # 2-byte dict id
            dsize = 2
        if checksum:
            fhd |= 0x4
        fcs_size = 0
        if content_size is not None:
            fhd |= 0x80  # fcs flag 2 → 4 bytes
            fcs_size = 4
        out.append(fhd)
        out.append(0x58)  # window descriptor: 8MB-ish
        if dsize:
            out += int(dict_id).to_bytes(2, "little")
        if fcs_size:
            out += int(content_size).to_bytes(4, "little")
        for i, b in enumerate(blocks):
            last = 1 if i == len(blocks) - 1 else 0
            head = (len(b) << 3) | (0 << 1) | last  # raw block
            out += bytes((head & 0xFF, (head >> 8) & 0xFF,
                          (head >> 16) & 0xFF))
            out += b
        if checksum:
            out += b"\x00\x00\x00\x00"  # not validated by this walk
    return bytes(out)


def encode_lz4_stream(frames: list[dict]) -> bytes:
    """Framing-valid LZ4 stream: uncompressed blocks (high bit set),
    64KB block max."""
    out = bytearray()
    for spec in frames:
        blocks = spec.get("blocks", [b""])
        content_size = spec.get("content_size")
        out += struct.pack("<I", LZ4_MAGIC)
        flg = 0x40 | 0x20  # version 1, independent
        if content_size is not None:
            flg |= 0x08
        out.append(flg)
        out.append(0x40)  # BD: 64KB max
        if content_size is not None:
            out += struct.pack("<Q", content_size)
        out.append(0x00)  # header checksum (not validated here)
        for b in blocks:
            out += struct.pack("<I", 0x80000000 | len(b))
            out += b
        out += struct.pack("<I", 0)  # EndMark
    return bytes(out)



# --- baseline TIFF ----------------------------------------------------------


def encode_tiff(
    width: int,
    height: int,
    *,
    orientation: int = 1,
    gps: bool = False,
    byte_order: str = "II",
) -> bytes:
    """A minimal standalone baseline-TIFF fixture: header + IFD0 with
    ImageWidth/ImageLength/Orientation (+ a GPS sub-IFD when asked) —
    the .tif shape content_triage routes through the same parse_tiff
    walk as JPEG EXIF and the PNG eXIf chunk."""
    end = "<" if byte_order == "II" else ">"

    def entry(tag, typ, count, raw4):
        return struct.pack(end + "HHI", tag, typ, count) + raw4

    def short4(v):
        return struct.pack(end + "H", v) + b"\x00\x00"

    n0 = 3 + (1 if gps else 0)
    ifd0_size = 2 + 12 * n0 + 4
    cursor = 8 + ifd0_size
    entries = [
        entry(TAG_IMAGE_WIDTH, 3, 1, short4(width)),
        entry(TAG_IMAGE_LENGTH, 3, 1, short4(height)),
        entry(TAG_ORIENTATION, 3, 1, short4(orientation)),
    ]
    sub = b""
    if gps:
        entries.append(
            entry(TAG_GPS_IFD, 4, 1, struct.pack(end + "I", cursor))
        )
        sub = (
            struct.pack(end + "H", 1)
            + entry(0x0000, 1, 4, bytes([2, 3, 0, 0]))
            + b"\x00\x00\x00\x00"
        )
    return (
        byte_order.encode("ascii")
        + struct.pack(end + "HI", 42, 8)
        + struct.pack(end + "H", n0)
        + b"".join(entries)
        + b"\x00\x00\x00\x00"
        + sub
    )



# --- OOXML (xlsx / pptx) ----------------------------------------------------


def encode_minimal_xlsx(strings: list[str], n_sheets: int = 1) -> bytes:
    shared = ('<?xml version="1.0"?><sst>' + "".join(
        f"<si><t>{s}</t></si>" for s in strings) + "</sst>")
    entries = [
        ("[Content_Types].xml", _CT_XML.encode()),
        ("xl/workbook.xml", b'<?xml version="1.0"?><workbook/>'),
        ("xl/sharedStrings.xml", shared.encode()),
    ]
    for i in range(n_sheets):
        entries.append((f"xl/worksheets/sheet{i + 1}.xml",
                        b'<?xml version="1.0"?><worksheet/>'))
    return encode_zip(entries)


def encode_minimal_pptx(slide_texts: list[list[str]]) -> bytes:
    entries = [
        ("[Content_Types].xml", _CT_XML.encode()),
        ("ppt/presentation.xml",
         b'<?xml version="1.0"?><p:presentation/>'),
    ]
    for i, runs in enumerate(slide_texts):
        body = "".join(f"<a:t>{r}</a:t>" for r in runs)
        entries.append((
            f"ppt/slides/slide{i + 1}.xml",
            f'<?xml version="1.0"?><p:sld>{body}</p:sld>'.encode()))
    return encode_zip(entries)

