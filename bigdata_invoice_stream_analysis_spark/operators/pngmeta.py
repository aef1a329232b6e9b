"""PNG ancillary-chunk metadata audit — the PNG twin of the EXIF
privacy gate (operators/exif.py handles JPEG; screenshots and web
graphics are PNG, and they leak through different chunks).

Walks the public PNG chunk grammar (ISO 15948 / W3C PNG §5) with CRC
verification and extracts the curation/privacy-relevant ancillary
chunks WITHOUT touching pixel data (operators/multimodal.decode_png
owns pixels — same split as exif vs jpeg):

* ``tEXt`` / ``zTXt`` / ``iTXt`` (§11.3.4): keyword→text pairs —
  where authorship, tooling, and embedded XMP packets live (an
  ``XML:com.adobe.xmp`` iTXt carries the same GPS a stripped EXIF
  did). zTXt/compressed iTXt payloads are really inflated (zlib).
* ``eXIf`` (the 1.5 extension): a raw TIFF payload — decoded through
  the SAME IFD walk as JPEG EXIF (operators/exif.parse_tiff), GPS
  presence included. One TIFF parser, two containers.
* ``tIME`` (last-modification timestamp) and ``pHYs`` (physical
  pixel density) presence.

Scale posture: linear chunk walk, header-only (IDAT skipped), Arrow
mapInPandas, zero shuffles.

Reference: n/a (extension surface).
"""

from __future__ import annotations

import struct
import zlib

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def iter_png_chunks(data: bytes, *, verify_crc: bool = True):
    """Yield (chunk_type, body) for every chunk; CRC mismatches raise
    ValueError (a corrupt screenshot should be visible, not silently
    half-read)."""
    if data[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = len(_PNG_SIG)
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length or pos + 12 + length > len(data):
            raise ValueError(f"PNG chunk {ctype!r} overruns payload")
        (crc,) = struct.unpack(
            ">I", data[pos + 8 + length : pos + 12 + length]
        )
        if verify_crc and zlib.crc32(ctype + body) != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        yield ctype, body
        pos += 12 + length
        if ctype == b"IEND":
            break


def _decode_text_chunk(ctype: bytes, body: bytes) -> tuple[str, str]:
    """(keyword, text) from tEXt / zTXt / iTXt per §11.3.4."""
    if ctype == b"tEXt":
        keyword, _, text = body.partition(b"\x00")
        return keyword.decode("latin-1"), text.decode("latin-1")
    if ctype == b"zTXt":
        keyword, _, rest = body.partition(b"\x00")
        if not rest or rest[0] != 0:
            raise ValueError("zTXt with unknown compression method")
        return keyword.decode("latin-1"), _inflate(rest[1:]).decode("latin-1")
    # iTXt: keyword \0 compflag compmethod lang \0 translated \0 text
    keyword, _, rest = body.partition(b"\x00")
    if len(rest) < 2:
        raise ValueError("iTXt header truncated")
    comp_flag, comp_method = rest[0], rest[1]
    rest = rest[2:]
    _lang, _, rest = rest.partition(b"\x00")
    _translated, _, text = rest.partition(b"\x00")
    if comp_flag:
        if comp_method != 0:
            raise ValueError("iTXt with unknown compression method")
        text = _inflate(text)
    return keyword.decode("latin-1"), text.decode("utf-8", "replace")


def _inflate(data: bytes) -> bytes:
    """zlib.decompress with the module's ValueError contract — a
    corrupt deflate stream must not escape as zlib.error and kill the
    Spark task."""
    try:
        return zlib.decompress(data)
    except zlib.error as exc:
        raise ValueError(f"corrupt compressed text chunk: {exc}") from None


def parse_png_metadata(payload: bytes) -> dict:
    """One metadata/privacy profile per PNG: IHDR geometry, every
    text keyword (values decoded, zTXt/iTXt really inflated), XMP
    presence, eXIf TIFF profile incl. the GPS bit, tIME/pHYs
    presence. Raises ValueError on structural corruption."""
    out = {
        "width": None, "height": None, "bit_depth": None,
        "color_type": None, "interlaced": False,
        "n_chunks": 0, "texts": {},
        "has_xmp": False, "has_exif": False, "has_gps": False,
        "has_time": False, "has_phys": False,
        "exif": None,
    }
    for ctype, body in iter_png_chunks(bytes(payload)):
        out["n_chunks"] += 1
        if ctype == b"IHDR":
            if len(body) != 13:
                raise ValueError("bad IHDR length")
            (out["width"], out["height"], out["bit_depth"],
             out["color_type"], _c, _f, interlace) = struct.unpack(
                ">IIBBBBB", body
            )
            out["interlaced"] = bool(interlace)
        elif ctype in (b"tEXt", b"zTXt", b"iTXt"):
            keyword, text = _decode_text_chunk(ctype, body)
            out["texts"][keyword] = text
            if keyword == "XML:com.adobe.xmp":
                out["has_xmp"] = True
        elif ctype == b"eXIf":
            from bigdata_invoice_stream_analysis_spark.operators.exif import (
                parse_tiff,
            )

            prof = parse_tiff(body)
            out["has_exif"] = True
            out["has_gps"] = prof["has_gps"]
            out["exif"] = prof
        elif ctype == b"tIME":
            out["has_time"] = True
        elif ctype == b"pHYs":
            out["has_phys"] = True
    if out["width"] is None:
        raise ValueError("PNG missing IHDR")
    return out


# ---------------------------------------------------------------------------
# Fixture encoder
# ---------------------------------------------------------------------------


def encode_png_with_metadata(
    *,
    width: int = 4,
    height: int = 3,
    texts: dict[str, str] | None = None,
    ztxt: dict[str, str] | None = None,
    itxt: dict[str, str] | None = None,
    itxt_compressed: bool = False,
    xmp: str | None = None,
    exif_tiff: bytes | None = None,
    time_chunk: bool = False,
    phys: bool = False,
) -> bytes:
    """A valid 8-bit grayscale PNG carrying the requested ancillary
    chunks (real zlib streams, correct CRCs) around a real IDAT."""
    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    out = bytearray(_PNG_SIG)
    out += chunk(
        b"IHDR", struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    )
    for kw, text in (texts or {}).items():
        out += chunk(
            b"tEXt", kw.encode("latin-1") + b"\x00" + text.encode("latin-1")
        )
    for kw, text in (ztxt or {}).items():
        out += chunk(
            b"zTXt",
            kw.encode("latin-1") + b"\x00\x00"
            + zlib.compress(text.encode("latin-1")),
        )
    itxt_all = dict(itxt or {})
    if xmp is not None:
        itxt_all["XML:com.adobe.xmp"] = xmp
    for kw, text in itxt_all.items():
        payload = text.encode("utf-8")
        flag = b"\x01\x00" if itxt_compressed else b"\x00\x00"
        if itxt_compressed:
            payload = zlib.compress(payload)
        out += chunk(
            b"iTXt",
            kw.encode("latin-1") + b"\x00" + flag + b"\x00\x00" + payload,
        )
    if exif_tiff is not None:
        out += chunk(b"eXIf", exif_tiff)
    if time_chunk:
        out += chunk(b"tIME", struct.pack(">HBBBBB", 2026, 1, 2, 3, 4, 5))
    if phys:
        out += chunk(b"pHYs", struct.pack(">IIB", 2835, 2835, 1))
    raw = b"".join(
        b"\x00" + bytes((r * width + c) % 251 for c in range(width))
        for r in range(height)
    )
    out += chunk(b"IDAT", zlib.compress(raw))
    out += chunk(b"IEND", b"")
    return bytes(out)


# ---------------------------------------------------------------------------
# Spark operator
# ---------------------------------------------------------------------------


def png_metadata_profile(media):
    """PNG metadata/privacy profile over (media_id, payload) inside
    Arrow mapInPandas — one row per image with geometry, text-chunk
    keywords (sorted, comma-joined), and the XMP/EXIF/GPS/tIME/pHYs
    audit bits a release pipeline gates on."""
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("bit_depth", T.IntegerType(), False),
        T.StructField("color_type", T.IntegerType(), False),
        T.StructField("n_chunks", T.IntegerType(), False),
        T.StructField("n_texts", T.IntegerType(), False),
        T.StructField("keywords", T.StringType(), False),
        T.StructField("has_xmp", T.BooleanType(), False),
        T.StructField("has_exif", T.BooleanType(), False),
        T.StructField("has_gps", T.BooleanType(), False),
        T.StructField("has_time", T.BooleanType(), False),
        T.StructField("has_phys", T.BooleanType(), False),
    ])
    cols = [f.name for f in out_schema.fields]

    def batches(it):
        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.pngmeta import (
            parse_png_metadata,
        )

        for pdf in it:
            out = {k: [] for k in cols}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                m = parse_png_metadata(bytes(p))
                out["media_id"].append(mid)
                out["width"].append(m["width"])
                out["height"].append(m["height"])
                out["bit_depth"].append(m["bit_depth"])
                out["color_type"].append(m["color_type"])
                out["n_chunks"].append(m["n_chunks"])
                out["n_texts"].append(len(m["texts"]))
                out["keywords"].append(",".join(sorted(m["texts"])))
                for k in ("has_xmp", "has_exif", "has_gps",
                          "has_time", "has_phys"):
                    out[k].append(m[k])
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, schema=out_schema)
