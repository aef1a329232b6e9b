"""EXIF metadata extraction (JPEG APP1 → TIFF IFD walk) — the image
privacy/curation audit.

Scraped photos carry EXIF: orientation (without which a corpus is
full of sideways images), capture timestamps, camera identity, and —
the reason every dataset release pipeline MUST run this pass — GPS
coordinates. This walks the public structures directly: JPEG marker
segments to the APP1 ``Exif\\x00\\x00`` payload, then the TIFF
container (II/MM byte order, magic 42) and its IFD chains: IFD0, the
Exif sub-IFD (tag 0x8769) and the GPS sub-IFD (tag 0x8825). Values
are read for the curation-relevant tags; the GPS IFD's PRESENCE is
the audit bit (a release pipeline strips or rejects — it does not
need the coordinates themselves, and not materializing them is the
safer default; the raw IFD offsets are returned for a pipeline that
must inspect).

No decode dependency: this reads marker/IFD structure only and
composes with the from-scratch T.81 codec in operators/jpeg.py
(which handles pixels) the way the stsd/SPS metadata passes compose
with frame decode on the video side.

Scale posture: Arrow mapInPandas, one row per image, linear marker
scan that stops at SOS (EXIF precedes entropy-coded data by spec).

Reference: n/a (extension surface).
"""

from __future__ import annotations

import struct

# Curation-relevant IFD0 / Exif-IFD tags.
TAG_IMAGE_WIDTH = 0x0100   # baseline TIFF files (not JPEG EXIF)
TAG_IMAGE_LENGTH = 0x0101
TAG_ORIENTATION = 0x0112
TAG_MAKE = 0x010F
TAG_MODEL = 0x0110
TAG_DATETIME = 0x0132
TAG_EXIF_IFD = 0x8769
TAG_GPS_IFD = 0x8825
TAG_PIXEL_X = 0xA002  # Exif IFD: PixelXDimension
TAG_PIXEL_Y = 0xA003

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}


def iter_jpeg_segments(data: bytes):
    """The fill-byte-tolerant JPEG marker walk (T.81 B.1.1.2: any
    number of 0xFF fill bytes may precede a marker), shared by the
    EXIF extractor and the triage dimension scan so the segment
    grammar lives in ONE place. Yields (marker, body_start, body_end)
    for each sized segment, stopping at SOS (entropy-coded data
    follows; all metadata precedes it). Raises ValueError on broken
    marker alignment or a truncated segment header."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"bad JPEG marker alignment at {pos}")
        m = pos + 1
        while m < len(data) and data[m] == 0xFF:
            m += 1
        if m >= len(data):
            return
        marker = data[m]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos = m + 1
            continue
        if marker == 0xDA:
            return
        if m + 3 > len(data):
            raise ValueError("truncated JPEG segment header")
        (seglen,) = struct.unpack(">H", data[m + 1 : m + 3])
        body_end = m + 1 + seglen
        if body_end > len(data):
            raise ValueError("JPEG segment overruns payload")
        yield marker, m + 3, body_end
        pos = body_end


def _parse_ifd(data: bytes, off: int, end: str) -> dict[int, tuple]:
    """One IFD: entry count u16, then 12-byte entries
    (tag u16, type u16, count u32, value-or-offset u32). Returns
    {tag: (type, count, raw_value_bytes_or_inline)}. Out-of-range
    offsets raise — a truncated EXIF block should be visible."""
    if off + 2 > len(data):
        raise ValueError("IFD offset past end of TIFF data")
    (n,) = struct.unpack(end + "H", data[off : off + 2])
    entries: dict[int, tuple] = {}
    pos = off + 2
    if pos + 12 * n > len(data):
        raise ValueError("IFD entry table truncated")
    for _ in range(n):
        tag, typ, count = struct.unpack(end + "HHI", data[pos : pos + 8])
        size = _TYPE_SIZES.get(typ, 1) * count
        if size <= 4:
            raw = data[pos + 8 : pos + 8 + size]
        else:
            (voff,) = struct.unpack(end + "I", data[pos + 8 : pos + 12])
            if voff + size > len(data):
                raise ValueError(f"IFD tag 0x{tag:04x} value out of range")
            raw = data[voff : voff + size]
        entries[tag] = (typ, count, raw)
        pos += 12
    return entries


def _short(entry: tuple, end: str) -> int | None:
    typ, _, raw = entry
    if typ == 3 and len(raw) >= 2:
        return struct.unpack(end + "H", raw[:2])[0]
    if typ == 4 and len(raw) >= 4:
        return struct.unpack(end + "I", raw[:4])[0]
    return None


def _ascii(entry: tuple) -> str | None:
    typ, _, raw = entry
    if typ != 2:
        return None
    return raw.split(b"\x00", 1)[0].decode("ascii", "replace").strip() or None


def parse_exif(payload: bytes) -> dict:
    """Extract the curation/privacy profile from a JPEG's EXIF:
    ``{has_exif, orientation, make, model, datetime, pixel_x,
    pixel_y, has_gps, byte_order}``. Images without an APP1 EXIF
    segment return ``has_exif=False`` with the rest None/False —
    absence is data, not an error. Malformed TIFF structure inside a
    PRESENT EXIF segment raises (silent partial metadata is how GPS
    slips through an audit)."""
    out = {
        "has_exif": False, "orientation": None, "make": None,
        "model": None, "datetime": None, "pixel_x": None,
        "pixel_y": None, "has_gps": False, "byte_order": None,
    }
    data = bytes(payload)
    tiff = None
    for marker, seg_start, seg_end in iter_jpeg_segments(data):
        if marker == 0xE1 and data[seg_start : seg_start + 6] == (
            b"Exif\x00\x00"
        ):
            tiff = data[seg_start + 6 : seg_end]
            break
    if tiff is None:
        return out
    out.update(parse_tiff(tiff))
    return out


def parse_tiff(tiff: bytes) -> dict:
    """The bare TIFF/IFD walk behind parse_exif, shared with bare TIFF
    files in content triage (operators/sniff.py) — same container,
    different wrapper. Returns the same field dict with
    ``has_exif=True``."""
    out = {
        "has_exif": True, "orientation": None, "make": None,
        "model": None, "datetime": None, "pixel_x": None,
        "pixel_y": None, "has_gps": False, "byte_order": None,
        # baseline-TIFF geometry (tags 0x0100/0x0101) — None for JPEG
        # EXIF payloads, set for standalone .tif files and PNG eXIf
        # written from them.
        "image_width": None, "image_height": None,
    }
    if len(tiff) < 8:
        raise ValueError("EXIF TIFF payload shorter than its header")
    if tiff[:2] == b"II":
        end = "<"
    elif tiff[:2] == b"MM":
        end = ">"
    else:
        raise ValueError(f"bad TIFF byte order {tiff[:2]!r}")
    out["byte_order"] = tiff[:2].decode("ascii")
    magic, ifd0_off = struct.unpack(end + "HI", tiff[2:8])
    if magic != 42:
        raise ValueError(f"bad TIFF magic {magic}")
    ifd0 = _parse_ifd(tiff, ifd0_off, end)
    if TAG_IMAGE_WIDTH in ifd0:
        out["image_width"] = _short(ifd0[TAG_IMAGE_WIDTH], end)
    if TAG_IMAGE_LENGTH in ifd0:
        out["image_height"] = _short(ifd0[TAG_IMAGE_LENGTH], end)
    if TAG_ORIENTATION in ifd0:
        out["orientation"] = _short(ifd0[TAG_ORIENTATION], end)
    if TAG_MAKE in ifd0:
        out["make"] = _ascii(ifd0[TAG_MAKE])
    if TAG_MODEL in ifd0:
        out["model"] = _ascii(ifd0[TAG_MODEL])
    if TAG_DATETIME in ifd0:
        out["datetime"] = _ascii(ifd0[TAG_DATETIME])
    if TAG_EXIF_IFD in ifd0:
        sub_off = _short(ifd0[TAG_EXIF_IFD], end)
        if sub_off is None:
            # A pointer tag with a non-integer TIFF type would feed
            # None into _parse_ifd (TypeError) — outside this module's
            # ValueError contract, so it would escape the triage
            # quarantine and kill the whole Spark task (ADVICE r7).
            raise ValueError("Exif IFD pointer tag has a non-offset type")
        sub = _parse_ifd(tiff, sub_off, end)
        if TAG_PIXEL_X in sub:
            out["pixel_x"] = _short(sub[TAG_PIXEL_X], end)
        if TAG_PIXEL_Y in sub:
            out["pixel_y"] = _short(sub[TAG_PIXEL_Y], end)
    if TAG_GPS_IFD in ifd0:
        # Presence + a non-empty IFD = coordinates were written.
        gps_off = _short(ifd0[TAG_GPS_IFD], end)
        if gps_off is None:
            raise ValueError("GPS IFD pointer tag has a non-offset type")
        out["has_gps"] = len(_parse_ifd(tiff, gps_off, end)) > 0
    return out


# ---------------------------------------------------------------------------
# Fixture encoder
# ---------------------------------------------------------------------------


def encode_exif_jpeg(
    *,
    orientation: int | None = 1,
    make: str | None = "FixtureCam",
    datetime: str | None = "2026:01:02 03:04:05",
    pixel_x: int | None = None,
    pixel_y: int | None = None,
    gps: bool = False,
    byte_order: str = "II",
    body: bytes | None = None,
) -> bytes:
    """A minimal JPEG carrying a real EXIF APP1 segment: SOI, APP1
    (TIFF header + IFD0 [+ Exif sub-IFD] [+ GPS sub-IFD]), then either
    ``body`` (e.g. a real scan from operators/jpeg.encode_jpeg,
    SOI-stripped) or a bare EOI."""
    end = "<" if byte_order == "II" else ">"
    if pixel_x is not None and pixel_y is None:
        pixel_y = pixel_x

    def entry(tag, typ, count, raw4):
        return struct.pack(end + "HHI", tag, typ, count) + raw4

    ifd0_entries = []
    if orientation is not None:
        ifd0_entries.append(
            entry(TAG_ORIENTATION, 3, 1,
                  struct.pack(end + "H", orientation) + b"\x00\x00")
        )
    extra = b""
    # Layout: header(8) + IFD0 + [exif sub] + [gps sub] + strings.
    n0 = len(ifd0_entries) + (1 if make else 0) + (
        1 if datetime else 0
    ) + (1 if pixel_x is not None else 0) + (1 if gps else 0)
    ifd0_size = 2 + 12 * n0 + 4
    cursor = 8 + ifd0_size

    sub_blobs = []
    if pixel_x is not None:
        sub = struct.pack(end + "H", 2)
        sub += entry(TAG_PIXEL_X, 4, 1, struct.pack(end + "I", pixel_x))
        sub += entry(TAG_PIXEL_Y, 4, 1, struct.pack(end + "I", pixel_y))
        sub += b"\x00\x00\x00\x00"
        ifd0_entries.append(
            entry(TAG_EXIF_IFD, 4, 1, struct.pack(end + "I", cursor))
        )
        sub_blobs.append(sub)
        cursor += len(sub)
    if gps:
        # One entry: GPSVersionID (tag 0, BYTE x4, inline).
        sub = struct.pack(end + "H", 1)
        sub += entry(0x0000, 1, 4, bytes([2, 3, 0, 0]))
        sub += b"\x00\x00\x00\x00"
        ifd0_entries.append(
            entry(TAG_GPS_IFD, 4, 1, struct.pack(end + "I", cursor))
        )
        sub_blobs.append(sub)
        cursor += len(sub)
    for text, tag in ((make, TAG_MAKE), (datetime, TAG_DATETIME)):
        if text:
            raw = text.encode("ascii") + b"\x00"
            if len(raw) <= 4:
                ifd0_entries.append(
                    entry(tag, 2, len(raw), raw.ljust(4, b"\x00"))
                )
            else:
                ifd0_entries.append(
                    entry(tag, 2, len(raw), struct.pack(end + "I", cursor))
                )
                extra += raw
                cursor += len(raw)

    ifd0_entries.sort(key=lambda e: struct.unpack(end + "H", e[:2])[0])
    assert len(ifd0_entries) == n0
    tiff = (
        byte_order.encode("ascii")
        + struct.pack(end + "HI", 42, 8)
        + struct.pack(end + "H", n0)
        + b"".join(ifd0_entries)
        + b"\x00\x00\x00\x00"
        + b"".join(sub_blobs)
        + extra
    )
    app1_body = b"Exif\x00\x00" + tiff
    app1 = b"\xff\xe1" + struct.pack(">H", len(app1_body) + 2) + app1_body
    tail = body if body is not None else b"\xff\xd9"
    return b"\xff\xd8" + app1 + tail


def exif_profile(media):
    """EXIF privacy/curation profile over (media_id, payload) JPEG
    columns inside Arrow mapInPandas — one row per image: orientation
    / camera / timestamp / true pixel dims and the ``has_gps`` audit
    bit a release pipeline gates on."""
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("has_exif", T.BooleanType(), False),
        T.StructField("orientation", T.IntegerType(), True),
        T.StructField("make", T.StringType(), True),
        T.StructField("model", T.StringType(), True),
        T.StructField("datetime", T.StringType(), True),
        T.StructField("pixel_x", T.IntegerType(), True),
        T.StructField("pixel_y", T.IntegerType(), True),
        T.StructField("has_gps", T.BooleanType(), False),
        T.StructField("byte_order", T.StringType(), True),
    ])
    cols = [f.name for f in out_schema.fields]

    def batches(it):
        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.exif import (
            parse_exif,
        )

        for pdf in it:
            out = {k: [] for k in cols}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                row = parse_exif(bytes(p))
                out["media_id"].append(mid)
                for k in cols[1:]:
                    out[k].append(row[k])
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, schema=out_schema)
