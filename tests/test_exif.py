"""EXIF (JPEG APP1 → TIFF IFD): byte orders, tag extraction, GPS
presence audit, absence-is-data semantics, loud truncation errors,
composition with the in-repo JPEG codec, and the Spark operator."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bigdata_invoice_stream_analysis_spark.operators.exif import (
    encode_exif_jpeg,
    exif_profile,
    parse_exif,
)


def test_full_profile_little_endian():
    p = parse_exif(encode_exif_jpeg(
        orientation=6, make="FixtureCam", pixel_x=640, pixel_y=480,
        gps=True,
    ))
    assert p == {
        "has_exif": True,
        "orientation": 6,
        "make": "FixtureCam",
        "model": None,
        "datetime": "2026:01:02 03:04:05",
        "pixel_x": 640,
        "pixel_y": 480,
        "has_gps": True,
        "byte_order": "II",
        # baseline-TIFF geometry tags: absent from JPEG EXIF payloads
        "image_width": None,
        "image_height": None,
    }


def test_big_endian_and_no_gps():
    p = parse_exif(encode_exif_jpeg(byte_order="MM", gps=False))
    assert p["byte_order"] == "MM"
    assert p["orientation"] == 1
    assert p["has_gps"] is False


def test_absence_is_data_not_error():
    from bigdata_invoice_stream_analysis_spark.operators.jpeg import (
        encode_jpeg,
    )

    plain = encode_jpeg(bytes([77] * 64), 8, 8, quality=75)
    p = parse_exif(plain)
    assert p["has_exif"] is False
    assert p["has_gps"] is False
    assert p["orientation"] is None


def test_composes_with_real_jpeg_codec():
    """EXIF APP1 prepended to a real T.81 scan: the codec still
    decodes the pixels and the EXIF walk still finds the segment."""
    from bigdata_invoice_stream_analysis_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    scan = encode_jpeg(bytes([42] * 64), 8, 8, quality=90)
    combined = encode_exif_jpeg(orientation=3, gps=True, body=scan[2:])
    p = parse_exif(combined)
    assert (p["orientation"], p["has_gps"]) == (3, True)
    decoded = decode_jpeg(combined)
    assert decoded["width"] == 8 and decoded["height"] == 8


def test_truncated_exif_raises():
    blob = bytearray(encode_exif_jpeg(gps=True))
    # Point the GPS IFD offset past the end of the TIFF data.
    i = blob.find(b"\x25\x88")  # 0x8825 little-endian
    assert i > 0
    blob[i + 8 : i + 12] = (0xFFFF).to_bytes(4, "little")
    with pytest.raises(ValueError, match="IFD"):
        parse_exif(bytes(blob))
    with pytest.raises(ValueError, match="SOI"):
        parse_exif(b"notajpeg")


@given(
    st.sampled_from(["II", "MM"]),
    st.integers(min_value=1, max_value=8),
    st.booleans(),
    st.one_of(st.none(), st.tuples(
        st.integers(min_value=1, max_value=65535),
        st.integers(min_value=1, max_value=65535),
    )),
    st.one_of(st.none(), st.from_regex(r"[A-Za-z0-9 ]{1,20}",
                                       fullmatch=True)),
)
@settings(max_examples=120, deadline=None)
def test_exif_roundtrip_property(bo, orient, gps, dims, make):
    p = parse_exif(encode_exif_jpeg(
        byte_order=bo, orientation=orient, gps=gps,
        pixel_x=dims[0] if dims else None,
        pixel_y=dims[1] if dims else None,
        make=make,
    ))
    assert p["byte_order"] == bo
    assert p["orientation"] == orient
    assert p["has_gps"] is gps
    assert p["pixel_x"] == (dims[0] if dims else None)
    assert p["make"] == (make.strip() or None if make else None)


def test_exif_profile_operator(spark):
    df = spark.createDataFrame(
        [
            (1, bytearray(encode_exif_jpeg(orientation=8, gps=True))),
            (2, bytearray(encode_exif_jpeg(gps=False, byte_order="MM"))),
        ],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in exif_profile(df).collect()}
    assert rows[1]["has_gps"] is True
    assert rows[1]["orientation"] == 8
    assert rows[2]["has_gps"] is False
    assert rows[2]["byte_order"] == "MM"


def test_fill_bytes_before_marker():
    """T.81 B.1.1.2: 0xFF fill bytes may precede any marker — the GPS
    audit must still find the APP1 segment behind them."""
    jpeg = encode_exif_jpeg(gps=True)
    padded = jpeg[:2] + b"\xff\xff\xff" + jpeg[2:]
    assert parse_exif(padded)["has_gps"] is True


def test_short_tiff_payload_raises_valueerror():
    seg = b"Exif\x00\x00II"
    app1 = b"\xff\xe1" + (len(seg) + 2).to_bytes(2, "big") + seg
    with pytest.raises(ValueError, match="TIFF payload"):
        parse_exif(b"\xff\xd8" + app1 + b"\xff\xd9")


def test_pixel_y_defaults_to_pixel_x():
    p = parse_exif(encode_exif_jpeg(pixel_x=640))
    assert (p["pixel_x"], p["pixel_y"]) == (640, 640)


def test_wrong_type_ifd_pointer_raises_valueerror_not_typeerror():
    """ADVICE r7: an Exif/GPS IFD pointer tag with a non-offset TIFF
    type (e.g. ASCII) must raise ValueError — the module's contract —
    not TypeError, which would escape sniff.triage's quarantine catch
    and kill the whole Spark task for one corrupt blob."""
    import struct

    jpeg = bytearray(encode_exif_jpeg(gps=True))
    # Locate the GPS IFD pointer entry (tag 0x8825) inside the TIFF
    # payload and corrupt its type field from LONG (4) to ASCII (2).
    tiff_start = jpeg.find(b"Exif\x00\x00") + 6
    tag = struct.pack("<H", 0x8825)
    entry = jpeg.find(tag, tiff_start)
    assert entry > 0
    jpeg[entry + 2 : entry + 4] = struct.pack("<H", 2)
    with pytest.raises(ValueError, match="pointer tag"):
        parse_exif(bytes(jpeg))
    # And through the triage dispatcher: quarantine row, not a crash.
    from bigdata_invoice_stream_analysis_spark.operators.sniff import triage

    row = triage(bytes(jpeg))
    assert row["format"] == "jpeg!error"


def test_standalone_tiff_profile():
    """Baseline .tif files route through the SAME IFD walk: geometry
    from tags 0x0100/0x0101 plus the GPS bit, both byte orders."""
    from bigdata_invoice_stream_analysis_spark.operators.exif import parse_tiff
    from fixture_writers import encode_tiff

    for bo in ("II", "MM"):
        t = parse_tiff(encode_tiff(640, 480, orientation=3, gps=True,
                                   byte_order=bo))
        assert (t["image_width"], t["image_height"]) == (640, 480)
        assert t["orientation"] == 3
        assert t["has_gps"] is True
        assert t["byte_order"] == bo
    clean = parse_tiff(encode_tiff(32, 16))
    assert clean["has_gps"] is False
