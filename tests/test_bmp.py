"""BMP/ICO parsing (operators/bmp) — DIB header eras, row
alignment, top-down DIBs, size-consistency lie, ICONDIR entries."""

import struct

import pytest

from bigdata_invoice_stream_analysis_spark.operators.bmp import (
    encode_bmp,
    encode_ico,
    parse_bmp,
    parse_ico,
)


def test_bmp_roundtrip():
    m = parse_bmp(encode_bmp(16, 12, 24))
    assert (m["width"], m["height"], m["bpp"]) == (16, 12, 24)
    assert m["compression"] == "rgb"
    assert not m["top_down"]
    assert m["size_consistent"]


def test_bmp_row_alignment():
    # 3 px × 24 bpp = 9 bytes/row → padded to 12
    m = parse_bmp(encode_bmp(3, 2, 24))
    assert m["expected_pixel_bytes"] == 12 * 2


def test_bmp_top_down():
    m = parse_bmp(encode_bmp(8, 8, top_down=True))
    assert m["top_down"] and m["height"] == 8


def test_bmp_truncated_pixels_flagged():
    m = parse_bmp(encode_bmp(16, 16, lie_size=True))
    assert not m["size_consistent"]


def test_bmp_core_header_era():
    # 12-byte BITMAPCOREHEADER with u16 dims
    dib = struct.pack("<IHHHH", 12, 10, 7, 1, 24)
    head = b"BM" + struct.pack("<III", 26, 0, 26)
    m = parse_bmp(head + dib)
    assert (m["width"], m["height"]) == (10, 7)


def test_bmp_errors():
    with pytest.raises(ValueError, match="BM magic"):
        parse_bmp(b"PNG whatever....??")
    raw = bytearray(encode_bmp())
    struct.pack_into("<I", raw, 14, 999)  # unknown DIB size
    with pytest.raises(ValueError, match="DIB header"):
        parse_bmp(bytes(raw))
    raw = bytearray(encode_bmp())
    struct.pack_into("<H", raw, 28, 13)  # invalid bit depth
    with pytest.raises(ValueError, match="bit depth"):
        parse_bmp(bytes(raw))


def test_ico_png_and_dib_entries():
    png = b"\x89PNG\r\n\x1a\n" + bytes(16)
    dib = b"\x28\x00\x00\x00" + bytes(36)
    ico = encode_ico([(256, 256, png), (16, 16, dib)])
    m = parse_ico(ico)
    assert m["kind"] == "icon"
    assert m["n_images"] == 2
    assert m["max_width"] == 256  # the 0 byte means 256
    assert m["images"][0]["payload_format"] == "png"
    assert m["images"][1]["payload_format"] == "dib"
    assert m["any_png"]


def test_cursor_type():
    dib = b"\x28\x00\x00\x00" + bytes(36)
    assert parse_ico(encode_ico([(32, 32, dib)],
                                cursor=True))["kind"] == "cursor"


def test_ico_errors():
    with pytest.raises(ValueError, match="ICONDIR"):
        parse_ico(b"\x01\x00\x01\x00\x01\x00")
    with pytest.raises(ValueError, match="zero images"):
        parse_ico(struct.pack("<HHH", 0, 1, 0))
    ico = bytearray(encode_ico([(16, 16, bytes(8))]))
    struct.pack_into("<I", ico, 6 + 8, 1 << 20)  # inflate size
    with pytest.raises(ValueError, match="overruns"):
        parse_ico(bytes(ico))
