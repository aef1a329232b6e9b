"""AV1 OBU + sequence-header parsing (operators/av1.py): leb128
vectors, encode→parse roundtrips across the profile/bit-depth/
chroma matrix, OBU-walk framing incl. extension headers, error
contracts, and the Spark operator."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bigdata_invoice_stream_analysis_spark.operators.av1 import (
    OBU_FRAME,
    OBU_PADDING,
    OBU_SEQUENCE_HEADER,
    OBU_TEMPORAL_DELIMITER,
    encode_obu,
    encode_sequence_header,
    parse_obus,
    parse_sequence_header,
    read_leb128,
    write_leb128,
)


@pytest.mark.parametrize("value,encoded", [
    (0, b"\x00"),
    (1, b"\x01"),
    (127, b"\x7f"),
    (128, b"\x80\x01"),
    (16383, b"\xff\x7f"),
    (16384, b"\x80\x80\x01"),
])
def test_leb128_vectors(value, encoded):
    assert write_leb128(value) == encoded
    got, pos = read_leb128(encoded + b"\xAA", 0)
    assert got == value and pos == len(encoded)


def test_leb128_truncated_and_overlong():
    with pytest.raises(ValueError):
        read_leb128(b"\x80", 0)
    with pytest.raises(ValueError):
        read_leb128(b"\x80" * 9, 0)


ROUNDTRIPS = [
    # (kwargs, expected-field subset)
    (dict(), dict(seq_profile=0, max_width=1920, max_height=1080,
                  bit_depth=8, mono_chrome=False, subsampling_x=1,
                  subsampling_y=1, seq_level_idx=8)),
    (dict(seq_profile=0, high_bitdepth=True, max_width=3840,
          max_height=2160, operating_points=[(0, 12, 1)]),
     dict(bit_depth=10, seq_level_idx=12, seq_tier=1,
          max_width=3840, max_height=2160)),
    (dict(seq_profile=1, srgb=True, max_width=640, max_height=480),
     dict(seq_profile=1, subsampling_x=0, subsampling_y=0,
          color_range=1, color_primaries=1)),
    (dict(seq_profile=2, high_bitdepth=True, twelve_bit=True,
          max_width=1280, max_height=720),
     dict(bit_depth=12, subsampling_x=1, subsampling_y=1)),
    (dict(seq_profile=2, high_bitdepth=False),
     dict(bit_depth=8, subsampling_x=1, subsampling_y=0)),
    (dict(seq_profile=0, mono_chrome=True, color_range=1),
     dict(mono_chrome=True, subsampling_x=1, subsampling_y=1,
          color_range=1)),
    (dict(still_picture=True, reduced=True,
          operating_points=[(0, 5, 0)], max_width=512,
          max_height=512, enable_order_hint=False),
     dict(still_picture=True, reduced_still_picture_header=True,
          seq_level_idx=5, order_hint_bits=0)),
    (dict(operating_points=[(0, 8, 0), (0xFFF, 15, 1)]),
     dict(seq_level_idx=8)),
    (dict(film_grain=True, use_128x128_superblock=False),
     dict(film_grain_params_present=True,
          use_128x128_superblock=False)),
]


@pytest.mark.parametrize("kwargs,want", ROUNDTRIPS)
def test_sequence_header_roundtrip(kwargs, want):
    sh = parse_sequence_header(encode_sequence_header(**kwargs))
    for k, v in want.items():
        assert sh[k] == v, (k, sh[k], v)


def test_multi_operating_points_parsed():
    payload = encode_sequence_header(
        operating_points=[(0, 8, 0), (0xFFF, 19, 1), (0x101, 7, 0)]
    )
    sh = parse_sequence_header(payload)
    assert sh["operating_points"] == [
        {"idc": 0, "level": 8, "tier": 0},
        {"idc": 0xFFF, "level": 19, "tier": 1},
        # level 7 carries NO tier bit (§5.5.1: seq_level_idx > 7)
        {"idc": 0x101, "level": 7, "tier": 0},
    ]


def test_obu_walk_framing():
    stream = (
        encode_obu(OBU_TEMPORAL_DELIMITER, b"")
        + encode_obu(OBU_SEQUENCE_HEADER,
                     encode_sequence_header(), temporal_id=2,
                     spatial_id=1)
        + encode_obu(OBU_PADDING, b"\x00" * 300)  # 2-byte leb128
    )
    obus = parse_obus(stream)
    assert [o["type"] for o in obus] == [
        OBU_TEMPORAL_DELIMITER, OBU_SEQUENCE_HEADER, OBU_PADDING]
    assert obus[0]["size"] == 0
    assert obus[1]["temporal_id"] == 2 and obus[1]["spatial_id"] == 1
    assert obus[2]["size"] == 300


def test_obu_errors():
    with pytest.raises(ValueError, match="forbidden"):
        parse_obus(b"\x80\x00")
    with pytest.raises(ValueError, match="size"):
        parse_obus(bytes([OBU_PADDING << 3]) + b"x")  # no size field
    good = encode_obu(OBU_FRAME, b"abcdef")
    with pytest.raises(ValueError, match="overruns"):
        parse_obus(good[:-2])
    with pytest.raises(ValueError, match="reserved seq_profile"):
        parse_sequence_header(b"\xE0\x00\x00")
    with pytest.raises(ValueError, match="still_picture"):
        # reduced flag without still_picture (bits: 000 0 1 ...)
        parse_sequence_header(bytes([0b00001000, 0, 0, 0]))
