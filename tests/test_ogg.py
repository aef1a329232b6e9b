"""Ogg container: RFC 3533 framing with REAL page CRCs (pinned to
the spec polynomial), Opus/Vorbis identification, granule-based
duration, corruption contract, Spark profile operator."""

from __future__ import annotations

import random
import struct
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bigdata_invoice_stream_analysis_spark.operators.ogg import (
    encode_minimal_opus,
    encode_ogg_page,
    ogg_crc,
    parse_ogg,
)


def test_crc_spec_properties():
    # CRC of the empty string under this polynomial/config is 0;
    # a known non-trivial vector pins the table direction
    assert ogg_crc(b"") == 0
    assert ogg_crc(b"\x01") == 0x04C11DB7
    a = ogg_crc(b"OggS")
    assert 0 < a < 2**32 and a != ogg_crc(b"OggT")


def test_minimal_opus_roundtrip():
    blob = encode_minimal_opus(
        channels=2, pre_skip=312, n_audio_packets=5,
        samples_per_packet=960)
    meta = parse_ogg(blob)
    assert meta["n_crc_bad"] == 0
    assert meta["n_pages"] == 7  # head + tags + 5 audio
    st = meta["streams"][0x1234]
    assert st["codec"] == "opus"
    assert st["channels"] == 2
    assert st["pre_skip"] == 312
    assert st["sample_rate"] == 48000
    assert st["n_packets"] == 7
    # 5 * 960 samples at 48 kHz = 100 ms exactly
    assert st["duration_ms"] == 100


def test_vorbis_identification():
    ident = (b"\x01vorbis" + struct.pack("<I", 0) + bytes([2])
             + struct.pack("<I", 44100) + b"\x00" * 16)
    blob = encode_ogg_page(7, 0, 0, [ident], bos=True)
    blob += encode_ogg_page(7, 1, 44100, [b"\x05audio"], eos=True)
    st = parse_ogg(blob)["streams"][7]
    assert st["codec"] == "vorbis"
    assert st["channels"] == 2
    assert st["sample_rate"] == 44100
    assert st["duration_ms"] == 1000


def test_large_packet_lacing_continuation():
    big = bytes(range(256)) * 3  # 768 bytes → 3×255 + 3
    blob = encode_ogg_page(1, 0, 0, [b"OpusHead" + bytes([1, 1])
                                     + struct.pack("<H", 0)
                                     + struct.pack("<I", 48000)
                                     + b"\x00\x00\x00"], bos=True)
    blob += encode_ogg_page(1, 1, 960, [big], eos=True)
    meta = parse_ogg(blob)
    st = meta["streams"][1]
    assert st["n_packets"] == 2  # continuation runs count once
    assert meta["n_crc_bad"] == 0


def test_crc_damage_counted_not_fatal():
    blob = bytearray(encode_minimal_opus())
    blob[-1] ^= 0xFF  # corrupt the last audio byte
    meta = parse_ogg(bytes(blob))
    assert meta["n_crc_bad"] == 1
    assert meta["streams"][0x1234]["codec"] == "opus"


def test_corruption_contract():
    blob = encode_minimal_opus()
    rng = random.Random(3)
    for _ in range(400):
        b = bytearray(blob)
        op = rng.random()
        if op < 0.5:
            for _ in range(rng.randint(1, 4)):
                i = rng.randrange(len(b))
                b[i] = rng.randrange(256)
        elif op < 0.85:
            b = b[: rng.randrange(len(b))]
        else:
            b = bytes(rng.randrange(256)
                      for _ in range(rng.randrange(80)))
        try:
            parse_ogg(bytes(b))
        except ValueError:
            pass
    with pytest.raises(ValueError, match="OggS"):
        parse_ogg(b"NotOgg")
