"""Native FLAC metadata parsing (operators/flacmeta) — RFC 9639
block walk, packed STREAMINFO arithmetic, little-endian Vorbis
comments inside the big-endian container, PICTURE risk bit."""

import pytest

from bigdata_invoice_stream_analysis_spark.operators.flacmeta import (
    encode_flac,
    parse_flac,
)


def test_streaminfo_roundtrip():
    m = parse_flac(encode_flac())
    assert m["sample_rate"] == 44100
    assert m["channels"] == 2
    assert m["bits_per_sample"] == 16
    assert m["total_samples"] == 441000
    assert m["duration_ms"] == 441000 * 1000 // 44100
    assert m["md5"] == "00" * 16
    assert m["blocks"][0]["name"] == "streaminfo"


def test_odd_geometry_packing():
    # 20-bit rate, 3-bit channels, 5-bit depth boundaries
    m = parse_flac(encode_flac(
        sample_rate=192000, channels=8, bits_per_sample=24,
        total_samples=(1 << 36) - 1))
    assert m["sample_rate"] == 192000
    assert m["channels"] == 8
    assert m["bits_per_sample"] == 24
    assert m["total_samples"] == (1 << 36) - 1


def test_vorbis_comments_little_endian():
    m = parse_flac(encode_flac(
        tags={"TITLE": "Night Song", "artist": "Ensemble"},
        vendor="libFLAC test"))
    assert m["vendor"] == "libFLAC test"
    assert m["tags"]["TITLE"] == "Night Song"
    # field names are case-insensitive per spec — stored upper
    assert m["tags"]["ARTIST"] == "Ensemble"


def test_picture_block_risk_bit():
    m = parse_flac(encode_flac(
        picture=("image/jpeg", 300, 300, b"\xff\xd8fakejpeg")))
    assert m["has_picture"]
    assert m["picture_mime"] == "image/jpeg"
    assert m["picture_dims"] == "300x300"


def test_padding_and_seektable():
    m = parse_flac(encode_flac(padding=4096, seekpoints=3))
    assert m["padding_bytes"] == 4096
    assert m["has_seektable"]
    names = [b["name"] for b in m["blocks"]]
    assert names == ["streaminfo", "seektable", "padding"]


def test_unknown_total_samples_means_unknown_duration():
    m = parse_flac(encode_flac(total_samples=0))
    assert m["total_samples"] == 0
    assert m["duration_ms"] is None


def test_audio_offset_points_past_prologue():
    raw = encode_flac(frames=b"FRAMESFRAMES")
    m = parse_flac(raw)
    assert raw[m["audio_offset"]:] == b"FRAMESFRAMES"


def test_missing_marker_raises():
    with pytest.raises(ValueError, match="fLaC marker"):
        parse_flac(b"ID3\x04whatever")


def test_zero_sample_rate_rejected():
    raw = bytearray(encode_flac())
    # zero out the 20 rate bits (first 2.5 bytes of the packed group
    # at STREAMINFO offset 10; header is 4 marker + 4 block head)
    base = 8 + 10
    raw[base] = 0
    raw[base + 1] = 0
    raw[base + 2] &= 0x0F
    with pytest.raises(ValueError, match="zero sample rate"):
        parse_flac(bytes(raw))


def test_first_block_must_be_streaminfo():
    # hand-build: fLaC then a PADDING block first
    bad = b"fLaC" + bytes([0x81]) + (4).to_bytes(3, "big") + bytes(4)
    with pytest.raises(ValueError, match="not STREAMINFO"):
        parse_flac(bad)


def test_block_overrun_raises():
    raw = bytearray(encode_flac())
    raw[5:8] = (1 << 20).to_bytes(3, "big")  # inflate block length
    with pytest.raises(ValueError, match="overruns"):
        parse_flac(bytes(raw))


def test_forbidden_type_127():
    bad = b"fLaC" + bytes([0xFF]) + (0).to_bytes(3, "big")
    with pytest.raises(ValueError, match="forbidden"):
        parse_flac(bad)


def test_comment_overrun_raises():
    raw = encode_flac(tags={"A": "b"})
    # find the vorbis comment block and corrupt the entry length
    i = raw.find(b"A=b")
    bad = raw[:i - 4] + b"\xff\xff\xff\x7f" + raw[i:]
    with pytest.raises(ValueError, match="overruns"):
        parse_flac(bad)
