"""ADTS/MP3 elementary-stream headers: bit layouts, ID3v2 synchsafe
skip, frame walks, CBR/VBR detection, sync-loss errors, the Spark
sniffing operator, and hypothesis roundtrips over the parameter
lattice."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bigdata_invoice_stream_analysis_spark.operators.mpegaudio import (
    ADTS_RATES,
    audio_stream_profile,
    encode_adts,
    encode_mp3,
    parse_adts,
    parse_id3v2_size,
    parse_mp3,
)

# ---------------------------------------------------------------------------
# ADTS
# ---------------------------------------------------------------------------


def test_adts_roundtrip():
    s = parse_adts(encode_adts(25, aot=2, freq_index=4, channels=2))
    assert s == {
        "container": "adts",
        "codec_string": "mp4a.40.2",
        "sample_rate": 44100,
        "channels": 2,
        "n_frames": 25,
        "duration_ms": 25 * 1024 * 1000 // 44100,
        "bitrate_kbps": s["bitrate_kbps"],
    }
    assert s["bitrate_kbps"] > 0


def test_adts_errors():
    good = encode_adts(3)
    with pytest.raises(ValueError, match="sync lost"):
        parse_adts(b"\x00" + good)
    with pytest.raises(ValueError, match="overruns"):
        parse_adts(good[:-10])
    with pytest.raises(ValueError, match="changed mid-stream"):
        parse_adts(encode_adts(2, freq_index=4) + encode_adts(1, freq_index=3))
    with pytest.raises(ValueError, match="no ADTS frames"):
        parse_adts(b"")
    bad_freq = bytearray(encode_adts(1))
    bad_freq[2] = (bad_freq[2] & 0xC3) | (14 << 2)  # reserved index
    with pytest.raises(ValueError, match="reserved"):
        parse_adts(bytes(bad_freq))


@given(
    st.integers(min_value=1, max_value=20),
    st.integers(min_value=1, max_value=4),
    st.integers(min_value=0, max_value=12),
    st.integers(min_value=1, max_value=7),
    st.integers(min_value=1, max_value=300),
)
@settings(max_examples=100, deadline=None)
def test_adts_roundtrip_property(n, aot, freq_index, channels, payload_len):
    s = parse_adts(encode_adts(n, aot, freq_index, channels, payload_len))
    assert s["codec_string"] == f"mp4a.40.{aot}"
    assert s["sample_rate"] == ADTS_RATES[freq_index]
    assert (s["channels"], s["n_frames"]) == (channels, n)


# ---------------------------------------------------------------------------
# ID3v2 + MP3
# ---------------------------------------------------------------------------


def test_id3v2_synchsafe_size():
    tag = b"ID3\x04\x00\x00\x00\x00\x02\x01" + bytes(0x101)
    assert parse_id3v2_size(tag) == 10 + 0x101
    assert parse_id3v2_size(b"notid3....") == 0
    with pytest.raises(ValueError, match="synchsafe"):
        parse_id3v2_size(b"ID3\x04\x00\x00\x00\x00\x80\x00")
    # footer flag adds 10 bytes
    foot = b"ID3\x04\x00\x10\x00\x00\x00\x05"
    assert parse_id3v2_size(foot) == 10 + 5 + 10


def test_mp3_cbr_roundtrip():
    s = parse_mp3(encode_mp3(30, bitrate_idx=9, rate_idx=0))
    assert s["container"] == "mp3"
    assert s["codec_string"] == "mp4a.6b"  # MPEG-1 audio OTI 0x6B
    assert s["sample_rate"] == 44100
    assert s["channels"] == 2
    assert s["n_frames"] == 30
    assert s["cbr"] is True
    assert s["bitrate_kbps"] == 128.0
    assert s["duration_ms"] == 30 * 1152 * 1000 // 44100


def test_mp3_vbr_id3_mono_mpeg2():
    s = parse_mp3(
        encode_mp3(20, bitrate_idx=9, vbr_alternate_idx=11,
                   id3_size=200, mpeg1=False, stereo=False, rate_idx=1)
    )
    assert s["codec_string"] == "mp4a.69"  # MPEG-2 audio OTI 0x69
    assert s["sample_rate"] == 24000       # 48000 // 2
    assert s["channels"] == 1
    assert s["cbr"] is False
    # frame-weighted mean of alternating 80/112 kbps (V2L3 idx 9/11)
    assert s["bitrate_kbps"] == pytest.approx((80 + 112) / 2)
    assert s["duration_ms"] == 20 * 576 * 1000 // 24000


def test_mp3_errors():
    good = encode_mp3(3)
    with pytest.raises(ValueError, match="sync lost"):
        parse_mp3(b"\x00\x00" + good)
    with pytest.raises(ValueError, match="overruns"):
        parse_mp3(good[:-8])
    with pytest.raises(ValueError, match="no MP3 frames"):
        parse_mp3(b"ID3\x04\x00\x00\x00\x00\x00\x00")


@given(
    st.integers(min_value=1, max_value=15),
    st.integers(min_value=1, max_value=14),
    st.integers(min_value=0, max_value=2),
    st.booleans(),
    st.booleans(),
    st.integers(min_value=0, max_value=64),
)
@settings(max_examples=100, deadline=None)
def test_mp3_roundtrip_property(n, bi, ri, mpeg1, stereo, id3):
    s = parse_mp3(encode_mp3(n, bi, ri, mpeg1, stereo, id3_size=id3))
    assert s["n_frames"] == n
    assert s["channels"] == (2 if stereo else 1)
    base = [44100, 48000, 32000][ri]
    assert s["sample_rate"] == (base if mpeg1 else base // 2)
    assert s["cbr"] is True


# ---------------------------------------------------------------------------
# Spark operator
# ---------------------------------------------------------------------------


def test_audio_stream_profile_operator(spark):
    df = spark.createDataFrame(
        [
            (1, bytearray(encode_adts(10, aot=2, freq_index=3))),
            (2, bytearray(encode_mp3(8, id3_size=64))),
            (3, bytearray(encode_mp3(4, mpeg1=False, stereo=False))),
        ],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in audio_stream_profile(df).collect()}
    assert rows[1]["container"] == "adts"
    assert rows[1]["codec_string"] == "mp4a.40.2"
    assert rows[1]["sample_rate"] == 48000
    assert rows[1]["cbr"] is None
    assert rows[2]["container"] == "mp3"
    assert rows[2]["n_frames"] == 8
    assert rows[3]["channels"] == 1


def test_mp3_id3v1_and_ape_trailers():
    """ID3v1 'TAG' (128 bytes) and APETAGEX trailers follow the last
    frame in files from mainstream encoders — they end the walk, they
    don't break it."""
    base = encode_mp3(3)
    s = parse_mp3(base + b"TAG" + bytes(125))
    assert s["n_frames"] == 3
    s = parse_mp3(base + b"APETAGEX" + bytes(24))
    assert s["n_frames"] == 3
    # ADTS accepts the same trailers
    a = parse_adts(encode_adts(2) + b"TAG" + bytes(125))
    assert a["n_frames"] == 2


def test_adts_with_id3v2_prefix():
    """Podcast encoders tag .aac files with ID3v2: the parser skips
    the tag and the operator sniff must still route to ADTS."""
    id3 = b"ID3\x04\x00\x00\x00\x00\x00\x0a" + bytes(10)
    s = parse_adts(id3 + encode_adts(4, freq_index=3))
    assert (s["n_frames"], s["sample_rate"]) == (4, 48000)


def test_rate_table_shared_with_mp4():
    from bigdata_invoice_stream_analysis_spark.operators.mp4 import (
        _ASC_RATES,
    )

    assert ADTS_RATES is _ASC_RATES


def test_sniff_routes_id3_prefixed_adts(spark):
    id3 = b"ID3\x04\x00\x00\x00\x00\x00\x0a" + bytes(10)
    df = spark.createDataFrame(
        [(1, bytearray(id3 + encode_adts(3))),
         (2, bytearray(encode_mp3(3, id3_size=10)))],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r["container"]
            for r in audio_stream_profile(df).collect()}
    assert rows == {1: "adts", 2: "mp3"}


def test_adts_bitrate_excludes_tags():
    """ID3v2 prefixes and ID3v1 trailers are metadata, not audio —
    the reported bitrate must not change when tags are attached."""
    bare = parse_adts(encode_adts(5))["bitrate_kbps"]
    id3 = b"ID3\x04\x00\x00" + bytes(
        [(15000 >> s) & 0x7F for s in (21, 14, 7, 0)]
    ) + bytes(15000)
    tagged = parse_adts(id3 + encode_adts(5) + b"TAG" + bytes(125))
    assert tagged["bitrate_kbps"] == bare


# ---------------------------------------------------------------------------
# ID3v2 frame parsing
# ---------------------------------------------------------------------------


def test_id3_frames_roundtrip_v4():
    from bigdata_invoice_stream_analysis_spark.operators.mpegaudio import (
        encode_id3v2,
        parse_id3v2_frames,
    )

    tag = encode_id3v2([
        ("TIT2", (3, "Motörhead Song")),          # utf-8
        ("TPE1", (0, "Artist")),                   # latin-1
        ("TALB", (1, "Albüm")),                    # utf-16 w/ BOM
        ("TXXX", (3, "replaygain_track_gain", "-6.2 dB")),
        ("COMM", (3, "eng", "note", "a comment")),
        ("WOAR", "https://artist.example/"),
        ("APIC", (0, "image/jpeg", "cover", b"\xff\xd8" + b"J" * 40)),
        ("PRIV", ("com.example.tracker", b"\x01\x02\x03")),
    ], version=4, padding=16)
    out = parse_id3v2_frames(tag)
    assert out["version"] == "2.4"
    by_id = {f["frame_id"]: f for f in out["frames"]}
    assert by_id["TIT2"]["text"] == "Motörhead Song"
    assert by_id["TALB"]["text"] == "Albüm"
    assert by_id["TXXX"]["description"] == "replaygain_track_gain"
    assert by_id["TXXX"]["text"] == "-6.2 dB"
    assert by_id["COMM"]["description"] == "eng:note"
    assert by_id["COMM"]["text"] == "a comment"
    assert by_id["WOAR"]["text"] == "https://artist.example/"
    assert by_id["APIC"]["mime"] == "image/jpeg"
    assert by_id["APIC"]["n_bytes"] == 42
    assert by_id["PRIV"]["description"] == "com.example.tracker"
    assert by_id["PRIV"]["n_bytes"] == 3


def test_id3_frames_v3_plain_sizes():
    from bigdata_invoice_stream_analysis_spark.operators.mpegaudio import (
        encode_id3v2,
        parse_id3v2_frames,
    )

    # a >127-byte frame: v2.3 plain u32 size vs v2.4 syncsafe differ
    big = "x" * 200
    tag = encode_id3v2([("TIT2", (0, big))], version=3)
    out = parse_id3v2_frames(tag)
    assert out["version"] == "2.3"
    assert out["frames"][0]["text"] == big


def test_id3_frames_utf16_terminators():
    from bigdata_invoice_stream_analysis_spark.operators.mpegaudio import (
        encode_id3v2,
        parse_id3v2_frames,
    )

    # the UTF-16 description terminator is \x00\x00 on a 16-bit
    # boundary — 'A' (0x41 0x00 LE) must not terminate early
    tag = encode_id3v2([("TXXX", (1, "ABC", "värde"))])
    f = parse_id3v2_frames(tag)["frames"][0]
    assert f["description"] == "ABC" and f["text"] == "värde"


def test_id3_frames_errors():
    import pytest as _pytest

    from bigdata_invoice_stream_analysis_spark.operators.mpegaudio import (
        encode_id3v2,
        parse_id3v2_frames,
    )

    with _pytest.raises(ValueError, match="no tag"):
        parse_id3v2_frames(b"\xff\xfbaudio")
    with _pytest.raises(ValueError, match="unsupported version"):
        parse_id3v2_frames(b"ID3\x02\x00\x00\x00\x00\x00\x00")
    with _pytest.raises(ValueError, match="unsynchronised"):
        parse_id3v2_frames(b"ID3\x04\x00\x80\x00\x00\x00\x00")
    good = encode_id3v2([("TIT2", (0, "t"))])
    with _pytest.raises(ValueError, match="overruns"):
        parse_id3v2_frames(good[:-1])


def test_id3_transformed_frames_are_refused():
    """Compressed/encrypted/per-frame-unsync frame bodies (§4.1
    format flags) are transformed bytes — decoding them as-is would
    silently return garbage, so the parser must raise (quarantine)."""
    import pytest as _pytest

    from bigdata_invoice_stream_analysis_spark.operators.mpegaudio import (
        encode_id3v2,
        parse_id3v2_frames,
    )

    tag = bytearray(encode_id3v2([("TIT2", (0, "t"))], version=4))
    # frame header starts at 10; flags are bytes 18-19
    tag[19] |= 0x08  # v2.4 compression flag
    with _pytest.raises(ValueError, match="transformed-body"):
        parse_id3v2_frames(bytes(tag))
    tag3 = bytearray(encode_id3v2([("TIT2", (0, "t"))], version=3))
    tag3[19] |= 0x80  # v2.3 compression flag (bit 7 of flags byte 2)
    with _pytest.raises(ValueError, match="transformed-body"):
        parse_id3v2_frames(bytes(tag3))
