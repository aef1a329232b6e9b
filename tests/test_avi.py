"""AVI container parsing (operators/avi) — RIFF/LIST recursion,
avih/strh/strf headers, rational-rate durations, container lies."""

import struct

import pytest

from bigdata_invoice_stream_analysis_spark.operators.avi import (
    encode_avi,
    parse_avi,
)


def test_roundtrip_basic():
    m = parse_avi(encode_avi())
    assert (m["width"], m["height"]) == (320, 240)
    assert m["n_frames"] == 30
    assert m["n_streams"] == 2
    assert m["n_movi_chunks"] == 30
    assert m["has_idx1"]
    assert m["dims_match"] and m["frames_match"]


def test_rational_rate_duration():
    # 30 frames at scale/rate 1000/29969 (≈29.97 fps) → 1001 ms
    m = parse_avi(encode_avi())
    v = next(s for s in m["streams"] if s["type"] == "vids")
    assert v["scale"] == 1000
    assert m["duration_ms"] == 30 * 1000 * 1000 // v["rate"]


def test_stream_headers():
    m = parse_avi(encode_avi(handler=b"xvid", audio=(1, 1, 16000)))
    v = next(s for s in m["streams"] if s["type"] == "vids")
    a = next(s for s in m["streams"] if s["type"] == "auds")
    assert v["compression"] == "xvid"
    assert (a["channels"], a["sample_rate"], a["format_tag"]) == (1, 16000, 1)


def test_video_only_no_index():
    m = parse_avi(encode_avi(audio=None, with_idx1=False))
    assert m["n_streams"] == 1
    assert not m["has_idx1"]


def test_container_lies_flagged():
    m = parse_avi(encode_avi(lie_dims=True))
    assert not m["dims_match"] and m["frames_match"]
    # the TRUTH stays with the stream header; avih carries the lie
    v = next(s for s in m["streams"] if s["type"] == "vids")
    assert v["width"] == 320 and m["width"] == 336
    m = parse_avi(encode_avi(lie_frames=True))
    assert m["dims_match"] and not m["frames_match"]


def test_odd_sized_chunks_stay_aligned():
    m = parse_avi(encode_avi(frame_payload=b"\x01\x02\x03"))
    assert m["n_movi_chunks"] == 30


def test_bad_magic_raises():
    with pytest.raises(ValueError, match="magic"):
        parse_avi(b"RIFF\x08\x00\x00\x00WAVEdata")


def test_chunk_overrun_raises():
    raw = bytearray(encode_avi())
    # inflate the first LIST size beyond the RIFF envelope
    raw[16:20] = struct.pack("<I", 1 << 30)
    with pytest.raises(ValueError, match="overruns"):
        parse_avi(bytes(raw))


def test_missing_avih_raises():
    body = b"LIST" + struct.pack("<I", 4) + b"hdrl"
    raw = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"AVI " + body
    with pytest.raises(ValueError, match="no avih"):
        parse_avi(raw)


def test_negative_biheight_normalized():
    # top-down DIBs carry negative biHeight; the audit reports abs
    raw = bytearray(encode_avi(audio=None))
    i = raw.find(b"strf") + 8 + 8
    h = struct.unpack_from("<i", raw, i)[0]
    struct.pack_into("<i", raw, i, -h)
    m = parse_avi(bytes(raw))
    v = next(s for s in m["streams"] if s["type"] == "vids")
    assert v["height"] == 240 and m["dims_match"]


def test_rec_grouped_movi_counts_grandchildren():
    # interleaved AVIs wrap ~1 s of frames in 'LIST rec ' groups:
    # the frame count must come from the grandchildren
    import struct as _s

    from bigdata_invoice_stream_analysis_spark.operators.avi import (
        _chunk,
        _list,
    )

    raw = bytearray(encode_avi(n_frames=2, audio=None,
                               with_idx1=False))
    # rebuild the movi LIST body as one 'rec ' group of 3 frames
    frames = b"".join(_chunk(b"00dc", bytes(10)) for _ in range(3))
    rec = _list(b"rec ", frames)
    i = raw.find(b"movi") - 8
    old_size = _s.unpack_from("<I", raw, i + 4)[0]
    new_movi = _s.pack("<I", 4 + len(rec)) + b"movi" + rec
    raw = raw[:i + 4] + new_movi + raw[i + 8 + old_size:]
    _s.pack_into("<I", raw, 4, len(raw) - 8)  # fix RIFF size
    m = parse_avi(bytes(raw))
    assert m["n_movi_chunks"] == 3
