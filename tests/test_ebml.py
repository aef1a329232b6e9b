"""EBML/Matroska/WebM demux: vint codec properties, element walk,
track/block parsing, fixture-encoder roundtrips, Spark operators.

Spec anchors: RFC 8794 §4 (vints), RFC 9559 §5/§10.2 (Matroska
elements, SimpleBlock layout).
"""

from __future__ import annotations

import struct
import sys
from pathlib import Path

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bigdata_invoice_stream_analysis_spark.operators.ebml import (
    CLUSTER,
    EBML_HEADER,
    SEGMENT,
    SIMPLE_BLOCK,
    encode_element_id,
    encode_minimal_webm,
    encode_vint,
    parse_webm,
    read_vint,
    vint_is_unknown_size,
    walk_elements,
    webm_track_profile,
)

# ---------------------------------------------------------------------------
# vints
# ---------------------------------------------------------------------------


@given(st.integers(min_value=0, max_value=(1 << 56) - 2))
@settings(max_examples=300, deadline=None)
def test_vint_roundtrip(value):
    enc = encode_vint(value)
    dec, pos = read_vint(enc, 0, keep_marker=False)
    assert dec == value
    assert pos == len(enc)
    assert not vint_is_unknown_size(dec, len(enc))


@given(st.integers(min_value=0, max_value=126),
       st.integers(min_value=2, max_value=8))
@settings(max_examples=100, deadline=None)
def test_vint_overlong_encoding_still_decodes(value, length):
    enc = encode_vint(value, min_length=length)
    assert len(enc) == length
    dec, _ = read_vint(enc, 0, keep_marker=False)
    assert dec == value


def test_vint_all_ones_is_unknown_size():
    # 1-byte all-ones: 0xFF → value 127 with length 1.
    v, _ = read_vint(b"\xff", 0, keep_marker=False)
    assert vint_is_unknown_size(v, 1)
    assert not vint_is_unknown_size(126, 1)


def test_vint_id_keeps_marker():
    v, _ = read_vint(b"\x1a\x45\xdf\xa3", 0, keep_marker=True)
    assert v == EBML_HEADER
    assert encode_element_id(EBML_HEADER) == b"\x1a\x45\xdf\xa3"


def test_vint_errors():
    with pytest.raises(ValueError):
        read_vint(b"\x00\x01", 0, keep_marker=False)
    with pytest.raises(ValueError):
        read_vint(b"\x40", 0, keep_marker=False)  # truncated 2-byte
    with pytest.raises(ValueError):
        read_vint(b"", 0, keep_marker=False)


# ---------------------------------------------------------------------------
# parse/encode roundtrip
# ---------------------------------------------------------------------------

FRAMES = [
    (0, True, 40), (40, False, 12), (80, False, 13),
    (1000, True, 41), (1040, False, 14), (2500, True, 42),
]


def test_minimal_webm_roundtrip():
    payload = encode_minimal_webm(
        FRAMES, codec_id="V_VP9", width=640, height=360,
        audio=("A_OPUS", 48000, 2),
    )
    info = parse_webm(payload)
    assert info["doctype"] == "webm"
    assert info["timestamp_scale"] == 1_000_000
    assert info["duration_ms"] == 2500
    assert len(info["tracks"]) == 2
    v, a = info["tracks"]
    assert (v["number"], v["type"], v["codec_id"]) == (1, "video", "V_VP9")
    assert (v["width"], v["height"]) == (640, 360)
    assert (a["type"], a["codec_id"]) == ("audio", "A_OPUS")
    assert (a["sample_rate"], a["channels"]) == (48000, 2)
    assert [(b["pts_ms"], b["keyframe"], b["size"])
            for b in info["blocks"]] == FRAMES
    assert all(b["track"] == 1 for b in info["blocks"])


def test_webm_cluster_split_and_relative_timestamps():
    payload = encode_minimal_webm(FRAMES, cluster_every_ms=1000)
    # 3 clusters: [0,40,80], [1000,1040], [2500]
    seg = None
    for eid, s, e in walk_elements(payload, 0, len(payload)):
        if eid == SEGMENT:
            seg = (s, e)
    clusters = [
        (s, e) for eid, s, e in walk_elements(payload, *seg)
        if eid == CLUSTER
    ]
    assert len(clusters) == 3
    counts = [
        sum(1 for eid, _, _ in walk_elements(payload, s, e)
            if eid == SIMPLE_BLOCK)
        for s, e in clusters
    ]
    assert counts == [3, 2, 1]


def test_webm_nondefault_timestamp_scale():
    # 100 µs ticks: pts in ms must still come back exact.
    payload = encode_minimal_webm(
        [(0, True, 10), (500, False, 11)], timestamp_scale=100_000,
        cluster_every_ms=10_000,
    )
    info = parse_webm(payload)
    assert [b["pts_ms"] for b in info["blocks"]] == [0, 500]
    assert info["duration_ms"] == 500


def test_cluster_before_info_uses_final_scale():
    """Info-before-Cluster is only a SHOULD (RFC 9559 §6): block
    timestamps must be scaled by the file's actual TimestampScale
    even when Info arrives after the Clusters."""
    payload = encode_minimal_webm(
        [(0, True, 10), (500, False, 11)], timestamp_scale=100_000,
        cluster_every_ms=10_000,
    )
    # Reorder the Segment children: [Info, Tracks, Cluster] →
    # [Cluster, Info, Tracks] by splicing the raw element ranges.
    seg = None
    for eid, s, e in walk_elements(payload, 0, len(payload)):
        if eid == SEGMENT:
            seg = (s, e)
    parts = {
        eid: payload[s - _id_size(eid) - 1 : e]
        for eid, s, e in walk_elements(payload, *seg)
    }
    reordered = (
        payload[: seg[0]]
        + parts[CLUSTER] + parts[0x1549A966] + parts[0x1654AE6B]
    )
    info = parse_webm(reordered)
    assert [b["pts_ms"] for b in info["blocks"]] == [0, 500]
    assert info["duration_ms"] == 500


def _id_size(eid):
    return (eid.bit_length() + 7) // 8


def test_encoder_rejects_s16_tick_overflow():
    with pytest.raises(ValueError, match="s16"):
        encode_minimal_webm(
            [(0, True, 8), (400, False, 8)], timestamp_scale=10_000,
        )


def test_matroska_doctype_passthrough():
    payload = encode_minimal_webm([], doctype="matroska",
                                  codec_id="V_MPEG4/ISO/AVC")
    info = parse_webm(payload)
    assert info["doctype"] == "matroska"
    assert info["tracks"][0]["codec_id"] == "V_MPEG4/ISO/AVC"


def test_unknown_size_cluster_parses_to_end():
    """A live-streamed Cluster writes the reserved all-ones size; its
    body runs to the end of the parent scan range (RFC 8794 §6.2)."""
    payload = bytearray(encode_minimal_webm([(0, True, 8)]))
    # Find the Cluster header and rewrite its size vint as unknown.
    idx = payload.find(bytes.fromhex("1f43b675"))
    assert idx > 0
    size_pos = idx + 4
    first = payload[size_pos]
    size_len = 9 - first.bit_length() if first else 1
    assert size_len == 1  # minimal fixture cluster: 1-byte size
    payload[size_pos] = 0xFF
    info = parse_webm(bytes(payload))
    assert [(b["pts_ms"], b["size"]) for b in info["blocks"]] == [(0, 8)]


@pytest.mark.parametrize("lacing", [1, 2, 3])
def test_laced_block_frames_parsed(lacing):
    """ADVICE r7: lacing is routine for Vorbis/Opus audio — laced
    SimpleBlocks must parse into per-frame entries, not quarantine the
    file. All three lace modes (Xiph/fixed/EBML) roundtrip."""
    sizes = [12, 12, 12] if lacing == 2 else [5, 300, 0, 17]
    payload = encode_minimal_webm(
        [(0, True, 8)],
        audio=("A_OPUS", 48000, 2),
        audio_frames=[(40, sizes)],
        audio_lacing=lacing,
    )
    info = parse_webm(payload)
    audio_blocks = [b for b in info["blocks"] if b["track"] == 2]
    assert [b["size"] for b in audio_blocks] == sizes
    assert all(b["pts_ms"] == 40 for b in audio_blocks)
    # the video block is untouched by the lacing path
    assert [b["size"] for b in info["blocks"] if b["track"] == 1] == [8]


def test_lace_sizes_overrun_raises():
    """Xiph lace sizes claiming more bytes than the block holds must
    raise, not emit a negative last-frame size."""
    from bigdata_invoice_stream_analysis_spark.operators.ebml import (
        encode_laced_simple_block,
    )

    payload = bytearray(encode_minimal_webm(
        [],
        audio=("A_VORBIS", 48000, 2),
        audio_frames=[(0, [6, 6])],
        audio_lacing=1,
    ))
    # the fixture encoder fills audio frame j with byte 0xA0 + j
    block = encode_laced_simple_block(
        2, 0, [b"\xa0" * 6, b"\xa1" * 6], lacing=1
    )
    idx = bytes(payload).find(block)
    assert idx > 0
    # Xiph size byte for frame 0 sits after id(1) size(1) track(1)
    # s16(2) flags(1) count(1); inflate it past the payload.
    payload[idx + 7] = 200
    with pytest.raises(ValueError, match="overrun"):
        parse_webm(bytes(payload))


def test_element_overrun_raises():
    payload = bytearray(encode_minimal_webm([(0, True, 8)]))
    # Corrupt the Tracks size so it overruns the Segment.
    idx = payload.find(bytes.fromhex("1654ae6b"))
    payload[idx + 4] = 0xFE  # huge 1-byte size (126)
    with pytest.raises(ValueError, match="overruns"):
        parse_webm(bytes(payload))


def test_not_ebml_raises():
    with pytest.raises(ValueError):
        parse_webm(b"\x00\x00\x00\x18ftypisom")


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=200),  # pts step ms
            st.booleans(),
            st.integers(min_value=0, max_value=64),
        ),
        min_size=0, max_size=12,
    ),
    st.sampled_from([1_000_000, 100_000, 500_000]),
)
@settings(max_examples=60, deadline=None)
def test_webm_block_roundtrip_property(steps, scale):
    pts = 0
    frames = []
    for step, key, size in steps:
        pts += step
        frames.append((pts, key, size))
    payload = encode_minimal_webm(frames, timestamp_scale=scale,
                                  cluster_every_ms=700)
    info = parse_webm(payload)
    assert [(b["pts_ms"], b["keyframe"], b["size"])
            for b in info["blocks"]] == frames


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------


def _media_df(spark):
    p1 = encode_minimal_webm(FRAMES, codec_id="V_VP9",
                             audio=("A_OPUS", 48000, 2))
    p2 = encode_minimal_webm([(0, True, 9)], codec_id="V_AV1",
                             width=320, height=240)
    return spark.createDataFrame(
        [(1, bytearray(p1)), (2, bytearray(p2))],
        "media_id long, payload binary",
    )


def test_webm_track_profile_operator(spark):
    rows = {(r["media_id"], r["track"]): r
            for r in webm_track_profile(_media_df(spark)).collect()}
    assert len(rows) == 3
    v = rows[(1, 1)]
    assert (v["codec_id"], v["width"], v["height"]) == ("V_VP9", 640, 360)
    assert (v["n_blocks"], v["n_keyframes"]) == (6, 3)
    assert v["duration_ms"] == 2500
    a = rows[(1, 2)]
    assert (a["track_type"], a["sample_rate"], a["channels"]) == (
        "audio", 48000, 2,
    )
    assert (a["n_blocks"], a["n_keyframes"]) == (0, 0)
    assert rows[(2, 1)]["codec_id"] == "V_AV1"
