"""ISO BMFF demuxer (operators/mp4.py) — box-level unit tests.

Non-circular anchors: the box grammar (size+type headers, 64-bit
largesize, size=0 to-end), the stts run-length expansion, the
stsc chunk→samples mapping, and the invariant that the emitted
(offset, size) ranges slice exactly the deterministic frame payloads
out of mdat."""

from __future__ import annotations

import os
import struct
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_invoice_stream_analysis_spark.operators import mp4 as M  # noqa: E402


def test_roundtrip_sample_tables():
    sizes = [10, 3, 25, 1, 17]
    payload = M.encode_minimal_mp4(sizes, timescale=600, frame_delta=25)
    info = M.parse_mp4(payload)
    assert info["n_samples"] == 5
    assert info["sizes"] == sizes
    assert info["timescale"] == 600
    assert info["duration"] == 5 * 25
    assert info["times"] == [0, 25, 50, 75, 100]
    # offsets are contiguous from the mdat payload start
    for i in range(1, 5):
        assert info["offsets"][i] == info["offsets"][i - 1] + sizes[i - 1]
    # and the ranges slice the exact deterministic frame bytes
    for i, (off, sz) in enumerate(zip(info["offsets"], info["sizes"])):
        assert payload[off : off + sz] == bytes(
            (i + j) % 251 for j in range(sz)
        )


def test_fmp4_fragment_tables_match_progressive():
    """Fragmented layout (empty moov tables, moof/traf/trun runs) must
    demux to the SAME flat sample table as the progressive file: sizes
    from trun, durations from the trex default, decode times anchored
    by each fragment's tfdt, offsets via default-base-is-moof +
    data-offset."""
    sizes = [10, 3, 25, 1, 17]
    frag = M.encode_minimal_fmp4(
        sizes, timescale=600, frame_delta=25, frames_per_fragment=2
    )
    info = M.parse_mp4(frag)
    assert info["n_samples"] == 5
    assert info["sizes"] == sizes
    assert info["timescale"] == 600
    assert info["times"] == [0, 25, 50, 75, 100]
    for i, (off, sz) in enumerate(zip(info["offsets"], info["sizes"])):
        assert frag[off : off + sz] == bytes(
            (i + j) % 251 for j in range(sz)
        )


def test_fmp4_explicit_base_data_offset():
    """tfhd flag 0x1 (absolute u64 base-data-offset) instead of
    default-base-is-moof — the other addressing mode segmenters use."""
    sizes = [5, 6, 7]
    frag = M.encode_minimal_fmp4(
        sizes, frames_per_fragment=1, explicit_base_offset=True
    )
    info = M.parse_mp4(frag)
    assert info["sizes"] == sizes
    assert info["times"] == [0, 40, 80]
    for i, (off, sz) in enumerate(zip(info["offsets"], info["sizes"])):
        assert frag[off : off + sz] == bytes(
            (i + j) % 251 for j in range(sz)
        )


def test_fmp4_mjpeg_end_to_end():
    """MJPEG samples inside a FRAGMENTED container decode end-to-end —
    a wrong fragment offset anywhere makes the JPEG slice undecodable,
    so exact pixels prove the moof math."""
    from bigdata_invoice_stream_analysis_spark.operators.jpeg import encode_jpeg

    frames = [
        encode_jpeg(bytes([g] * 64), 8, 8, quality=75) for g in (40, 50, 60)
    ]
    payload = M.encode_minimal_fmp4(frames=frames, frames_per_fragment=2)
    out = M.decode_mjpeg_frames(payload)
    assert [bytes(f["pixels"]) for f in out] == [
        bytes([g] * 64) for g in (40, 50, 60)
    ]
    assert [f["pts"] for f in out] == [0, 40, 80]


def test_video_trak_selected_by_handler_not_position():
    """Real files carry several traks (audio + video); the parser must
    pick the one whose hdlr says 'vide', not the first — the decoy
    audio trak here has EMPTY sample tables, so position-based
    selection would demux 0 samples."""
    sizes = [4, 7, 9]
    payload = M.encode_minimal_mp4(sizes, audio_trak_first=True)
    info = M.parse_mp4(payload)
    assert info["sizes"] == sizes
    for i, (off, sz) in enumerate(zip(info["offsets"], info["sizes"])):
        assert payload[off : off + sz] == bytes(
            (i + j) % 251 for j in range(sz)
        )


def test_stss_keyframes_progressive():
    """stss sync-sample table: 1-based sample numbers → 0-based sorted
    keyframes; absent stss means every sample is a sync sample."""
    sizes = [4, 4, 4, 4, 4, 4]
    with_stss = M.encode_minimal_mp4(sizes, keyframes=[0, 3, 5])
    assert M.parse_mp4(with_stss)["keyframes"] == [0, 3, 5]
    without = M.encode_minimal_mp4(sizes)
    assert M.parse_mp4(without)["keyframes"] == [0, 1, 2, 3, 4, 5]


def test_decode_mjpeg_keyframes_only():
    """keyframes_only sampling: the candidate set is stss, THEN the
    every-Nth stride applies — production pipelines sample sync frames
    because only those decode without inter-frame context."""
    from bigdata_invoice_stream_analysis_spark.operators.jpeg import encode_jpeg

    grays = [30, 40, 50, 60, 70]
    frames = [encode_jpeg(bytes([g] * 64), 8, 8, quality=75) for g in grays]
    payload = M.encode_minimal_mp4(frames=frames, keyframes=[0, 2, 4])
    out = M.decode_mjpeg_frames(payload, keyframes_only=True)
    assert [f["frame_idx"] for f in out] == [0, 2, 4]
    assert [bytes(f["pixels"])[0] for f in out] == [30, 50, 70]
    out2 = M.decode_mjpeg_frames(payload, every_n=2, keyframes_only=True)
    assert [f["frame_idx"] for f in out2] == [0, 4]


def test_fmp4_keyframes_default_all_sync():
    """Fragmented fixtures carry no per-sample flags, so every sample
    is sync (the all-intra MJPEG shape; the encoder's trex default
    flags are 0, whose non-sync bit is clear)."""
    frag = M.encode_minimal_fmp4([4, 4, 4, 4, 4], frames_per_fragment=2)
    assert M.parse_mp4(frag)["keyframes"] == [0, 1, 2, 3, 4]


def _fmp4_head(payload):
    """ftyp + moov prefix of an encoder-built fragmented file — a base
    for hand-assembled moof shapes the encoder doesn't emit."""
    for t, b, e in M.walk_boxes(payload, 0, len(payload)):
        if t == b"moof":
            return payload[: b - 8]
    raise AssertionError("no moof")


def test_fmp4_cmaf_sync_flag_shape():
    """The canonical CMAF/H.264 segment flag layout: tfhd carries
    default-sample-flags marked NON-sync (bit 0x10000) and the trun
    carries first-sample-flags marking only sample 0 sync — exactly
    how segmenters encode one keyframe per fragment. keyframes must be
    [0], not all samples (the r5 review repro)."""
    head = _fmp4_head(M.encode_minimal_fmp4([4], frames_per_fragment=1))
    mfhd = M._box(b"mfhd", struct.pack(">II", 0, 1))
    # tfhd flags: default-base-is-moof | default-sample-flags
    tfhd = M._box(
        b"tfhd", struct.pack(">III", 0x020020, 1, 0x10000)
    )
    # trun flags: data-offset | first-sample-flags | sample-size
    sizes = [4, 5, 6]
    trun_size = 8 + 8 + 4 + 4 + 4 * len(sizes)
    moof_size = 8 + len(mfhd) + (8 + len(tfhd) + trun_size)
    trun = M._box(
        b"trun",
        struct.pack(">IIiI", 0x000205, len(sizes), moof_size + 8, 0)
        + b"".join(struct.pack(">I", s) for s in sizes),
    )
    traf = M._box(b"traf", tfhd + trun)
    moof = M._box(b"moof", mfhd + traf)
    assert len(moof) == moof_size
    body = bytes(range(15))
    payload = head + moof + M._box(b"mdat", body)
    info = M.parse_mp4(payload)
    assert info["sizes"] == sizes
    assert info["keyframes"] == [0]
    # explicit per-sample flags WIN over first-sample-flags (spec says
    # the combination is invalid; per-sample is the authoritative one):
    # first_flags says sample 0 is SYNC, per-sample says only sample 1
    # is — inverted precedence would yield [0, 1] instead of [1]
    trun2_size = 8 + 8 + 4 + 4 + 8 * len(sizes)
    moof2_size = 8 + len(mfhd) + (8 + len(tfhd) + trun2_size)
    trun2 = M._box(
        b"trun",
        struct.pack(">IIiI", 0x000605, len(sizes), moof2_size + 8, 0)
        + b"".join(
            struct.pack(">II", s, 0x10000 if i != 1 else 0)
            for i, s in enumerate(sizes)
        ),
    )
    traf2 = M._box(b"traf", tfhd + trun2)
    moof2 = M._box(b"moof", mfhd + traf2)
    assert len(moof2) == moof2_size
    payload2 = head + moof2 + M._box(b"mdat", body)
    info2 = M.parse_mp4(payload2)
    assert info2["keyframes"] == [1]


def test_fmp4_multitrack_filters_by_track_id():
    """A moof whose FIRST traf is the audio track (track_ID 2) must not
    leak audio runs into the video sample table — trafs are filtered by
    the video trak's tkhd track_ID (the r5 review repro: position-based
    traf selection demuxed the audio run)."""
    head = _fmp4_head(M.encode_minimal_fmp4([4], frames_per_fragment=1))
    mfhd = M._box(b"mfhd", struct.pack(">II", 0, 1))
    tfhd_a = M._box(b"tfhd", struct.pack(">II", 0x020000, 2))
    tfhd_v = M._box(b"tfhd", struct.pack(">II", 0x020000, 1))
    a_sizes, v_sizes = [3], [4, 5]
    trun_a_size = 8 + 8 + 4 + 4 * len(a_sizes)
    trun_v_size = 8 + 8 + 4 + 4 * len(v_sizes)
    traf_a_size = 8 + len(tfhd_a) + trun_a_size
    traf_v_size = 8 + len(tfhd_v) + trun_v_size
    moof_size = 8 + len(mfhd) + traf_a_size + traf_v_size
    trun_a = M._box(
        b"trun",
        struct.pack(">IIi", 0x000201, 1, moof_size + 8)
        + struct.pack(">I", 3),
    )
    trun_v = M._box(
        b"trun",
        struct.pack(">IIi", 0x000201, 2, moof_size + 8 + 3)
        + struct.pack(">II", 4, 5),
    )
    moof = M._box(
        b"moof", mfhd + M._box(b"traf", tfhd_a + trun_a)
        + M._box(b"traf", tfhd_v + trun_v)
    )
    assert len(moof) == moof_size
    audio = b"AAA"
    video = bytes(range(9))
    payload = head + moof + M._box(b"mdat", audio + video)
    info = M.parse_mp4(payload)
    assert info["sizes"] == v_sizes  # audio run excluded
    assert payload[info["offsets"][0] : info["offsets"][0] + 4] == video[:4]
    assert payload[info["offsets"][1] : info["offsets"][1] + 5] == video[4:]


def test_fmp4_multi_trun_carries_position():
    """ISO 14496-12 §8.8.8: only the FIRST trun defaults to the base
    data offset; a later trun without an explicit data-offset continues
    right after the previous run's samples. Resetting to the base for
    every trun (the r5 advice repro) would demux run 2 on top of
    run 1."""
    head = _fmp4_head(M.encode_minimal_fmp4([4], frames_per_fragment=1))
    mfhd = M._box(b"mfhd", struct.pack(">II", 0, 1))
    tfhd = M._box(b"tfhd", struct.pack(">II", 0x020000, 1))
    run1, run2 = [3, 4], [5]
    trun1_size = 8 + 8 + 4 + 4 * len(run1)
    trun2_size = 8 + 8 + 4 * len(run2)  # flags 0x200 only: NO data-offset
    traf_size = 8 + len(tfhd) + trun1_size + trun2_size
    moof_size = 8 + len(mfhd) + traf_size
    trun1 = M._box(
        b"trun",
        struct.pack(">IIi", 0x000201, len(run1), moof_size + 8)
        + b"".join(struct.pack(">I", s) for s in run1),
    )
    trun2 = M._box(
        b"trun",
        struct.pack(">II", 0x000200, len(run2))
        + b"".join(struct.pack(">I", s) for s in run2),
    )
    moof = M._box(b"moof", mfhd + M._box(b"traf", tfhd + trun1 + trun2))
    assert len(moof) == moof_size
    body = bytes(range(12))
    payload = head + moof + M._box(b"mdat", body)
    info = M.parse_mp4(payload)
    assert info["sizes"] == [3, 4, 5]
    # run 2's sample starts where run 1 ended, not back at the base
    assert payload[info["offsets"][2] : info["offsets"][2] + 5] == body[7:12]
    for i, (off, sz) in enumerate(zip(info["offsets"], info["sizes"])):
        assert payload[off : off + sz] == body[sum(info["sizes"][:i]) :][:sz]


def test_fmp4_largesize_moof_anchor():
    """A 64-bit largesize moof has a 16-byte header, so the
    default-base-is-moof anchor is the HEADER start — deriving it as
    body_start - 8 (the r5 advice repro) shifts every sample offset in
    the fragment by 8 bytes."""
    head = _fmp4_head(M.encode_minimal_fmp4([4], frames_per_fragment=1))
    mfhd = M._box(b"mfhd", struct.pack(">II", 0, 1))
    tfhd = M._box(b"tfhd", struct.pack(">II", 0x020000, 1))
    sizes = [4, 5]
    trun_size = 8 + 8 + 4 + 4 * len(sizes)
    traf_size = 8 + len(tfhd) + trun_size
    moof_size = 16 + len(mfhd) + traf_size  # 16-byte largesize header
    trun = M._box(
        b"trun",
        struct.pack(">IIi", 0x000201, len(sizes), moof_size + 8)
        + b"".join(struct.pack(">I", s) for s in sizes),
    )
    body = mfhd + M._box(b"traf", tfhd + trun)
    moof = (
        struct.pack(">I", 1) + b"moof" + struct.pack(">Q", 16 + len(body)) + body
    )
    assert len(moof) == moof_size
    frames = bytes(range(9))
    payload = head + moof + M._box(b"mdat", frames)
    info = M.parse_mp4(payload)
    assert info["sizes"] == sizes
    assert payload[info["offsets"][0] : info["offsets"][0] + 4] == frames[:4]
    assert payload[info["offsets"][1] : info["offsets"][1] + 5] == frames[4:]


def test_fmp4_subsequent_traf_anchors_at_preceding_end():
    """ISO 14496-12 §8.8.7: with neither base flag set, the SECOND
    traf's default base is the END of the preceding track fragment's
    data — not the moof start (the r6 review repro: anchoring every
    traf at moof_start aliases the video run onto the audio bytes)."""
    head = _fmp4_head(M.encode_minimal_fmp4([4], frames_per_fragment=1))
    mfhd = M._box(b"mfhd", struct.pack(">II", 0, 1))
    tfhd_a = M._box(b"tfhd", struct.pack(">II", 0, 2))  # NO base flags
    tfhd_v = M._box(b"tfhd", struct.pack(">II", 0, 1))  # NO base flags
    a_sizes, v_sizes = [3], [4, 5]
    trun_a_size = 8 + 8 + 4 + 4 * len(a_sizes)
    trun_v_size = 8 + 8 + 4 * len(v_sizes)  # 0x200 only: no data-offset
    moof_size = (
        8 + len(mfhd)
        + (8 + len(tfhd_a) + trun_a_size)
        + (8 + len(tfhd_v) + trun_v_size)
    )
    # audio traf: first traf, base defaults to moof start, explicit
    # trun data-offset points at the mdat payload
    trun_a = M._box(
        b"trun",
        struct.pack(">IIi", 0x000201, 1, moof_size + 8)
        + struct.pack(">I", 3),
    )
    # video traf: NO base flag, NO data-offset → must anchor at the
    # audio traf's data END per §8.8.7
    trun_v = M._box(
        b"trun",
        struct.pack(">II", 0x000200, 2) + struct.pack(">II", 4, 5),
    )
    moof = M._box(
        b"moof",
        mfhd
        + M._box(b"traf", tfhd_a + trun_a)
        + M._box(b"traf", tfhd_v + trun_v),
    )
    assert len(moof) == moof_size
    audio = b"AAA"
    video = bytes(range(9))
    payload = head + moof + M._box(b"mdat", audio + video)
    info = M.parse_mp4(payload)
    assert info["sizes"] == v_sizes
    assert payload[info["offsets"][0] : info["offsets"][0] + 4] == video[:4]
    assert payload[info["offsets"][1] : info["offsets"][1] + 5] == video[4:]


def test_stss_entries_range_checked():
    """stss is 1-based: entry 0 (would become Python index -1 and
    silently decode the LAST sample) and entries past n_samples must
    both raise the module's corrupt-table ValueError."""
    good = M.encode_minimal_mp4([4, 4, 4], keyframes=[0, 2])
    i = good.find(b"stss")
    for bad_entry in (0, 9):
        bad = bytearray(good)
        # first sync entry sits 8 bytes into the stss body
        bad[i + 12 : i + 16] = struct.pack(">I", bad_entry)
        with pytest.raises(ValueError, match="stss"):
            M.parse_mp4(bytes(bad))


def test_codec_profile_avc1():
    """stsd/avcC metadata extraction: fourcc, VisualSampleEntry
    width/height at the §12.1.3 fixed offsets, avcC profile/compat/
    level, RFC 6381 codec string — plus graceful degradation on the
    raw 0-entry fixture stsd (ValueError, not garbage)."""
    payload = M.encode_minimal_mp4(
        [4, 4, 4], avc1=(640, 480, 100, 0xC0, 41)
    )
    prof = M.parse_codec_profile(payload)
    assert prof == {
        "codec": "avc1",
        "width": 640,
        "height": 480,
        "profile_idc": 100,
        "compat_flags": 0xC0,
        "level_idc": 41,
        "codec_string": "avc1.64c029",
    }
    # sample tables still demux around the avc1 stsd
    assert M.parse_mp4(payload)["sizes"] == [4, 4, 4]
    # HEVC twin: hvcC bit unpacking + Annex-E string (compat bits
    # BIT-REVERSED, zero constraint bytes trimmed, Main tier = L)
    hevc = M.encode_minimal_mp4(
        [4, 4], hev1=(1920, 1080, 1, 0x60000000, 0, 93)
    )
    hprof = M.parse_codec_profile(hevc)
    assert hprof == {
        "codec": "hev1",
        "width": 1920,
        "height": 1080,
        "profile_idc": 1,
        "compat_flags": 0x60000000,
        "level_idc": 93,
        "codec_string": "hev1.1.6.L93",
    }
    # high tier + profile space B + a non-zero constraint byte
    assert M._hevc_codec_string(
        "hvc1", 2, 1, 2, 0x30000000, b"\xb0\x00\x00\x00\x00\x00", 120
    ) == "hvc1.B2.c.H120.b0"
    # raw fixture: no sample descriptions → explicit error
    with pytest.raises(ValueError, match="sample description"):
        M.parse_codec_profile(M.encode_minimal_mp4([4]))
    # fragmented files carry the same moov stsd: profile extraction
    # must work on fMP4 too (it reads no sample tables)
    with pytest.raises(ValueError, match="sample description"):
        M.parse_codec_profile(M.encode_minimal_fmp4([4, 4]))


def test_audio_codec_profile_mp4a():
    """mp4a/esds metadata: AudioSampleEntry fixed offsets (§12.2.3),
    the ES descriptor chain walk incl. both the compact and padded
    expandable-length forms (ISO 14496-1 §8.3.3), ASC bit unpacking,
    RFC 6381 string, and the container-vs-ASC rate audit."""
    p = M.encode_minimal_mp4([9, 9], mp4a=(2, 44100, 2, 4))
    r = M.parse_audio_codec_profile(p)
    assert r == {
        "codec": "mp4a",
        "container_channels": 2,
        "sample_size": 16,
        "container_sample_rate": 44100,
        "oti": 0x40,
        "aot": 2,
        "asc_sample_rate": 44100,
        "asc_channels": 2,
        "codec_string": "mp4a.40.2",
        "rate_match": True,
    }
    # container claims half the ASC truth → audit bit trips
    lie = M.encode_minimal_mp4([9], mp4a=(1, 22050, 5, 4))
    rl = M.parse_audio_codec_profile(lie)
    assert rl["rate_match"] is False
    assert rl["asc_sample_rate"] == 44100
    assert rl["codec_string"] == "mp4a.40.5"
    # padded 0x80-prefixed 4-byte descriptor lengths parse identically
    pad = M.encode_minimal_mp4([9], mp4a=(2, 48000, 2, 3, None, True))
    assert M.parse_audio_codec_profile(pad) == M.parse_audio_codec_profile(
        M.encode_minimal_mp4([9], mp4a=(2, 48000, 2, 3))
    )
    # ASC explicit-frequency escape: index 15 + 24-bit rate (the form
    # non-standard rates like 44056 NTSC-pulldown audio actually use)
    esc = M.encode_minimal_mp4(
        [9], mp4a=(2, 44056, 2, 0xF, None, False, 44056)
    )
    re_ = M.parse_audio_codec_profile(esc)
    assert re_["asc_sample_rate"] == 44056
    assert re_["asc_channels"] == 2
    assert re_["rate_match"] is True
    # video-only file: loud failure, no positional fallback
    with pytest.raises(ValueError, match="soun"):
        M.parse_audio_codec_profile(
            M.encode_minimal_mp4([4], avc1=(64, 48, 66, 0, 30))
        )
    # audio trak demuxes like any other (sample tables intact)
    assert M.parse_mp4(p)["sizes"] == [9, 9]


def test_audio_codec_profile_opus():
    """Opus/dOps (Opus-in-BMFF §4.3): channel count and the
    informational InputSampleRate from the OpusSpecificBox; the audit
    bit checks the spec's samplerate==48000 REQUIREMENT on the sample
    entry, independent of the input rate."""
    p = M.encode_minimal_mp4([7, 7], opus=(2, 48000, 44100))
    r = M.parse_audio_codec_profile(p)
    assert r == {
        "codec": "Opus",
        "container_channels": 2,
        "sample_size": 16,
        "container_sample_rate": 48000,
        "oti": None,
        "aot": None,
        "asc_sample_rate": 44100,
        "asc_channels": 2,
        "codec_string": "opus",
        "rate_match": True,
    }
    # a muxer that wrote the input rate into the entry is nonconformant
    lie = M.parse_audio_codec_profile(
        M.encode_minimal_mp4([7], opus=(1, 44100, 44100))
    )
    assert lie["rate_match"] is False
    assert lie["container_sample_rate"] == 44100
    # truncated dOps: loud failure
    trunc = bytearray(p)
    i = trunc.find(b"dOps")
    trunc[i - 4 : i] = (9).to_bytes(4, "big")  # box shrunk below 11-byte body
    with pytest.raises(ValueError, match="dOps"):
        M.parse_audio_codec_profile(bytes(trunc))


def test_audio_codec_profile_flac():
    """fLaC/dfLa (FLAC-in-BMFF §3.3): STREAMINFO 20-bit rate / 3-bit
    channels at byte 10, audited against the container claim."""
    p = M.encode_minimal_mp4([5], flac=(2, 44100, 44100))
    r = M.parse_audio_codec_profile(p)
    assert (r["codec"], r["codec_string"]) == ("fLaC", "fLaC")
    assert r["asc_sample_rate"] == 44100
    assert r["asc_channels"] == 2
    assert r["rate_match"] is True
    # the 16.16 container field can't even hold 96 kHz (muxers write
    # 48000 there for hi-res audio): STREAMINFO is the only truth and
    # the audit flags the container claim
    lie = M.parse_audio_codec_profile(
        M.encode_minimal_mp4([5], flac=(2, 48000, 96000))
    )
    assert lie["rate_match"] is False
    assert lie["asc_sample_rate"] == 96000
    # surround channel count from STREAMINFO bits, not the container
    six = M.parse_audio_codec_profile(
        M.encode_minimal_mp4([5], flac=(2, 44100, 44100, 6))
    )
    assert six["asc_channels"] == 6
    assert six["container_channels"] == 2
    # non-STREAMINFO first block: loud failure
    bad = bytearray(M.encode_minimal_mp4([5], flac=(2, 44100, 44100)))
    i = bad.find(b"dfLa")
    bad[i + 8] = 0x84  # last | block type 4 (VORBIS_COMMENT)
    with pytest.raises(ValueError, match="STREAMINFO"):
        M.parse_audio_codec_profile(bytes(bad))


def test_box_walker_handles_largesize_and_to_end():
    body = b"\x01\x02\x03"
    large = (
        struct.pack(">I", 1) + b"test" + struct.pack(">Q", 16 + len(body)) + body
    )
    boxes = list(M.walk_boxes(large, 0, len(large)))
    assert boxes == [(b"test", 16, len(large))]
    to_end = struct.pack(">I", 0) + b"tail" + body
    boxes = list(M.walk_boxes(to_end, 0, len(to_end)))
    assert boxes == [(b"tail", 8, len(to_end))]


def test_parse_rejects_malformed():
    with pytest.raises(ValueError):
        M.parse_mp4(b"not an mp4 at all...")
    good = M.encode_minimal_mp4([4, 4])
    with pytest.raises(ValueError):
        M.parse_mp4(good[: len(good) // 2])  # moov truncated away
    # corrupt the stsz sample count -> inconsistent tables
    bad = bytearray(good)
    i = bad.find(b"stsz")
    (n,) = struct.unpack(">I", bad[i + 12 : i + 16])
    bad[i + 12 : i + 16] = struct.pack(">I", n + 1)
    with pytest.raises(ValueError):
        M.parse_mp4(bytes(bad))


def test_frame_index_every_n(spark):
    from bigdata_invoice_stream_analysis_spark.deploy import (
        ensure_package_on_workers,
    )

    ensure_package_on_workers(spark)
    rows = [
        (1, bytearray(M.encode_minimal_mp4([5, 6, 7, 8, 9], frame_delta=40))),
        (2, bytearray(M.encode_minimal_mp4([3, 3], frame_delta=100))),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = sorted(
        tuple(r) for r in M.frame_index(media, every_n=2).collect()
    )
    info1 = M.parse_mp4(bytes(rows[0][1]))
    expect = sorted(
        [
            (1, 0, info1["offsets"][0], 5, 0),
            (1, 2, info1["offsets"][2], 7, 80),
            (1, 4, info1["offsets"][4], 9, 160),
            (2, 0, M.parse_mp4(bytes(rows[1][1]))["offsets"][0], 3, 0),
        ]
    )
    assert got == expect


def test_decode_mjpeg_frames_exact_pixels():
    """MJPEG-in-MP4 end-to-end on the driver: container samples are
    real baseline JPEGs of constant 8×8 blocks (exact round-trip at
    quality 75 — the media_jpeg_roundtrip identity), so demux + slice
    + decode must reproduce every gray exactly."""
    from bigdata_invoice_stream_analysis_spark.operators.jpeg import encode_jpeg

    grays = [0, 17, 128, 200, 255]
    payload = M.encode_minimal_mp4(
        frames=[encode_jpeg(bytes([g] * 64), 8, 8, quality=75) for g in grays],
        frame_delta=40,
    )
    frames = M.decode_mjpeg_frames(payload)
    assert [f["frame_idx"] for f in frames] == [0, 1, 2, 3, 4]
    assert [f["pts"] for f in frames] == [0, 40, 80, 120, 160]
    for g, f in zip(grays, frames):
        assert (f["width"], f["height"], f["channels"]) == (8, 8, 1)
        assert bytes(f["pixels"]) == bytes([g] * 64)
    # every-2nd sampling keeps frames 0, 2, 4
    kept = M.decode_mjpeg_frames(payload, every_n=2)
    assert [f["frame_idx"] for f in kept] == [0, 2, 4]


def test_decode_mjpeg_frames_rejects_non_jpeg_samples():
    """Honest split retained: an mp4 whose samples are NOT JPEGs means
    a real inter-frame codec — decode must raise, not fabricate."""
    payload = M.encode_minimal_mp4([10, 20, 30])
    with pytest.raises(NotImplementedError, match="codec"):
        M.decode_mjpeg_frames(payload)


def test_decode_mjpeg_frames_corrupt_tables_are_value_errors():
    """Malformed INPUT is a codec ValueError, not the missing-codec
    NotImplementedError: a truncated mdat (sample range past EOF) or a
    zero-size sample must not be misread as 'needs an inter-frame
    codec' — data[off:off+sz] past EOF silently yields b'' otherwise."""
    good = M.encode_minimal_mp4([10, 20])
    # inflate sample 0's declared size in the stsz table so its byte
    # range runs past EOF (the truncated-mdat shape)
    pat = struct.pack(">II", 10, 20)
    assert pat in good
    bad = good.replace(pat, struct.pack(">II", 1 << 20, 20))
    with pytest.raises(ValueError, match="corrupt"):
        M.decode_mjpeg_frames(bad)
    # zero-size sample
    zero = M.encode_minimal_mp4([0, 10])
    with pytest.raises(ValueError, match="corrupt"):
        M.decode_mjpeg_frames(zero)


def test_corrupt_table_counts_bounded_not_hung():
    """A lying count field (stts run of 4 billion, stsz/stco/stsc/
    stss entry counts beyond their box, trun sample counts beyond the
    file) must raise ValueError BEFORE any unbounded expansion — the
    fuzz-found hang class."""
    import struct

    from bigdata_invoice_stream_analysis_spark.operators.mp4 import (
        encode_minimal_mp4,
        parse_mp4,
    )

    good = encode_minimal_mp4([40, 30, 50, 20])

    def corrupt(box: bytes, payload_off: int, value: int) -> bytes:
        blob = bytearray(good)
        i = blob.find(box)
        assert i > 0, box
        body = i + 4  # version/flags follow the type
        struct.pack_into(">I", blob, body + payload_off, value)
        return bytes(blob)

    # stts: entry_count huge (8 bytes per run must fit the box)
    with pytest.raises(ValueError, match="stts"):
        parse_mp4(corrupt(b"stts", 4, 0x7FFFFFFF))
    # stsz: entry count huge with uniform size 0 (table form)
    with pytest.raises(ValueError, match="stsz"):
        parse_mp4(corrupt(b"stsz", 8, 0x7FFFFFFF))
    # stco / stsc / stss entry counts
    with pytest.raises(ValueError, match="stco"):
        parse_mp4(corrupt(b"stco", 4, 0x7FFFFFFF))
    with pytest.raises(ValueError, match="stsc"):
        parse_mp4(corrupt(b"stsc", 4, 0x7FFFFFFF))


def test_corrupt_stts_run_sum_bounded():
    """Run counts that sum past the stsz sample count are caught by
    consistency, not expanded (a single run header fits its box but
    claims billions of samples)."""
    import struct

    from bigdata_invoice_stream_analysis_spark.operators.mp4 import (
        encode_minimal_mp4,
        parse_mp4,
    )

    blob = bytearray(encode_minimal_mp4([40, 30, 50, 20]))
    i = blob.find(b"stts")
    # first run's sample_count field: body + 8
    struct.pack_into(">I", blob, i + 4 + 8, 0x7FFFFFFF)
    with pytest.raises(ValueError, match="stts"):
        parse_mp4(bytes(blob))
