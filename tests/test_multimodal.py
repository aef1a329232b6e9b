"""Unit tests for operators/multimodal.py — the Arrow-batched plumbing
(schema, batch shapes, row expansion) with the stubbed decode."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_invoice_stream_analysis_spark.operators import multimodal as MM


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.createDataFrame(
        [(1, "abc", 3), (2, "", 0), (3, "hello world", 11)],
        ["doc_id", "text", "n_chars"],
    )
    return MM.documents_as_media(docs).cache()


def test_media_schema(media):
    # names/types must match the canonical schema (nullability may
    # differ when derived from a nullable source column; simpleString
    # renders names+types only, recursively)
    assert media.schema.simpleString() == MM.MEDIA_SCHEMA.simpleString()


def test_extract_byte_stats(media):
    rows = {r["media_id"]: r for r in MM.extract_byte_stats(media).collect()}
    assert rows[1]["n_bytes"] == 3
    assert rows[1]["byte_sum"] == ord("a") + ord("b") + ord("c")
    assert rows[1]["byte_min"] == ord("a") and rows[1]["byte_max"] == ord("c")
    assert rows[2]["n_bytes"] == 0 and rows[2]["byte_sum"] == 0
    assert rows[3]["byte_min"] == ord(" ")
    assert rows[1]["kind"] == "image"


def test_resize_stub_rewrites_meta(media):
    out = MM.resize_stub(media, 32, 16)
    assert out.schema.simpleString() == MM.MEDIA_SCHEMA.simpleString()
    r = out.filter(F.col("media_id") == 1).first()
    assert r["meta"]["width"] == 32 and r["meta"]["height"] == 16
    assert bytes(r["payload"]) == b"abc"


def test_frame_sample_stub(spark):
    docs = spark.createDataFrame([(1, "x", 1)], ["doc_id", "text", "n_chars"])
    media = MM.documents_as_media(docs).withColumn(
        "meta",
        F.struct(
            F.lit("video").alias("kind"),
            F.lit("raw").alias("format"),
            F.lit(1).alias("width"),
            F.lit(1).alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(7).alias("n_frames"),
        ),
    )
    out = MM.frame_sample_stub(media, every_n=2).collect()
    assert [(r["media_id"], r["frame_idx"]) for r in out] == [
        (1, 0), (1, 2), (1, 4), (1, 6)
    ]


def test_resize_stub_shapes_and_meta(spark):
    """NN-resize plumbing: every output payload is exactly target_w*h
    bytes, meta reflects the new dims, and corner pixels sample the
    expected source bytes."""
    from bigdata_invoice_stream_analysis_spark.operators import multimodal as MM

    docs = spark.createDataFrame(
        [(1, "abcdefgh", 8), (2, "xy", 2), (3, None, 0)],
        "doc_id long, text string, n_chars long",
    )
    media = MM.documents_as_media(docs).withColumn(
        "meta",
        F.col("meta")
        .withField("width", F.least(F.col("meta.width"), F.lit(4)))
        .withField("height", F.lit(2)),
    )
    out = {
        r.media_id: r
        for r in MM.resize_stub(media, 2, 2, resample=True).collect()
    }
    assert all(
        r.meta.width == 2 and r.meta.height == 2 for r in out.values()
    )
    # doc 1: 4x2 raster 'abcd'/'efgh' -> corners a, c, e, g
    assert out[1].payload == b"aceg"
    assert len(out[2].payload) == 4  # padded raster still resizes
    assert out[3].payload is None  # null payload stays null


def test_audio_chunk_stub_spans(spark):
    """Chunk spans tile the payload exactly: contiguous, non-overlapping,
    summing to the byte length; short tail chunk kept."""
    import pyspark.sql.functions as F

    from bigdata_invoice_stream_analysis_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        audio_chunk_stub,
    )

    rows = [
        (1, b"x" * 950, ("audio", "raw", None, None, 100, None)),  # 200-byte chunks
        (2, b"y" * 100, ("audio", "raw", None, None, 400, None)),  # single short chunk
        (3, b"", ("audio", "raw", None, None, 100, None)),          # empty payload
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {
        r["media_id"]: r
        for r in audio_chunk_stub(media, chunk_seconds=2)
        .groupBy("media_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_bytes").alias("total"),
            F.min("n_bytes").alias("tail"),
        )
        .collect()
    }
    assert got[1]["n"] == 5 and got[1]["total"] == 950 and got[1]["tail"] == 150
    assert got[2]["n"] == 1 and got[2]["total"] == 100
    assert 3 not in got  # empty payload -> no chunks


# ---------------------------------------------------------------------------
# Real stdlib codecs (PNM + PNG)
# ---------------------------------------------------------------------------


def _raster(w, h, channels=1, seed=3):
    import random

    rng = random.Random(seed)
    return bytes(rng.randrange(256) for _ in range(w * h * channels))


def test_pnm_roundtrip_p5_p6():
    for ch in (1, 3):
        px = _raster(7, 5, ch)
        img = MM.decode_pnm(MM.encode_pnm(7, 5, px, channels=ch))
        assert (img["width"], img["height"], img["channels"]) == (7, 5, ch)
        assert img["pixels"] == px


def test_pnm_header_comments_and_whitespace():
    px = _raster(4, 3)
    payload = b"P5\n# a comment\n  4\t3\n# more\n255\n" + px
    img = MM.decode_pnm(payload)
    assert (img["width"], img["height"]) == (4, 3)
    assert img["pixels"] == px


def test_pnm_rejects_truncation_and_bad_magic():
    with pytest.raises(ValueError):
        MM.decode_pnm(b"P5 4 4 255\n" + b"\x00" * 7)  # 16 expected
    with pytest.raises(ValueError):
        MM.decode_pnm(b"P2 2 2 255\n....")  # ASCII PNM unsupported


def test_png_roundtrip_all_filters_all_colortypes():
    """encode with each scanline filter (0-4) × each supported color
    type — decode must reproduce the exact raster, exercising the full
    unfilter matrix (Sub/Up/Average/Paeth reconstruction)."""
    for channels in (1, 2, 3, 4):
        px = _raster(6, 4, channels, seed=channels)
        for ftype in range(5):
            payload = MM.encode_png(6, 4, px, channels=channels, filter_type=ftype)
            img = MM.decode_png(payload)
            assert (img["width"], img["height"], img["channels"]) == (6, 4, channels)
            assert img["pixels"] == px, f"filter {ftype} channels {channels}"


def test_png_rejects_unsupported():
    px = _raster(2, 2)
    good = MM.encode_png(2, 2, px)
    with pytest.raises(ValueError):
        MM.decode_png(b"NOTPNG" + good)
    # 16-bit depth: patch IHDR depth byte (offset 8+8+8=24) and re-CRC
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    bad = (
        good[:8]
        + struct.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
        + good[8 + 12 + 13 :]
    )
    with pytest.raises(ValueError):
        MM.decode_png(bad)


def test_png_decode_skips_metadata_chunks():
    """Text and XMP metadata chunks ahead of IDAT are skipped: the image
    still decodes to the exact raster."""
    import struct
    import zlib

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    px = _raster(5, 2)
    good = MM.encode_png(5, 2, px)
    ihdr_end = 8 + 12 + 13
    tagged = (good[:ihdr_end] + chunk(b"tEXt", b"Note\x00x")
              + chunk(b"iTXt", b"XML:com.adobe.xmp\x00\x00\x00\x00\x00<x/>")
              + good[ihdr_end:])
    img = MM.decode_png(tagged)
    assert (img["width"], img["height"]) == (5, 2)
    assert img["pixels"] == px


def test_decode_pixel_stats_matches_driver_decode(spark):
    """The mapInPandas worker's inlined P5 parser == decode_pnm: random
    PGM payloads through the Spark operator, stats recomputed driver-
    side from decode_pnm's raster."""
    imgs = {i: _raster(16, 16, seed=i) for i in range(1, 6)}
    rows = [(i, MM.encode_pnm(16, 16, px)) for i, px in imgs.items()]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in MM.decode_pixel_stats(media, 8, 8).collect()}
    for i, px in imgs.items():
        dec = MM.decode_pnm(MM.encode_pnm(16, 16, px))["pixels"]
        assert dec == px
        r = got[i]
        assert (r["width"], r["height"]) == (16, 16)
        assert r["pixel_sum"] == sum(px)
        assert r["pixel_min"] == min(px) and r["pixel_max"] == max(px)
        assert r["resized_sum"] == sum(
            px[(rr * 2) * 16 + cc * 2] for rr in range(8) for cc in range(8)
        )


def test_decode_pixel_stats_raises_on_truncated_comment(spark):
    """The worker-inlined P5 parser must RAISE on a header comment with
    no terminating newline (bounds-checked like decode_pnm) — never
    spin the executor task."""
    media = spark.createDataFrame(
        [(1, b"P5 # truncated")], "media_id long, payload binary"
    )
    with pytest.raises(Exception):
        MM.decode_pixel_stats(media).collect()


def test_wav_roundtrip_8_and_16_bit():
    d8 = MM.decode_wav(MM.encode_wav(bytes(range(200)), 8000))
    assert (d8["sample_rate"], d8["bits"], d8["channels"]) == (8000, 8, 1)
    assert d8["samples"] == list(range(200))
    pcm16 = [0, 1, -1, 32767, -32768, 12345, -12345]
    d16 = MM.decode_wav(MM.encode_wav(pcm16, 44100, bits=16, channels=1))
    assert (d16["sample_rate"], d16["bits"]) == (44100, 16)
    assert d16["samples"] == pcm16
    # stereo: interleaved samples come back verbatim
    st = MM.decode_wav(MM.encode_wav([1, 2, 3, 4], 100, bits=16, channels=2))
    assert st["channels"] == 2 and st["samples"] == [1, 2, 3, 4]


def test_wav_header_matches_encode_wav():
    data = bytes(range(64))
    assert MM.wav_header(64, 150) + data == MM.encode_wav(data, 150)


def test_wav_chunk_walker_skips_extra_chunks_and_padding():
    # a LIST chunk with ODD length before fmt/data — the walker must
    # honor RIFF's 2-byte alignment to find the later chunks
    import struct

    data = bytes([10, 20, 30])
    canonical = MM.encode_wav(data, 100)
    extra = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"  # padded
    payload = (
        b"RIFF"
        + struct.pack("<I", 4 + len(extra) + len(canonical) - 8)
        + b"WAVE"
        + extra
        + canonical[12:]
    )
    d = MM.decode_wav(payload)
    assert d["samples"] == [10, 20, 30] and d["sample_rate"] == 100


def test_wav_rejects_bad_payloads():
    with pytest.raises(ValueError):
        MM.decode_wav(b"RIFFxxxxWAVX")
    with pytest.raises(ValueError):
        MM.decode_wav(b"RIFF\x04\x00\x00\x00WAVE")  # no fmt/data
    with pytest.raises(ValueError):
        MM.decode_wav(MM.encode_wav(b"ab", 100)[:40] + b"\xff\xff")  # truncated data len
    float_fmt = bytearray(MM.encode_wav(b"ab", 100))
    float_fmt[20] = 3  # IEEE float format tag
    with pytest.raises(ValueError):
        MM.decode_wav(bytes(float_fmt))


def test_audio_sample_stats_matches_driver_decode(spark):
    """The worker closure's inlined RIFF parse must agree with the
    driver-side decode_wav twin on chunk stats, including the short
    tail chunk."""
    payloads = [
        (1, MM.encode_wav(bytes((i * 7 + 3) % 256 for i in range(250)), 100)),
        (2, MM.encode_wav(bytes((i * 13) % 256 for i in range(90)), 150)),
    ]
    media = spark.createDataFrame(payloads, "media_id long, payload binary")
    got = {
        (r["media_id"], r["chunk_idx"]): r.asDict()
        for r in MM.audio_sample_stats(media, chunk_seconds=1).collect()
    }
    for mid, p in payloads:
        d = MM.decode_wav(p)
        rate = d["sample_rate"]
        chunks = [
            d["samples"][s : s + rate] for s in range(0, d["n_samples"], rate)
        ]
        assert len([k for k in got if k[0] == mid]) == len(chunks)
        for ci, ch in enumerate(chunks):
            r = got[(mid, ci)]
            devs = [v - 128 for v in ch]
            assert r["sample_rate"] == rate
            assert r["n_samples"] == len(ch)
            assert r["sample_sum"] == sum(ch)
            assert r["peak"] == max(abs(x) for x in devs)
            assert r["sq_dev_sum"] == sum(x * x for x in devs)


def test_media_cue_alignment_staged(spark, sf_dir):
    """Staged video-text alignment: each cue window [80j, 80j+60) must
    capture exactly the keyframes (every 3rd sample at 40 ms = pts
    120i) that land inside it — recomputed here in plain Python for
    every k in the codebook."""
    from bigdata_invoice_stream_analysis_spark.plans.mediaops import (
        q_media_cue_alignment,
    )

    rows = q_media_cue_alignment(spark, sf_dir).collect()
    assert rows, "alignment produced no pairs"
    # Expected hits per (k, cue j): keyframe pts are 120*i for
    # i < ceil((k+3)/3); window is [80j, 80j+60).
    def expected(k, j):
        kfs = [120 * i for i in range((k + 3 + 2) // 3)]
        return [p for p in kfs if 80 * j <= p < 80 * j + 60]

    for r in rows:
        k = r["media_id"] % 8
        exp = expected(k, r["cue_idx"])
        assert exp, f"row for empty window k={k} j={r['cue_idx']}"
        assert r["n_keyframes"] == len(exp)
        assert r["first_kf_pts"] == exp[0]
        assert r["text"] == f"cue {k} {r['cue_idx']}"
    # Windows with no keyframe must NOT appear (inner join semantics):
    got = {(r["media_id"] % 8, r["cue_idx"]) for r in rows}
    for k in range(8):
        for j in range(2 + k % 2):
            assert ((k, j) in got) == bool(expected(k, j))
