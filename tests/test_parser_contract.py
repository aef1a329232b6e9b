"""The shared parser contract, fuzz-pinned: malformed input to any
binary parser raises ValueError — never TypeError/KeyError/
struct.error/zlib.error/etc., which would escape the Spark
quarantine handlers and kill whole tasks instead of quarantining one
blob.  A seeded corruption fuzz (byte flips, truncations, garbage
insertion, pure noise) runs per parser, plus targeted regressions
for every escape class the round-8 fuzz actually found."""

from __future__ import annotations

import io
import json
import random
import struct
import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bigdata_invoice_stream_analysis_spark.operators.avro import parse_avro
from bigdata_invoice_stream_analysis_spark.operators.parquetmeta import (
    CT_I32,
    _Writer,
    encode_parquet,
    parse_parquet_footer,
)
from bigdata_invoice_stream_analysis_spark.operators.pdf import (
    encode_minimal_pdf,
    parse_pdf,
)
from bigdata_invoice_stream_analysis_spark.operators.tensorfile import (
    parse_npy,
)
from fixture_writers import (
    _zigzag,
    encode_avro,
    encode_lz4_stream,
    encode_tiff,
    encode_zstd_stream,
)


def _fixtures() -> list[tuple[str, object, bytes]]:
    pq = encode_parquet(
        [("a", "int64", [1, 2, 3, None]),
         ("s", "string", ["x", "yy", "z", "w"])],
        codec="GZIP", max_rows_per_group=2)
    av = encode_avro(
        {"type": "record", "name": "R", "fields": [
            {"name": "x", "type": "long"},
            {"name": "s", "type": "string"}]},
        [{"x": 1, "s": "a"}, {"x": 2, "s": "b"}], codec="deflate")
    buf = io.BytesIO()
    np.save(buf, np.arange(8, dtype=np.int64))
    npy = buf.getvalue()
    pdf = encode_minimal_pdf(["hello world", "page two"])

    import pyarrow as pa
    import pyarrow.ipc as ipc
    import pyarrow.orc as pa_orc

    from bigdata_invoice_stream_analysis_spark.operators.arrowipc import (
        parse_arrow_file,
    )
    from bigdata_invoice_stream_analysis_spark.operators.orcmeta import (
        parse_orc_footer,
    )

    table = pa.table({"a": [1, 2, None], "s": ["x", "y", "z"]})
    buf = io.BytesIO()
    pa_orc.write_table(table.drop_null(), buf, compression="zlib")
    orc = buf.getvalue()
    buf = io.BytesIO()
    with ipc.new_file(buf, table.schema) as w:
        w.write_table(table, max_chunksize=2)
    arrow = buf.getvalue()

    return [
        ("parquet", parse_parquet_footer, pq),
        ("avro", parse_avro, av),
        ("npy", parse_npy, npy),
        ("pdf", parse_pdf, pdf),
        ("orc", parse_orc_footer, orc),
        ("arrow", parse_arrow_file, arrow),
    ] + _fixtures_media()


def _text(fn):
    """Adapt a str-input parser to the byte-mutation fuzz: corpus text
    arrives as bytes and is decoded with replacement before parsing,
    exactly as the Spark-side wrappers do."""
    return lambda b: fn(b.decode("utf-8", "replace"))


def _fixtures_media() -> list[tuple[str, object, bytes]]:
    """Every remaining registered blob parser (ADVICE r8: the round-8
    additions were missing from the fuzz table, which is exactly how
    the AVI recursion bomb escaped). test_fuzz_table_is_complete below
    asserts this list plus _fixtures() covers every public parse_*
    in operators/ — a completeness invariant, not a convention."""
    from bigdata_invoice_stream_analysis_spark.operators.av1 import (
        encode_av1_stream,
        encode_sequence_header,
        parse_obus,
        parse_sequence_header,
    )
    from bigdata_invoice_stream_analysis_spark.operators.avi import (
        encode_avi,
        parse_avi,
    )
    from bigdata_invoice_stream_analysis_spark.operators.bmp import (
        encode_bmp,
        encode_ico,
        parse_bmp,
        parse_ico,
    )
    from bigdata_invoice_stream_analysis_spark.operators.compression import (
        parse_lz4_frames,
        parse_zstd_frames,
    )
    from bigdata_invoice_stream_analysis_spark.operators.ebml import (
        encode_minimal_webm,
        parse_webm,
    )
    from bigdata_invoice_stream_analysis_spark.operators.eml import (
        encode_eml,
        parse_eml,
    )
    from bigdata_invoice_stream_analysis_spark.operators.exif import (
        encode_exif_jpeg,
        parse_exif,
        parse_tiff,
    )
    from bigdata_invoice_stream_analysis_spark.operators.feeds import (
        parse_feed,
    )
    from bigdata_invoice_stream_analysis_spark.operators.flacmeta import (
        encode_flac,
        parse_flac,
    )
    from bigdata_invoice_stream_analysis_spark.operators.gif import (
        encode_minimal_gif,
        parse_gif,
    )
    from bigdata_invoice_stream_analysis_spark.operators.h264 import (
        encode_sps,
        parse_sps,
    )
    from bigdata_invoice_stream_analysis_spark.operators.h265 import (
        encode_hevc_sps,
        parse_hevc_sps,
    )
    from bigdata_invoice_stream_analysis_spark.operators.heif import (
        encode_minimal_heif,
        parse_heif,
    )
    from bigdata_invoice_stream_analysis_spark.operators.hls import (
        parse_m3u8,
    )
    from bigdata_invoice_stream_analysis_spark.operators.mp4 import (
        encode_minimal_mp4,
        parse_audio_codec_profile,
        parse_codec_profile,
        parse_hevc_sps_cross_check,
        parse_mp4,
        parse_sps_cross_check,
    )
    from bigdata_invoice_stream_analysis_spark.operators.mpegaudio import (
        encode_adts,
        encode_id3v2,
        encode_mp3,
        parse_adts,
        parse_id3v2_frames,
        parse_mp3,
    )
    from bigdata_invoice_stream_analysis_spark.operators.mpegts import (
        encode_minimal_ts,
        parse_ts,
    )
    from bigdata_invoice_stream_analysis_spark.operators.multimodal import (
        encode_png,
    )
    from bigdata_invoice_stream_analysis_spark.operators.ogg import (
        encode_minimal_opus,
        parse_ogg,
    )
    from bigdata_invoice_stream_analysis_spark.operators.ooxml import (
        encode_minimal_docx,
        parse_ooxml,
    )
    from bigdata_invoice_stream_analysis_spark.operators.robots import (
        parse_robots,
        parse_sitemap,
    )
    from bigdata_invoice_stream_analysis_spark.operators.subtitles import (
        parse_subtitles,
    )
    from bigdata_invoice_stream_analysis_spark.operators.svg import (
        parse_svg,
    )
    from bigdata_invoice_stream_analysis_spark.operators.warc import (
        encode_http_response,
        encode_warc,
        parse_http_response,
        parse_warc,
    )
    from bigdata_invoice_stream_analysis_spark.operators.wds import (
        encode_tar,
        parse_tar,
    )
    from bigdata_invoice_stream_analysis_spark.operators.webp import (
        encode_webp,
        parse_webp,
    )
    from bigdata_invoice_stream_analysis_spark.operators.zip import (
        encode_zip,
        parse_zip,
    )

    png = encode_png(2, 2, bytes(4))
    mp4 = encode_minimal_mp4(frame_sizes=[100, 80, 120])
    http = encode_http_response(
        200, "OK", {"Content-Type": "text/html"},
        b"<html><body>hello</body></html>")
    sitemap = (b'<?xml version="1.0"?>'
               b'<urlset><url><loc>http://a/x</loc></url></urlset>')
    rss = (b'<?xml version="1.0"?><rss><channel><title>T</title>'
           b'<item><title>a</title><link>http://a/1</link></item>'
           b"</channel></rss>")
    svg = (b'<svg xmlns="http://www.w3.org/2000/svg" width="10" '
           b'height="8"><text>hi</text></svg>')
    m3u8 = (b"#EXTM3U\n#EXT-X-TARGETDURATION:4\n"
            b"#EXTINF:4.0,\nseg0.ts\n#EXT-X-ENDLIST\n")
    vtt = (b"WEBVTT\n\n00:00.000 --> 00:02.000\nhello\n")
    robots = b"User-agent: *\nDisallow: /private\n"

    return [
        ("avi", parse_avi, encode_avi()),
        ("ts", parse_ts, encode_minimal_ts()),
        ("heif", parse_heif, encode_minimal_heif()),
        ("eml", _text(parse_eml), encode_eml().encode()),
        ("flac", parse_flac, encode_flac()),
        ("ogg", parse_ogg, encode_minimal_opus()),
        ("bmp", parse_bmp, encode_bmp()),
        ("ico", parse_ico, encode_ico([(16, 16, png)])),
        ("ooxml", parse_ooxml, encode_minimal_docx(["hello world"])),
        ("gif", parse_gif, encode_minimal_gif([10, 10, 10])),
        ("webp", parse_webp, encode_webp(48, 32)),
        ("exif", parse_exif, encode_exif_jpeg()),
        ("tiff", parse_tiff, encode_tiff(32, 24)),
        ("zip", parse_zip, encode_zip([("a.txt", b"hello")])),
        ("tar", parse_tar, encode_tar([("a.txt", b"hello")])),
        ("warc", parse_warc,
         encode_warc([("response", {"WARC-Target-URI": "http://a/"},
                       http)])),
        ("http", parse_http_response, http),
        ("webm", parse_webm, encode_minimal_webm()),
        ("mp4", parse_mp4, mp4),
        ("mp4_codec", parse_codec_profile, mp4),
        ("mp4_audio_codec", parse_audio_codec_profile, mp4),
        ("mp4_sps_xc", parse_sps_cross_check, mp4),
        ("mp4_hevc_xc", parse_hevc_sps_cross_check, mp4),
        ("mp3", parse_mp3, encode_mp3(4)),
        ("adts", parse_adts, encode_adts(4)),
        ("id3", parse_id3v2_frames,
         encode_id3v2([("TIT2", (3, "t")), ("TPE1", (3, "a"))])),
        ("av1_obus", parse_obus, encode_av1_stream({})),
        ("av1_seq", parse_sequence_header, encode_sequence_header()),
        ("h264_sps", parse_sps, encode_sps(66, 0x40, 31, 5, 4)),
        ("h265_sps", parse_hevc_sps, encode_hevc_sps(1, 0, 93, 640, 480)),
        ("zstd", parse_zstd_frames,
         encode_zstd_stream([{"blocks": [b"data" * 16]}])),
        ("lz4", parse_lz4_frames,
         encode_lz4_stream([{"blocks": [b"data" * 16]}])),
        ("hls", _text(parse_m3u8), m3u8),
        ("svg", _text(parse_svg), svg),
        ("feed", _text(parse_feed), rss),
        ("subtitles", _text(parse_subtitles), vtt),
        ("robots", _text(parse_robots), robots),
        ("sitemap", parse_sitemap, sitemap),
    ]


@pytest.mark.parametrize("name,fn,blob", _fixtures(),
                         ids=[f[0] for f in _fixtures()])
def test_seeded_corruption_fuzz_raises_only_valueerror(name, fn, blob):
    rng = random.Random(12345)
    for _ in range(250):
        b = bytearray(blob)
        op = rng.random()
        if op < 0.4 and len(b) > 4:
            for _ in range(rng.randint(1, 4)):
                i = rng.randrange(len(b))
                b[i] = rng.randrange(256)
        elif op < 0.7:
            b = b[: rng.randrange(len(b))]
        elif op < 0.85:
            i = rng.randrange(len(b) + 1)
            b = (b[:i]
                 + bytes(rng.randrange(256)
                         for _ in range(rng.randint(1, 8)))
                 + b[i:])
        else:
            b = bytes(rng.randrange(256)
                      for _ in range(rng.randrange(200)))
        try:
            fn(bytes(b))
        except ValueError:
            pass
        # anything else propagates and fails the test


# --- the specific escape classes the round-8 fuzz found ---------------------

def _footer_file(footer: bytes) -> bytes:
    return (b"PAR1" + footer
            + len(footer).to_bytes(4, "little") + b"PAR1")


def test_parquet_wrong_typed_field_is_valueerror():
    """row_groups (field 4) decoded as an int instead of a list must
    be 'malformed footer', not a TypeError from the mapping code."""
    w = _Writer()
    w.struct([(4, CT_I32, 5)])
    with pytest.raises(ValueError, match="malformed|truncated"):
        parse_parquet_footer(_footer_file(bytes(w.out)))


def test_parquet_nonprimitive_map_key_is_valueerror():
    # field 5, MAP type, 1 entry, key type STRUCT (unhashable)
    footer = bytes([0x5B, 0x01, 0xC5])
    with pytest.raises(ValueError, match="map key|truncated"):
        parse_parquet_footer(_footer_file(footer))


def test_avro_corrupt_deflate_block_is_valueerror():
    """A block that is not valid deflate must surface as ValueError
    (the codec library's zlib.error must not leak)."""
    good = encode_avro(
        {"type": "record", "name": "R",
         "fields": [{"name": "x", "type": "long"}]},
        [{"x": 1}], codec="deflate")
    sync = good[-16:]
    # container head ends right after the first sync marker
    head_end = good.index(sync) + 16
    garbage = b"\xff\xfe\xfd\xfc\xfb"  # not a deflate stream
    bad = (good[:head_end]
           + _zigzag(1) + _zigzag(len(garbage)) + garbage + sync)
    with pytest.raises(ValueError, match="deflate"):
        parse_avro(bad)


def test_avro_wrong_shape_schema_is_valueerror():
    """Valid JSON of the wrong shape (record without 'fields') must
    be a parse error, not a KeyError."""
    good = encode_avro(
        {"type": "record", "name": "R",
         "fields": [{"name": "x", "type": "long"}]},
        [{"x": 1}], codec="null")
    bad_schema = json.dumps({"type": "record", "name": "R"},
                            sort_keys=True,
                            separators=(",", ":")).encode()
    # rebuild the container with the truncated schema
    from bigdata_invoice_stream_analysis_spark.operators.avro import MAGIC

    out = bytearray(MAGIC)
    meta = {"avro.codec": b"null", "avro.schema": bad_schema}
    out += _zigzag(len(meta))
    for k in sorted(meta):
        kb = k.encode()
        out += _zigzag(len(kb)) + kb
        out += _zigzag(len(meta[k])) + meta[k]
    out += _zigzag(0)
    sync = good[-16:]
    out += sync
    out += _zigzag(1) + _zigzag(1) + b"\x02" + sync
    with pytest.raises(ValueError, match="malformed schema"):
        parse_avro(bytes(out))


def test_npy_scalar_shape_header_is_valueerror():
    buf = io.BytesIO()
    np.save(buf, np.arange(4, dtype=np.int64))
    blob = bytearray(buf.getvalue())
    (hlen,) = struct.unpack_from("<H", blob, 8)
    header = (b"{'descr': '<i8', 'fortran_order': False, "
              b"'shape': 3}").ljust(hlen)
    blob[10 : 10 + hlen] = header
    with pytest.raises(ValueError, match="shape"):
        parse_npy(bytes(blob))


# --- completeness: the fuzz table must cover the whole parser surface ------

# parse_* functions that are deliberately NOT separate fuzz rows, each
# with the reason. Everything else under operators/ must appear in the
# fuzz table — this is an assert, so adding a parser without a fuzz row
# fails the suite (VERDICT r8 item 7: the AVI recursion bomb escaped
# precisely because the r8 parsers never entered this table).
_FUZZ_EXEMPT: dict[str, str] = {
    "validate.parse_purchases": "DataFrame operator, not a blob parser",
    "eml.parse_headers": "helper; fuzzed through parse_eml",
    "eml.parse_content_type": "helper; fuzzed through parse_eml",
    "hls.parse_attribute_list": "line helper; fuzzed through parse_m3u8",
    "pdf.parse_object": "helper; fuzzed through parse_pdf",
    "pdf.parse_cmap": "helper; fuzzed through parse_pdf",
    "orcmeta.parse_wire": "helper; fuzzed through parse_orc_footer",
    "mpegaudio.parse_id3v2_size": "syncsafe-int helper; via parse_mp3",
    "subtitles.parse_vtt": "fuzzed through parse_subtitles dispatch",
    "subtitles.parse_srt": "fuzzed through parse_subtitles dispatch",
}

# fuzz-table name → operators module.method(s) it covers
_FUZZ_COVERS: dict[str, list[str]] = {
    "parquet": ["parquetmeta.parse_parquet_footer"],
    "avro": ["avro.parse_avro"],
    "npy": ["tensorfile.parse_npy"],
    "pdf": ["pdf.parse_pdf"],
    "orc": ["orcmeta.parse_orc_footer"],
    "arrow": ["arrowipc.parse_arrow_file"],
    "avi": ["avi.parse_avi"],
    "ts": ["mpegts.parse_ts"],
    "heif": ["heif.parse_heif"],
    "eml": ["eml.parse_eml"],
    "flac": ["flacmeta.parse_flac"],
    "ogg": ["ogg.parse_ogg"],
    "bmp": ["bmp.parse_bmp"],
    "ico": ["bmp.parse_ico"],
    "ooxml": ["ooxml.parse_ooxml"],
    "gif": ["gif.parse_gif"],
    "webp": ["webp.parse_webp"],
    "exif": ["exif.parse_exif"],
    "tiff": ["exif.parse_tiff"],
    "zip": ["zip.parse_zip"],
    "tar": ["wds.parse_tar"],
    "warc": ["warc.parse_warc"],
    "http": ["warc.parse_http_response"],
    "webm": ["ebml.parse_webm"],
    "mp4": ["mp4.parse_mp4"],
    "mp4_codec": ["mp4.parse_codec_profile"],
    "mp4_audio_codec": ["mp4.parse_audio_codec_profile"],
    "mp4_sps_xc": ["mp4.parse_sps_cross_check"],
    "mp4_hevc_xc": ["mp4.parse_hevc_sps_cross_check"],
    "mp3": ["mpegaudio.parse_mp3"],
    "adts": ["mpegaudio.parse_adts"],
    "id3": ["mpegaudio.parse_id3v2_frames"],
    "av1_obus": ["av1.parse_obus"],
    "av1_seq": ["av1.parse_sequence_header"],
    "h264_sps": ["h264.parse_sps"],
    "h265_sps": ["h265.parse_hevc_sps"],
    "zstd": ["compression.parse_zstd_frames"],
    "lz4": ["compression.parse_lz4_frames"],
    "hls": ["hls.parse_m3u8"],
    "svg": ["svg.parse_svg"],
    "feed": ["feeds.parse_feed"],
    "subtitles": ["subtitles.parse_subtitles"],
    "robots": ["robots.parse_robots"],
    "sitemap": ["robots.parse_sitemap"],
}


def test_fuzz_table_is_complete():
    """Every public parse_* across operators/ is either a fuzz row or
    an exemption with a written reason. New parsers cannot land
    without entering the corruption fuzz."""
    import ast

    ops_dir = (Path(__file__).resolve().parents[1]
               / "bigdata_invoice_stream_analysis_spark" / "operators")
    surface: set[str] = set()
    for py in sorted(ops_dir.glob("*.py")):
        tree = ast.parse(py.read_text())
        for node in ast.walk(tree):
            if (isinstance(node, ast.FunctionDef)
                    and node.name.startswith("parse_")):
                surface.add(f"{py.stem}.{node.name}")

    covered = {m for ms in _FUZZ_COVERS.values() for m in ms}
    missing = sorted(surface - covered - set(_FUZZ_EXEMPT))
    assert not missing, f"parsers with no fuzz row or exemption: {missing}"
    # hygiene both ways: no stale cover/exempt entries, and the cover
    # table matches the actual fixture ids
    stale = sorted((covered | set(_FUZZ_EXEMPT)) - surface)
    assert not stale, f"fuzz table names a parser that no longer exists: {stale}"
    fixture_ids = {f[0] for f in _fixtures()}
    assert fixture_ids == set(_FUZZ_COVERS)


# --- ADVICE r8 regressions ---------------------------------------------------


def test_avi_nested_list_bomb_is_valueerror():
    """A crafted AVI of deeply nested LISTs must quarantine as
    ValueError, not RecursionError (ADVICE r8: verified escape at
    ~36 KB of nesting)."""
    from bigdata_invoice_stream_analysis_spark.operators.avi import (
        parse_avi,
    )

    inner = b"JUNK" + struct.pack("<I", 0)
    for _ in range(3000):
        body = b"hdrl" + inner
        inner = b"LIST" + struct.pack("<I", len(body)) + body
    blob = b"RIFF" + struct.pack("<I", len(inner) + 4) + b"AVI " + inner
    with pytest.raises(ValueError, match="depth"):
        parse_avi(blob)


def test_avi_rec_list_bomb_is_valueerror():
    """Same bomb through the movi/'rec ' counting path."""
    from bigdata_invoice_stream_analysis_spark.operators.avi import (
        encode_avi,
        parse_avi,
    )

    inner = b"00dc" + struct.pack("<I", 0)
    for _ in range(3000):
        body = b"rec " + inner
        inner = b"LIST" + struct.pack("<I", len(body)) + body
    movi_body = b"movi" + inner
    movi = b"LIST" + struct.pack("<I", len(movi_body)) + movi_body
    good = encode_avi()
    # keep the valid hdrl so the walk reaches the crafted movi
    body = good[12:] + movi
    blob = b"RIFF" + struct.pack("<I", len(body) + 4) + b"AVI " + body
    with pytest.raises(ValueError, match="depth"):
        parse_avi(blob)


def test_eml_boundary_substring_mid_line_is_not_a_delimiter():
    """RFC 2046 §5.1.1: only a line-initial '--boundary' delimits.
    A body whose TEXT contains '--b 20%' with boundary 'b' must parse
    (ADVICE r8: it previously fragmented and quarantined)."""
    from bigdata_invoice_stream_analysis_spark.operators.eml import (
        parse_eml,
    )

    msg = (
        "From: a@example.com\r\n"
        "To: b@example.com\r\n"
        "Subject: promo\r\n"
        'Content-Type: multipart/mixed; boundary="b"\r\n'
        "\r\n"
        "preamble\r\n"
        "--b\r\n"
        "Content-Type: text/plain\r\n"
        "\r\n"
        "prices cut --b 20% this week\r\n"
        "--b--\r\n"
    )
    out = parse_eml(msg)
    assert out["n_parts"] == 1
    assert "prices cut --b 20% this week" in out["text"]


def test_eml_crlf_before_delimiter_belongs_to_delimiter():
    """The CRLF immediately preceding a delimiter is the delimiter's;
    an extra blank line before it is part content."""
    from bigdata_invoice_stream_analysis_spark.operators.eml import (
        parse_eml,
    )

    msg = (
        "From: a@example.com\r\n"
        'Content-Type: multipart/mixed; boundary="xyz"\r\n'
        "\r\n"
        "--xyz\r\n"
        "Content-Type: text/plain\r\n"
        "\r\n"
        "line one\r\n"
        "--xyz--\r\n"
    )
    assert parse_eml(msg)["text"] == "line one"


def test_sniff_188_byte_g_text_is_not_ts():
    """A 188-byte text blob starting with 'G' must not misroute to the
    MPEG-TS demuxer (ADVICE r8): at least two sync bytes required."""
    from bigdata_invoice_stream_analysis_spark.operators.sniff import (
        sniff_format,
        triage,
    )

    blob = (b"Gather round: " + b"x" * 174)
    assert len(blob) == 188
    assert sniff_format(blob) != "ts"
    assert not triage(blob)["format"].startswith("ts")
    # a real two-packet TS still sniffs
    from bigdata_invoice_stream_analysis_spark.operators.mpegts import (
        encode_minimal_ts,
    )

    assert sniff_format(encode_minimal_ts()) == "ts"
    # and a 'G'-leading blob with a lucky second sync but garbage third
    # falls through too
    fake = bytearray(b"G" + b"t" * 187 + b"G" + b"u" * 187 + b"v" * 188)
    assert sniff_format(bytes(fake)) != "ts"


def test_triage_never_raises_on_corrupted_codebook_payloads():
    """sniff.triage is the quarantine boundary for the whole graded
    ingestion surface: over corruptions of every content_triage
    codebook payload it must always return a row — the fuzz that
    found the mp4 sample-table count hang."""
    from bigdata_invoice_stream_analysis_spark.operators.sniff import (
        triage,
    )
    from bigdata_invoice_stream_analysis_spark.plans.ingestion import (
        _triage_payload,
    )

    from bigdata_invoice_stream_analysis_spark.plans.ingestion import (
        _TRIAGE_K,
    )

    rng = random.Random(77)
    for k in range(_TRIAGE_K):
        blob = _triage_payload(k)
        for _ in range(60):
            b = bytearray(blob)
            op = rng.random()
            if op < 0.45 and len(b) > 4:
                for _ in range(rng.randint(1, 5)):
                    i = rng.randrange(len(b))
                    b[i] = rng.randrange(256)
            elif op < 0.75:
                b = b[: rng.randrange(len(b))]
            elif op < 0.9:
                i = rng.randrange(len(b) + 1)
                b = (b[:i]
                     + bytes(rng.randrange(256)
                             for _ in range(rng.randint(1, 10)))
                     + b[i:])
            else:
                b = bytes(rng.randrange(256)
                          for _ in range(rng.randrange(300)))
            row = triage(bytes(b))  # must never raise
            assert "format" in row
