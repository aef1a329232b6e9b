"""HLS playlist parsing (operators/hls) — RFC 8216 attribute lists,
media/master playlists, the encryption state machine, and RFC 3986
URI absolutization through the shared resolver."""

import pytest

from bigdata_invoice_stream_analysis_spark.operators.hls import (
    hls_segments,
    parse_attribute_list,
    parse_m3u8,
)

MEDIA = """#EXTM3U
#EXT-X-VERSION:3
#EXT-X-TARGETDURATION:6
#EXT-X-MEDIA-SEQUENCE:264
#EXTINF:5.960,
seg264.ts
#EXTINF:6.000,title here
seg265.ts
#EXT-X-KEY:METHOD=AES-128,URI="key.bin",IV=0x9c7655
#EXTINF:4.033,
seg266.ts
#EXT-X-ENDLIST
"""

MASTER = """#EXTM3U
#EXT-X-VERSION:4
#EXT-X-MEDIA:TYPE=AUDIO,GROUP-ID="aud",NAME="English",LANGUAGE="en",DEFAULT=YES,URI="audio/en.m3u8"
#EXT-X-STREAM-INF:BANDWIDTH=1280000,AVERAGE-BANDWIDTH=1000000,RESOLUTION=640x360,CODECS="avc1.42001e,mp4a.40.2",AUDIO="aud"
low/index.m3u8
#EXT-X-STREAM-INF:BANDWIDTH=7680000,RESOLUTION=1920x1080,FRAME-RATE=29.970
hi/index.m3u8
#EXT-X-I-FRAME-STREAM-INF:BANDWIDTH=86000,URI="iframe.m3u8"
"""


def test_attribute_list_tokenizer():
    a = parse_attribute_list(
        'BANDWIDTH=1280000,CODECS="avc1.42001e,mp4a.40.2",RESOLUTION=640x360')
    assert a["BANDWIDTH"] == "1280000"
    assert a["CODECS"] == "avc1.42001e,mp4a.40.2"  # comma inside quotes
    assert a["RESOLUTION"] == "640x360"


def test_attribute_list_errors():
    with pytest.raises(ValueError, match="unterminated"):
        parse_attribute_list('URI="x')
    with pytest.raises(ValueError, match="junk after"):
        parse_attribute_list('URI="x"y')
    with pytest.raises(ValueError, match="without '='"):
        parse_attribute_list("JUSTANAME")


def test_media_playlist():
    m = parse_m3u8(MEDIA)
    assert m["kind"] == "media"
    assert m["version"] == 3
    assert m["target_duration_ms"] == 6000
    assert m["media_sequence"] == 264
    assert m["ended"] is True
    assert len(m["segments"]) == 3
    assert m["segments"][0]["duration_ms"] == 5960
    assert m["segments"][1]["title"] == "title here"
    assert m["total_duration_ms"] == 5960 + 6000 + 4033


def test_key_state_machine_applies_to_following_segments():
    m = parse_m3u8(MEDIA)
    methods = [s["key_method"] for s in m["segments"]]
    assert methods == ["NONE", "NONE", "AES-128"]
    assert m["encrypted"] is True


def test_live_playlist_without_endlist():
    live = MEDIA.replace("#EXT-X-ENDLIST\n", "")
    m = parse_m3u8(live)
    assert m["ended"] is False


def test_master_playlist():
    m = parse_m3u8(MASTER)
    assert m["kind"] == "master"
    full = [v for v in m["variants"] if not v["iframe_only"]]
    assert [v["bandwidth"] for v in full] == [1280000, 7680000]
    assert (full[1]["width"], full[1]["height"]) == (1920, 1080)
    assert full[0]["codecs"] == "avc1.42001e,mp4a.40.2"
    assert full[1]["frame_rate"] == pytest.approx(29.97)
    iframe = [v for v in m["variants"] if v["iframe_only"]]
    assert iframe[0]["uri"] == "iframe.m3u8"
    assert m["renditions"][0]["language"] == "en"
    assert m["renditions"][0]["default"] is True


def test_absolutize_against_manifest_url():
    m = parse_m3u8(MASTER, base_url="https://cdn.example.com/v1/index.m3u8")
    full = [v for v in m["variants"] if not v["iframe_only"]]
    assert full[0]["uri"] == "https://cdn.example.com/v1/low/index.m3u8"
    m2 = parse_m3u8(MEDIA, base_url="https://cdn.example.com/v1/a/pl.m3u8")
    assert m2["segments"][0]["uri"] == "https://cdn.example.com/v1/a/seg264.ts"


def test_byterange_map_and_discontinuity():
    text = (
        "#EXTM3U\n#EXT-X-TARGETDURATION:4\n"
        '#EXT-X-MAP:URI="init.mp4"\n'
        "#EXT-X-BYTERANGE:75232@0\n#EXTINF:4.0,\nmain.mp4\n"
        "#EXT-X-DISCONTINUITY\n"
        "#EXT-X-BYTERANGE:82112@75232\n#EXTINF:4.0,\nmain.mp4\n"
    )
    m = parse_m3u8(text)
    s = m["segments"]
    assert s[0]["byterange"] == "75232@0"
    assert s[0]["map_uri"] == "init.mp4"
    assert s[0]["discontinuity"] is False
    assert s[1]["discontinuity"] is True


def test_bom_tolerated():
    assert parse_m3u8("﻿" + MEDIA)["kind"] == "media"


def test_missing_header_raises():
    with pytest.raises(ValueError, match="EXTM3U"):
        parse_m3u8("#EXT-X-VERSION:3\n")


def test_dangling_extinf_raises():
    with pytest.raises(ValueError, match="dangling EXTINF"):
        parse_m3u8("#EXTM3U\n#EXTINF:4.0,\n")


def test_stream_inf_needs_uri_line():
    with pytest.raises(ValueError, match="not followed by a URI"):
        parse_m3u8(
            "#EXTM3U\n#EXT-X-STREAM-INF:BANDWIDTH=1\n#EXT-X-VERSION:3\nu\n")
    with pytest.raises(ValueError, match="dangling EXT-X-STREAM-INF"):
        parse_m3u8("#EXTM3U\n#EXT-X-STREAM-INF:BANDWIDTH=1\n")


def test_bandwidth_required():
    with pytest.raises(ValueError, match="BANDWIDTH"):
        parse_m3u8("#EXTM3U\n#EXT-X-STREAM-INF:RESOLUTION=1x1\nu\n")


def test_mixed_playlist_rejected():
    with pytest.raises(ValueError, match="mixed"):
        parse_m3u8(
            "#EXTM3U\n#EXTINF:4.0,\ns.ts\n"
            "#EXT-X-STREAM-INF:BANDWIDTH=1\nu.m3u8\n")


def test_bare_uri_line_rejected():
    with pytest.raises(ValueError, match="URI line without"):
        parse_m3u8("#EXTM3U\nseg.ts\n")


def test_bad_resolution_rejected():
    with pytest.raises(ValueError, match="RESOLUTION"):
        parse_m3u8(
            "#EXTM3U\n#EXT-X-STREAM-INF:BANDWIDTH=1,RESOLUTION=wide\nu\n")


def test_segments_exploder(spark):
    files = spark.createDataFrame(
        [
            (0, MEDIA, "https://cdn.example.com/a/pl.m3u8"),
            (1, MASTER, None),
            (2, "#EXTM3U\n#EXTINF:4.0,\n", None),  # dangling
        ],
        "file_id long, text string, url string",
    )
    rows = hls_segments(files).collect()
    by_file = {}
    for r in rows:
        by_file.setdefault(r["file_id"], []).append(r)
    segs = sorted(by_file[0], key=lambda r: r["seq"])
    # sequence numbers continue EXT-X-MEDIA-SEQUENCE
    assert [r["seq"] for r in segs] == [264, 265, 266]
    assert segs[0]["uri"] == "https://cdn.example.com/a/seg264.ts"
    assert segs[0]["declared_ms"] == 5960
    assert segs[2]["key_method"] == "AES-128"
    # a master playlist has no media segments → zero rows
    assert 1 not in by_file
    # a broken playlist stays visible as one quarantine row
    assert by_file[2][0]["seq"] == -1
    assert "dangling EXTINF" in by_file[2][0]["error"]
