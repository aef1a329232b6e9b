"""WARC ingestion: record framing, gzip member splitting, HTTP
response parsing (identity + chunked), HTML text extraction, URL
normalization, and the Spark explosion operators.

Spec anchors: ISO 28500 §4 (record framing), RFC 7230 §3/§4.1 (HTTP
message + chunked coding), RFC 3986 §5.2.4/§6.2 (normalization).
"""

from __future__ import annotations

import gzip
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bigdata_invoice_stream_analysis_spark.operators.warc import (
    decode_chunked,
    decode_entities,
    encode_http_response,
    encode_warc,
    encode_warc_record,
    html_to_text,
    normalize_url,
    parse_http_response,
    parse_warc,
    registered_domain,
    remove_dot_segments,
    split_gzip_members,
    warc_records,
    warc_text_corpus,
)

# ---------------------------------------------------------------------------
# Record framing
# ---------------------------------------------------------------------------


def _sample_records():
    return [
        ("warcinfo", {"Content-Type": "application/warc-fields"},
         b"software: test\r\n"),
        ("request", {
            "WARC-Target-URI": "http://example.com/",
            "Content-Type": "application/http; msgtype=request",
        }, b"GET / HTTP/1.1\r\nHost: example.com\r\n\r\n"),
        ("response", {
            "WARC-Target-URI": "http://example.com/",
            "Content-Type": "application/http; msgtype=response",
        }, encode_http_response(
            200, "OK", {"Content-Type": "text/html"}, b"<html>hi</html>",
        )),
    ]


def test_warc_roundtrip_plain():
    data = encode_warc(_sample_records())
    recs = parse_warc(data)
    assert [r["headers"]["WARC-Type"] for r in recs] == [
        "warcinfo", "request", "response",
    ]
    assert recs[0]["block"] == b"software: test\r\n"
    assert recs[0]["version"] == "1.0"


def test_warc_roundtrip_gzip_members():
    data = encode_warc(_sample_records(), gzip_members=True)
    # Three independent members, each a full record.
    members = split_gzip_members(data)
    assert len(members) == 3
    assert members[0].startswith(b"WARC/1.0\r\n")
    # parse_warc auto-detects the gzip layout.
    recs = parse_warc(data)
    assert len(recs) == 3
    assert recs == parse_warc(encode_warc(_sample_records()))


def test_warc_block_may_contain_version_line():
    """Framing must come from Content-Length, not from scanning for
    the next WARC/ marker (ISO 28500 §4: blocks are arbitrary bytes)."""
    evil = b"WARC/1.0\r\nnot really a record\r\n\r\n"
    data = encode_warc([("resource", {}, evil), ("metadata", {}, b"x")])
    recs = parse_warc(data)
    assert [r["block"] for r in recs] == [evil, b"x"]


def test_warc_truncated_block_raises():
    rec = encode_warc_record("resource", {}, b"0123456789")
    with pytest.raises(ValueError):
        parse_warc(rec[:-6])  # cut inside the block


def test_warc_content_length_is_authoritative():
    rec = encode_warc_record("resource", {"Content-Length": "999"}, b"abc")
    # Writer overrides the lying caller value.
    assert parse_warc(rec)[0]["block"] == b"abc"


def test_split_gzip_members_truncated_raises():
    buf = gzip.compress(b"payload")
    with pytest.raises(ValueError):
        split_gzip_members(buf[:-4])


# ---------------------------------------------------------------------------
# HTTP response parsing
# ---------------------------------------------------------------------------


def test_http_identity_content_length_truncates_body():
    msg = encode_http_response(200, "OK", {"Content-Type": "text/plain"},
                               b"hello")
    resp = parse_http_response(msg + b"trailing-garbage")
    assert (resp["status"], resp["reason"]) == (200, "OK")
    assert resp["body"] == b"hello"
    assert resp["mime"] == "text/plain"
    assert resp["text"] == "hello"


def test_http_chunked_roundtrip():
    body = bytes(range(256)) * 3
    msg = encode_http_response(200, "OK", {"Content-Type": "x/y"}, body,
                               chunked=True, chunk_size=100)
    resp = parse_http_response(msg)
    assert resp["body"] == body
    assert resp["text"] is None  # not a text mime


def test_decode_chunked_extensions_and_trailers():
    raw = b"5;ext=1\r\nhello\r\n3\r\n wo\r\n0\r\nX-Trailer: v\r\n\r\n"
    assert decode_chunked(raw) == b"hello wo"


def test_decode_chunked_truncated_raises():
    with pytest.raises(ValueError):
        decode_chunked(b"a\r\nshort\r\n")


def test_http_charset_selection_latin1_vs_utf8():
    body_l1 = "café".encode("latin-1")
    msg = encode_http_response(
        200, "OK", {"Content-Type": 'text/html; charset="ISO-8859-1"'},
        body_l1,
    )
    resp = parse_http_response(msg)
    assert resp["charset"] == "iso-8859-1"
    assert resp["text"] == "café"
    # Undeclared charset: utf-8 first, latin-1 fallback.
    utf = encode_http_response(200, "OK", {"Content-Type": "text/html"},
                               "café".encode("utf-8"))
    assert parse_http_response(utf)["text"] == "café"
    fallback = encode_http_response(200, "OK", {"Content-Type": "text/html"},
                                    b"caf\xe9")
    assert parse_http_response(fallback)["text"] == "café"


def test_http_status_without_reason():
    resp = parse_http_response(b"HTTP/1.1 204\r\n\r\n")
    assert (resp["status"], resp["reason"]) == (204, "")


def test_http_malformed_content_length_is_ignored():
    """Real crawls carry merged duplicates and garbage CL values; an
    unusable Content-Length keeps the WARC-framed body instead of
    crashing the task or slicing negatively."""
    for bad in ("123, 123", "abc", "-5", ""):
        msg = (
            f"HTTP/1.1 200 OK\r\nContent-Length: {bad}\r\n"
            f"Content-Type: text/plain\r\n\r\nhello"
        ).encode()
        assert parse_http_response(msg)["body"] == b"hello"


# ---------------------------------------------------------------------------
# HTML → text
# ---------------------------------------------------------------------------


def test_html_to_text_strips_script_style_comments():
    html = (
        "<html><head><title> T &amp; t </title>"
        "<style>p{color:red}</style></head>"
        "<body><!-- secret --><h1>H</h1>"
        "<script>var x = '<p>not text</p>';</script>"
        "<p>body <a href=\"/a\">link</a> &lt;tag&gt;</p></body></html>"
    )
    doc = html_to_text(html)
    assert doc["title"] == "T & t"
    assert doc["text"] == "T & t H body link <tag>"
    assert doc["links"] == ["/a"]
    assert "secret" not in doc["text"]
    assert "color" not in doc["text"]


def test_html_href_quote_styles():
    html = "<a href='s'>1</a><a href=\"d\">2</a><a href=u>3</a>"
    assert html_to_text(html)["links"] == ["s", "d", "u"]


def test_html_links_are_entity_decoded():
    html = '<a href="/p?a=1&amp;b=2">x</a>'
    assert html_to_text(html)["links"] == ["/p?a=1&b=2"]


def test_decode_entities_numeric_and_unknown():
    assert decode_entities("&#65;&#x42;&eacute;&euro;&bogus;") == (
        "ABé&euro;&bogus;"
    )


# ---------------------------------------------------------------------------
# URL normalization
# ---------------------------------------------------------------------------


def test_remove_dot_segments():
    assert remove_dot_segments("/a/b/c/./../../g") == "/a/g"
    assert remove_dot_segments("/a/../..") == "/"
    assert remove_dot_segments("/a/b/.") == "/a/b/"
    assert remove_dot_segments("/./a") == "/a"


def test_normalize_url_rfc3986_examples():
    assert normalize_url("HTTP://Example.COM:80/a/./b/../c%7Ed") == (
        "http://example.com/a/c~d"
    )
    assert normalize_url("https://h:443/") == "https://h/"
    assert normalize_url("https://h:8443/x") == "https://h:8443/x"
    assert normalize_url("http://h") == "http://h/"
    assert normalize_url("http://h/p?q=%2fA#frag") == "http://h/p?q=%2FA"
    assert normalize_url("http://u:p@H.com/x") == "http://u:p@h.com/x"
    assert normalize_url("mailto:x@y") is None
    assert normalize_url("javascript:void(0)") is None
    assert normalize_url("/relative/only") is None


def test_normalize_url_idempotent():
    urls = [
        "HTTP://A.B:80/c/../d%41%2F?x=%7e",
        "https://WWW.Example.co.uk:443/a/b/./",
    ]
    for u in urls:
        once = normalize_url(u)
        assert normalize_url(once) == once


def test_registered_domain():
    assert registered_domain("user:pw@www.example.com") == "example.com"
    assert registered_domain("u@sub.ex.co.uk:8080") == "ex.co.uk"
    assert registered_domain("www.example.com") == "example.com"
    assert registered_domain("news.bbc.co.uk") == "bbc.co.uk"
    assert registered_domain("a.b.c.example.com.au") == "example.com.au"
    assert registered_domain("localhost") == "localhost"
    assert registered_domain("Example.COM.") == "example.com"
    assert registered_domain("h.example.org:8080") == "example.org"


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------


def _archive_df(spark, gzip_members: bool):
    html = (
        "<html><head><title>Page</title></head>"
        "<body><p>text <a href='/l'>l</a></p></body></html>"
    ).encode()
    records = [
        ("warcinfo", {"Content-Type": "application/warc-fields"},
         b"format: WARC/1.0\r\n"),
        ("request", {
            "WARC-Target-URI": "http://EX.com:80/p",
            "Content-Type": "application/http; msgtype=request",
        }, b"GET /p HTTP/1.1\r\n\r\n"),
        ("response", {
            "WARC-Target-URI": "http://EX.com:80/p",
            "Content-Type": "application/http; msgtype=response",
        }, encode_http_response(
            200, "OK", {"Content-Type": "text/html; charset=utf-8"}, html,
            chunked=True,
        )),
        ("response", {
            "WARC-Target-URI": "http://EX.com/missing",
            "Content-Type": "application/http; msgtype=response",
        }, encode_http_response(404, "Not Found",
                                {"Content-Type": "text/html"}, b"<p>no</p>")),
    ]
    payload = encode_warc(records, gzip_members=gzip_members)
    return spark.createDataFrame(
        [(1, bytearray(payload))], "archive_id long, payload binary",
    )


@pytest.mark.parametrize("gz", [False, True])
def test_warc_records_operator(spark, gz):
    rows = {r["record_idx"]: r
            for r in warc_records(_archive_df(spark, gz)).collect()}
    assert len(rows) == 4
    assert rows[0]["rec_type"] == "warcinfo"
    assert rows[0]["target_uri"] is None
    assert rows[0]["block_len"] == 18
    assert rows[1]["rec_type"] == "request"
    assert rows[1]["http_status"] is None
    assert rows[2]["http_status"] == 200
    assert rows[2]["http_mime"] == "text/html"
    assert rows[2]["body_len"] == 88
    assert rows[3]["http_status"] == 404


def test_warc_corpus_funnel_staged(spark, sf_dir):
    """The staged end-to-end funnel: extraction → exact dedup →
    per-domain stats. Every text in the fixture corpus is unique per
    (k, j) but repeated across archives sharing k — dup_rate per
    domain is determined by how many doc_ids map to each k."""
    from bigdata_invoice_stream_analysis_spark.plans.webcorpus import (
        q_warc_corpus_funnel,
        q_warc_text_corpus,
    )

    rows = {r["domain"]: r
            for r in q_warc_corpus_funnel(spark, sf_dir).collect()}
    base = q_warc_text_corpus(spark, sf_dir)
    n_total = base.count()
    n_unique = base.select("text").distinct().count()
    assert sum(r["n_docs"] for r in rows.values()) == n_total
    assert sum(r["n_unique"] for r in rows.values()) == n_unique
    assert set(rows) <= {
        "example.com", "bbc.co.uk",
    }
    for r in rows.values():
        assert 0 <= r["dup_rate"] < 1
        assert r["n_unique"] <= r["n_docs"]


@pytest.mark.parametrize("gz", [False, True])
def test_warc_text_corpus_operator(spark, gz):
    rows = warc_text_corpus(_archive_df(spark, gz)).collect()
    # Only the 200 text/html response survives.
    assert len(rows) == 1
    r = rows[0]
    assert r["record_idx"] == 2
    assert r["url"] == "http://EX.com:80/p"
    assert r["normalized_url"] == "http://ex.com/p"
    assert r["domain"] == "ex.com"
    assert r["title"] == "Page"
    assert r["text"] == "Page text l"
    assert r["n_links"] == 1
    assert r["charset"] == "utf-8"
    assert r["text_len"] == len("Page text l")


# ---------------------------------------------------------------------------
# resolve_url — RFC 3986 §5.4 example tables (fragments dropped)
# ---------------------------------------------------------------------------

_BASE = "http://a/b/c/d;p?q"

# §5.4.1 normal examples (fragment-bearing expectations reduced to
# their fragment-less form — resolve_url documents dropping them)
_NORMAL = [
    ("g:h", "g:h"),
    ("g", "http://a/b/c/g"),
    ("./g", "http://a/b/c/g"),
    ("g/", "http://a/b/c/g/"),
    ("/g", "http://a/g"),
    ("//g", "http://g"),
    ("?y", "http://a/b/c/d;p?y"),
    ("g?y", "http://a/b/c/g?y"),
    ("#s", "http://a/b/c/d;p?q"),
    ("g#s", "http://a/b/c/g"),
    ("g?y#s", "http://a/b/c/g?y"),
    (";x", "http://a/b/c/;x"),
    ("g;x", "http://a/b/c/g;x"),
    ("g;x?y#s", "http://a/b/c/g;x?y"),
    ("", "http://a/b/c/d;p?q"),
    (".", "http://a/b/c/"),
    ("./", "http://a/b/c/"),
    ("..", "http://a/b/"),
    ("../", "http://a/b/"),
    ("../g", "http://a/b/g"),
    ("../..", "http://a/"),
    ("../../", "http://a/"),
    ("../../g", "http://a/g"),
]

# §5.4.2 abnormal examples
_ABNORMAL = [
    ("../../../g", "http://a/g"),
    ("../../../../g", "http://a/g"),
    ("/./g", "http://a/g"),
    ("/../g", "http://a/g"),
    ("g.", "http://a/b/c/g."),
    (".g", "http://a/b/c/.g"),
    ("g..", "http://a/b/c/g.."),
    ("..g", "http://a/b/c/..g"),
    ("./../g", "http://a/b/g"),
    ("./g/.", "http://a/b/c/g/"),
    ("g/./h", "http://a/b/c/g/h"),
    ("g/../h", "http://a/b/c/h"),
    ("g;x=1/./y", "http://a/b/c/g;x=1/y"),
    ("g;x=1/../y", "http://a/b/c/y"),
    ("g?y/./x", "http://a/b/c/g?y/./x"),
    ("g?y/../x", "http://a/b/c/g?y/../x"),
    ("g#s/./x", "http://a/b/c/g"),
    ("g#s/../x", "http://a/b/c/g"),
    ("http:g", "http:g"),  # strict parser (§5.4.2 final note)
]


@pytest.mark.parametrize("ref,want", _NORMAL + _ABNORMAL)
def test_resolve_url_rfc3986_examples(ref, want):
    from bigdata_invoice_stream_analysis_spark.operators.warc import resolve_url

    assert resolve_url(_BASE, ref) == want


def test_resolve_url_edge_cases():
    from bigdata_invoice_stream_analysis_spark.operators.warc import resolve_url

    # base without a scheme: nothing to resolve against
    assert resolve_url("//a/b", "g") is None
    assert resolve_url("", "g") is None
    # authority-with-empty-path base treats the reference as rooted
    assert resolve_url("http://h?q", "g") == "http://h/g"
    # surrounding whitespace on real-world hrefs is tolerated
    assert resolve_url(_BASE, "  g  ") == "http://a/b/c/g"


# ---------------------------------------------------------------------------
# link_graph operator
# ---------------------------------------------------------------------------


def test_link_graph_operator(spark):
    from bigdata_invoice_stream_analysis_spark.operators.warc import (
        encode_http_response,
        encode_warc,
        link_graph,
    )

    html = (
        b"<html><body>"
        b'<a href="/about">About</a>'
        b'<a href="sub/page.html">Rel</a>'
        b'<a href="https://other.example/x">Ext</a>'
        b'<a href="mailto:x@y.z">Mail</a>'
        b"</body></html>"
    )
    payload = encode_warc([
        ("response",
         {"WARC-Target-URI": "http://site.example/dir/index.html",
          "Content-Type": "application/http; msgtype=response"},
         encode_http_response(
             200, "OK", {"Content-Type": "text/html"}, html)),
    ])
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "archive_id long, payload binary")
    rows = {r["href"]: r for r in link_graph(df).collect()}
    assert set(rows) == {
        "/about", "sub/page.html", "https://other.example/x",
        "mailto:x@y.z",
    }
    r = rows["/about"]
    assert r["dst_url"] == "http://site.example/about"
    assert r["dst_domain"] == "site.example" and r["internal"] is True
    r = rows["sub/page.html"]
    assert r["dst_url"] == "http://site.example/dir/sub/page.html"
    assert r["internal"] is True
    r = rows["https://other.example/x"]
    assert r["dst_domain"] == "other.example" and r["internal"] is False
    r = rows["mailto:x@y.z"]
    # non-hierarchical href: resolved but not a crawlable URL
    assert r["dst_url"] is None and r["dst_domain"] is None
    assert r["internal"] is None
    assert all(r["src_domain"] == "site.example" for r in rows.values())
    assert sorted(r["link_idx"] for r in rows.values()) == [0, 1, 2, 3]
