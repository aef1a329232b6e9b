"""WARC web-archive ingestion: the Common Crawl path into an LLM data
pipeline.

A 100 TB text corpus does not arrive as parquet — it arrives as
``.warc.gz``: WARC records (ISO 28500) holding captured HTTP responses,
each record its own gzip member precisely so a distributed reader can
split a multi-GB archive at member boundaries without decompressing the
whole file. This module implements that path from first principles:

* WARC record framing (ISO 28500 §4: version line, named fields, a
  Content-Length-framed block, a two-CRLF trailer) — reader AND writer
  (the writer doubles as the deterministic fixture generator for the
  graded oracles).
* Per-record gzip members (``split_gzip_members``) — the layout that
  makes ``.warc.gz`` embarrassingly parallel at 100 TB: one file maps
  to one task, one member to one record, no cross-member state.
* HTTP/1.1 response parsing (RFC 7230 §3): status line, header fields,
  identity and ``chunked`` transfer-coding (§4.1), charset selection
  from Content-Type with a latin-1 fallback.
* HTML → text extraction from scratch: comment/script/style removal,
  <title> capture, <a href> link harvest, tag stripping, the core
  character-reference set (named + decimal + hex), whitespace collapse.
* URL normalization (RFC 3986 §6.2.2-6.2.3): case, percent-encoding,
  dot-segments, default ports — the canonical form a crawl-frontier or
  URL-level dedup keys on — plus a registered-domain heuristic for
  per-site aggregation.

Scale posture: parsing runs inside Arrow ``mapInPandas`` on executors
(operators/mp4.py sets the pattern); payload bytes never visit the
driver. At 100 TB the input is ``spark.read.format("binaryFile")`` over
the archive listing — one row per .warc.gz, record explosion happens
map-side, and the only shuffles are whatever the downstream query asks
for (URL dedup keys on ``normalized_url``; one hash-agg shuffle).

Reference: n/a (extension surface — the reference has no web-corpus
ingestion; this implements the public ISO 28500 / RFC 7230 / RFC 3986
specifications directly).
"""

from __future__ import annotations

import gzip
import io
import re
import zlib

CRLF = b"\r\n"

# ---------------------------------------------------------------------------
# WARC writer (fixtures + a real sink primitive)
# ---------------------------------------------------------------------------


def encode_warc_record(
    rec_type: str,
    headers: dict[str, str],
    block: bytes,
    *,
    version: str = "WARC/1.0",
) -> bytes:
    """One WARC record per ISO 28500 §4: version line, named fields,
    CRLF, the block, CRLF CRLF. ``Content-Length`` and ``WARC-Type``
    are always written from the arguments (caller values for those
    keys are ignored) so the framing cannot lie about the block."""
    out = io.BytesIO()
    out.write(version.encode("ascii") + CRLF)
    out.write(b"WARC-Type: " + rec_type.encode("ascii") + CRLF)
    for name, value in headers.items():
        if name.lower() in ("warc-type", "content-length"):
            continue
        out.write(f"{name}: {value}".encode("utf-8") + CRLF)
    out.write(f"Content-Length: {len(block)}".encode("ascii") + CRLF)
    out.write(CRLF)
    out.write(block)
    out.write(CRLF + CRLF)
    return out.getvalue()


def encode_warc(
    records: list[tuple[str, dict[str, str], bytes]],
    *,
    gzip_members: bool = False,
) -> bytes:
    """Concatenate records into a .warc (or .warc.gz with one gzip
    member PER RECORD — the Common Crawl layout; ISO 28500 annex D
    requires member-per-record so readers can split archives without
    scanning)."""
    parts = []
    for rec_type, headers, block in records:
        raw = encode_warc_record(rec_type, headers, block)
        if gzip_members:
            # mtime pinned for byte-determinism of fixtures.
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(raw)
            raw = buf.getvalue()
        parts.append(raw)
    return b"".join(parts)


def encode_http_response(
    status: int,
    reason: str,
    headers: dict[str, str],
    body: bytes,
    *,
    chunked: bool = False,
    chunk_size: int = 16,
) -> bytes:
    """An HTTP/1.1 response message (RFC 7230 §3). With ``chunked``,
    the body is framed per §4.1 (hex size CRLF data CRLF ... 0 CRLF
    CRLF) and Transfer-Encoding replaces Content-Length."""
    out = io.BytesIO()
    out.write(f"HTTP/1.1 {status} {reason}".encode("ascii") + CRLF)
    for name, value in headers.items():
        if name.lower() in ("content-length", "transfer-encoding"):
            continue
        out.write(f"{name}: {value}".encode("utf-8") + CRLF)
    if chunked:
        out.write(b"Transfer-Encoding: chunked" + CRLF + CRLF)
        for i in range(0, len(body), chunk_size):
            chunk = body[i : i + chunk_size]
            out.write(f"{len(chunk):x}".encode("ascii") + CRLF)
            out.write(chunk + CRLF)
        out.write(b"0" + CRLF + CRLF)
    else:
        out.write(f"Content-Length: {len(body)}".encode("ascii") + CRLF)
        out.write(CRLF)
        out.write(body)
    return out.getvalue()


# ---------------------------------------------------------------------------
# gzip member splitting — the .warc.gz scale primitive
# ---------------------------------------------------------------------------


def split_gzip_members(data: bytes) -> list[bytes]:
    """Decompress a stream of CONCATENATED gzip members into one bytes
    per member. This is the property that makes .warc.gz splittable:
    each record is its own member, so a reader can resynchronize at any
    member boundary. zlib's ``unused_data`` hands us exactly the bytes
    after each member's trailer."""
    members = []
    rest = data
    while rest:
        d = zlib.decompressobj(wbits=31)
        members.append(d.decompress(rest))
        if not d.eof:
            raise ValueError("truncated gzip member")
        rest = d.unused_data
    return members


# ---------------------------------------------------------------------------
# WARC reader
# ---------------------------------------------------------------------------

_VERSION_RE = re.compile(rb"^WARC/(\d+\.\d+)$")


def parse_warc(data: bytes) -> list[dict]:
    """Parse a .warc or .warc.gz byte string into a list of records:
    ``{version, headers (dict, original names), block (bytes)}``.
    Framing is strict ISO 28500 §4: the block length comes from
    Content-Length alone (never from scanning for the next version
    line — blocks legally contain ``WARC/1.0`` bytes), followed by the
    two-CRLF record trailer."""
    if data[:2] == b"\x1f\x8b":
        chunks = split_gzip_members(data)
    else:
        chunks = [data]
    records = []
    for chunk in chunks:
        pos = 0
        while pos < len(chunk):
            # Tolerate inter-record padding CRLFs (writers differ on
            # whether the trailer belongs to the record or the gap).
            while chunk[pos : pos + 2] == CRLF:
                pos += 2
            if pos >= len(chunk):
                break
            head_end = chunk.find(CRLF + CRLF, pos)
            if head_end < 0:
                raise ValueError("unterminated WARC header")
            head_lines = chunk[pos:head_end].split(CRLF)
            m = _VERSION_RE.match(head_lines[0])
            if not m:
                raise ValueError(
                    f"bad WARC version line: {head_lines[0][:40]!r}"
                )
            headers: dict[str, str] = {}
            for line in head_lines[1:]:
                name, sep, value = line.partition(b":")
                if not sep:
                    raise ValueError(f"bad WARC header line: {line[:40]!r}")
                headers[name.decode("utf-8").strip()] = (
                    value.decode("utf-8").strip()
                )
            length = int(_hget(headers, "content-length", "0"))
            block_start = head_end + 4
            block = chunk[block_start : block_start + length]
            if len(block) != length:
                raise ValueError("WARC block shorter than Content-Length")
            records.append({
                "version": m.group(1).decode("ascii"),
                "headers": headers,
                "block": block,
            })
            pos = block_start + length
    return records


def _hget(headers: dict[str, str], lower_name: str, default=None):
    for name, value in headers.items():
        if name.lower() == lower_name:
            return value
    return default


# ---------------------------------------------------------------------------
# HTTP/1.1 response parsing (RFC 7230)
# ---------------------------------------------------------------------------

_STATUS_RE = re.compile(rb"^HTTP/(\d)\.(\d) (\d{3})(?: (.*))?$")


def decode_chunked(body: bytes) -> bytes:
    """RFC 7230 §4.1 chunked transfer-coding decode. Chunk extensions
    (``;token``) are tolerated and ignored; trailers after the last
    chunk are skipped."""
    out = io.BytesIO()
    pos = 0
    while True:
        line_end = body.find(CRLF, pos)
        if line_end < 0:
            raise ValueError("truncated chunk-size line")
        size_token = body[pos:line_end].split(b";", 1)[0].strip()
        size = int(size_token, 16)
        pos = line_end + 2
        if size == 0:
            return out.getvalue()
        chunk = body[pos : pos + size]
        if len(chunk) != size:
            raise ValueError("truncated chunk data")
        out.write(chunk)
        pos += size
        if body[pos : pos + 2] != CRLF:
            raise ValueError("missing chunk-data CRLF")
        pos += 2


_CHARSET_RE = re.compile(r"charset\s*=\s*\"?([A-Za-z0-9._-]+)\"?", re.I)


def parse_http_response(block: bytes) -> dict:
    """Parse an HTTP response message out of a WARC response block:
    status / reason, headers, the de-framed body (chunked decoded),
    the media type and charset from Content-Type, and the body decoded
    to text (declared charset, utf-8 default, latin-1 fallback — the
    real-corpus order, since latin-1 cannot fail)."""
    head_end = block.find(CRLF + CRLF)
    if head_end < 0:
        raise ValueError("unterminated HTTP header")
    lines = block[:head_end].split(CRLF)
    m = _STATUS_RE.match(lines[0])
    if not m:
        raise ValueError(f"bad HTTP status line: {lines[0][:40]!r}")
    headers: dict[str, str] = {}
    for line in lines[1:]:
        name, sep, value = line.partition(b":")
        if not sep:
            continue  # be liberal: real crawls contain garbage headers
        headers[name.decode("latin-1").strip()] = (
            value.decode("latin-1").strip()
        )
    body = block[head_end + 4 :]
    te = (_hget(headers, "transfer-encoding", "") or "").lower()
    if "chunked" in te:
        body = decode_chunked(body)
    else:
        # Liberal like the header loop: real crawls carry merged
        # duplicates ("123, 123") and garbage values — an unusable
        # Content-Length means "keep the WARC-framed body", never a
        # task-killing exception or a negative-index slice.
        cl = (_hget(headers, "content-length") or "").strip()
        if cl.isdigit():
            body = body[: int(cl)]
    ctype = _hget(headers, "content-type", "") or ""
    mime = ctype.split(";", 1)[0].strip().lower()
    cm = _CHARSET_RE.search(ctype)
    charset = cm.group(1).lower() if cm else None
    text = None
    if mime.startswith("text/") or mime in (
        "application/xhtml+xml", "application/xml", "application/json",
    ):
        for enc in filter(None, (charset, "utf-8")):
            try:
                text = body.decode(enc)
                break
            except (LookupError, UnicodeDecodeError):
                continue
        if text is None:
            text = body.decode("latin-1")
    return {
        "status": int(m.group(3)),
        "reason": (m.group(4) or b"").decode("latin-1"),
        "headers": headers,
        "body": body,
        "mime": mime,
        "charset": charset,
        "text": text,
    }


# ---------------------------------------------------------------------------
# HTML → text extraction
# ---------------------------------------------------------------------------

_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
_SCRIPT_RE = re.compile(r"<script\b[^>]*>.*?</script\s*>", re.S | re.I)
_STYLE_RE = re.compile(r"<style\b[^>]*>.*?</style\s*>", re.S | re.I)
_TITLE_RE = re.compile(r"<title\b[^>]*>(.*?)</title\s*>", re.S | re.I)
_HREF_RE = re.compile(
    r"""<a\b[^>]*\bhref\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]+))""", re.I
)
_TAG_RE = re.compile(r"<[^>]+>")
_WS_RE = re.compile(r"\s+")

_NAMED_ENTITIES = {
    "amp": "&", "lt": "<", "gt": ">", "quot": '"', "apos": "'",
    "nbsp": " ", "copy": "©", "mdash": "—",
    "ndash": "–", "hellip": "…", "eacute": "é",
}
_ENTITY_RE = re.compile(r"&(?:#x([0-9a-fA-F]+)|#(\d+)|([a-zA-Z]+));")


def decode_entities(s: str) -> str:
    """The core HTML character-reference set: decimal, hex, and the
    named entities a text-extraction pass actually meets. Unknown named
    references are left intact (the WHATWG rule for unterminated /
    unknown references is to not consume them)."""
    def sub(m: re.Match) -> str:
        if m.group(1):
            return chr(int(m.group(1), 16))
        if m.group(2):
            return chr(int(m.group(2)))
        return _NAMED_ENTITIES.get(m.group(3), m.group(0))

    return _ENTITY_RE.sub(sub, s)


def html_to_text(html: str) -> dict:
    """Deterministic HTML text extraction: drop comments, script and
    style subtrees; capture <title> and <a href> targets; replace every
    remaining tag with a space; decode character references; collapse
    whitespace. Returns ``{title, text, links}`` — ``text`` includes
    the title text wherever it appears in document order (it is body
    text for extraction purposes)."""
    stripped = _COMMENT_RE.sub(" ", html)
    stripped = _SCRIPT_RE.sub(" ", stripped)
    stripped = _STYLE_RE.sub(" ", stripped)
    tm = _TITLE_RE.search(stripped)
    title = _WS_RE.sub(" ", decode_entities(tm.group(1))).strip() if tm else ""
    links = [
        decode_entities(next(g for g in m.groups() if g is not None))
        for m in _HREF_RE.finditer(stripped)
    ]
    text = _TAG_RE.sub(" ", stripped)
    text = decode_entities(text)
    text = _WS_RE.sub(" ", text).strip()
    return {"title": title, "text": text, "links": links}


# ---------------------------------------------------------------------------
# URL normalization (RFC 3986 §6) + registered domain
# ---------------------------------------------------------------------------

_URL_RE = re.compile(
    r"^(?P<scheme>[A-Za-z][A-Za-z0-9+.-]*)://(?P<auth>[^/?#]*)"
    r"(?P<path>[^?#]*)(?:\?(?P<query>[^#]*))?(?:#.*)?$"
)
_DEFAULT_PORTS = {"http": "80", "https": "443", "ftp": "21", "ws": "80",
                  "wss": "443"}
_UNRESERVED = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_PCT_RE = re.compile(r"%([0-9a-fA-F]{2})")


def _normalize_pct(s: str, lower_decoded: bool = False) -> str:
    """§6.2.2.2: decode percent-triplets for unreserved characters,
    uppercase the hex of the rest. ``lower_decoded`` applies the host
    case-normalization (§6.2.2.1) to characters the decode step itself
    uncovers — ``%50`` in a host must come out as ``p``, not ``P``,
    or normalization is not idempotent."""
    def sub(m: re.Match) -> str:
        ch = chr(int(m.group(1), 16))
        if ch in _UNRESERVED:
            return ch.lower() if lower_decoded else ch
        return "%" + m.group(1).upper()

    return _PCT_RE.sub(sub, s)


def remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4."""
    out: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if out and out[-1] != "":
                out.pop()
                if not out:
                    out = [""]
            continue
        out.append(seg)
    # A trailing "." / ".." leaves a directory reference: keep the "/".
    if path.endswith(("/.", "/..")) and (not out or out[-1] != ""):
        out.append("")
    res = "/".join(out)
    if path.startswith("/") and not res:
        res = "/"  # ".." popped all the way back to the root
    return res


def normalize_url(url: str) -> str | None:
    """Syntax-based normalization (RFC 3986 §6.2.2) plus the
    scheme-based rules every crawler applies (§6.2.3): lowercase
    scheme and host, drop default ports and fragments, resolve dot
    segments, empty path → "/". Returns None for anything that does
    not parse as an absolute hierarchical URL (a real crawl's href
    soup contains mailto:, javascript:, and worse)."""
    m = _URL_RE.match(url.strip())
    if not m:
        return None
    scheme = m.group("scheme").lower()
    auth = m.group("auth")
    userinfo = ""
    if "@" in auth:
        userinfo, auth = auth.rsplit("@", 1)
        userinfo += "@"
    host, _, port = auth.partition(":")
    host = _normalize_pct(host.lower(), lower_decoded=True)
    if port and port != _DEFAULT_PORTS.get(scheme):
        host += ":" + port
    path = _normalize_pct(remove_dot_segments(m.group("path"))) or "/"
    query = m.group("query")
    out = f"{scheme}://{userinfo}{host}{path}"
    if query is not None:
        out += "?" + _normalize_pct(query)
    return out


_URI_SPLIT_RE = re.compile(
    r"^(?:(?P<scheme>[A-Za-z][A-Za-z0-9+.-]*):)?"
    r"(?://(?P<auth>[^/?#]*))?"
    r"(?P<path>[^?#]*)"
    r"(?:\?(?P<query>[^#]*))?"
    r"(?:#(?P<frag>.*))?$"
)


def _merge_paths(base_auth, base_path: str, ref_path: str) -> str:
    """RFC 3986 §5.3 merge: a base WITH an authority and an empty
    path acts as root; otherwise the reference replaces the base
    path's last segment."""
    if base_auth is not None and base_path == "":
        return "/" + ref_path
    if "/" in base_path:
        return base_path.rsplit("/", 1)[0] + "/" + ref_path
    return ref_path


def resolve_url(base: str, ref: str) -> str | None:
    """Resolve a relative reference against a base URI — the strict
    RFC 3986 §5.2.2 transform (so ``http:g`` stays ``http:g``), with
    one crawler-grade deviation: fragments are DROPPED (a frontier
    keys on the retrievable resource; §5.4's ``#s`` cases therefore
    resolve to their fragment-less form here). Verified against the
    full §5.4.1 normal and §5.4.2 abnormal example tables in
    tests/test_warc.py. Returns None when the base has no scheme
    (nothing to resolve against)."""
    b = _URI_SPLIT_RE.match(base or "")
    r = _URI_SPLIT_RE.match((ref or "").strip())
    if not b or not b.group("scheme") or r is None:
        return None
    if r.group("scheme"):
        scheme = r.group("scheme")
        auth = r.group("auth")
        path = remove_dot_segments(r.group("path"))
        query = r.group("query")
    else:
        scheme = b.group("scheme")
        if r.group("auth") is not None:
            auth = r.group("auth")
            path = remove_dot_segments(r.group("path"))
            query = r.group("query")
        else:
            auth = b.group("auth")
            if r.group("path") == "":
                path = b.group("path")
                query = (
                    r.group("query")
                    if r.group("query") is not None
                    else b.group("query")
                )
            else:
                if r.group("path").startswith("/"):
                    path = remove_dot_segments(r.group("path"))
                else:
                    path = remove_dot_segments(_merge_paths(
                        b.group("auth"), b.group("path"),
                        r.group("path"),
                    ))
                query = r.group("query")
    out = scheme + ":"
    if auth is not None:
        out += "//" + auth
    out += path
    if query is not None:
        out += "?" + query
    return out


# Multi-label public suffixes a two-label heuristic gets wrong; the
# full PSL is a moving target, but these cover the long tail's head.
_TWO_LABEL_SUFFIXES = frozenset({
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.br", "net.br", "org.br", "gov.br",
    "co.in", "net.in", "org.in", "gen.in", "firm.in",
    "com.cn", "net.cn", "org.cn", "gov.cn",
    "co.kr", "or.kr", "ne.kr", "go.kr",
    "com.mx", "org.mx", "gob.mx",
    "co.za", "org.za", "com.ar", "com.tr", "com.tw",
})


def registered_domain(host: str) -> str:
    """The eTLD+1 a per-site aggregation keys on. Heuristic: one label
    past the public suffix, with the common two-label suffixes listed
    explicitly (a vendored full PSL would go here in production; the
    heuristic is deterministic and documented)."""
    # Accept a full authority: strip userinfo and port before the
    # label arithmetic (a crawl's URLs do carry credentials).
    host = host.rpartition("@")[2].lower().rstrip(".").partition(":")[0]
    labels = host.split(".")
    if len(labels) <= 2:
        return host
    if ".".join(labels[-2:]) in _TWO_LABEL_SUFFIXES:
        return ".".join(labels[-3:])
    return ".".join(labels[-2:])


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------


def warc_records(archives):
    """Explode (archive_id, payload) into one row per WARC record with
    the record-level and HTTP-level metadata a corpus triage pass
    filters on — before any text extraction. Arrow mapInPandas; bytes
    stay on the executors. At 100 TB: binaryFile scan → this → a
    filter on (rec_type, http_status, mime) prunes ~half the corpus
    for free."""
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("archive_id", T.LongType(), False),
        T.StructField("record_idx", T.IntegerType(), False),
        T.StructField("rec_type", T.StringType(), False),
        T.StructField("target_uri", T.StringType(), True),
        T.StructField("warc_date", T.StringType(), True),
        T.StructField("content_type", T.StringType(), True),
        T.StructField("block_len", T.LongType(), False),
        T.StructField("http_status", T.IntegerType(), True),
        T.StructField("http_mime", T.StringType(), True),
        T.StructField("body_len", T.LongType(), True),
    ])

    def batches(it):
        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.warc import (
            _hget,
            parse_http_response,
            parse_warc,
        )

        cols = [f.name for f in out_schema.fields]
        for pdf in it:
            out = {k: [] for k in cols}
            for aid, payload in zip(pdf["archive_id"], pdf["payload"]):
                for i, rec in enumerate(parse_warc(bytes(payload))):
                    h = rec["headers"]
                    ctype = _hget(h, "content-type", "") or ""
                    status = mime = body_len = None
                    if (
                        _hget(h, "warc-type") == "response"
                        and ctype.split(";", 1)[0].strip().lower()
                        == "application/http"
                    ):
                        resp = parse_http_response(rec["block"])
                        status = resp["status"]
                        mime = resp["mime"]
                        body_len = len(resp["body"])
                    out["archive_id"].append(aid)
                    out["record_idx"].append(i)
                    out["rec_type"].append(_hget(h, "warc-type", ""))
                    out["target_uri"].append(_hget(h, "warc-target-uri"))
                    out["warc_date"].append(_hget(h, "warc-date"))
                    out["content_type"].append(ctype or None)
                    out["block_len"].append(len(rec["block"]))
                    out["http_status"].append(status)
                    out["http_mime"].append(mime)
                    out["body_len"].append(body_len)
            yield pd.DataFrame(out)

    return archives.mapInPandas(batches, schema=out_schema)


def warc_text_corpus(archives):
    """The full ingestion pass: response records → extracted text rows
    (normalized URL, registered domain, title, body text, link count)
    — the table every downstream dedup/quality/langid stage in this
    repo consumes. One map-side pass; non-HTML and non-2xx responses
    are dropped where they are cheapest to drop."""
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("archive_id", T.LongType(), False),
        T.StructField("record_idx", T.IntegerType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("normalized_url", T.StringType(), True),
        T.StructField("domain", T.StringType(), True),
        T.StructField("http_status", T.IntegerType(), False),
        T.StructField("charset", T.StringType(), True),
        T.StructField("title", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("text_len", T.IntegerType(), False),
        T.StructField("n_links", T.IntegerType(), False),
    ])

    def batches(it):
        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.warc import (
            _URL_RE,
            _hget,
            html_to_text,
            normalize_url,
            parse_http_response,
            parse_warc,
            registered_domain,
        )

        cols = [f.name for f in out_schema.fields]
        for pdf in it:
            out = {k: [] for k in cols}
            for aid, payload in zip(pdf["archive_id"], pdf["payload"]):
                for i, rec in enumerate(parse_warc(bytes(payload))):
                    h = rec["headers"]
                    ctype = (_hget(h, "content-type", "") or "")
                    if (
                        _hget(h, "warc-type") != "response"
                        or ctype.split(";", 1)[0].strip().lower()
                        != "application/http"
                    ):
                        continue
                    resp = parse_http_response(rec["block"])
                    if not (200 <= resp["status"] < 300):
                        continue
                    if resp["mime"] not in (
                        "text/html", "application/xhtml+xml",
                    ) or resp["text"] is None:
                        continue
                    url = _hget(h, "warc-target-uri", "") or ""
                    norm = normalize_url(url)
                    um = _URL_RE.match(norm) if norm else None
                    dom = (
                        registered_domain(um.group("auth"))
                        if um else None
                    )
                    doc = html_to_text(resp["text"])
                    out["archive_id"].append(aid)
                    out["record_idx"].append(i)
                    out["url"].append(url)
                    out["normalized_url"].append(norm)
                    out["domain"].append(dom)
                    out["http_status"].append(resp["status"])
                    out["charset"].append(resp["charset"])
                    out["title"].append(doc["title"])
                    out["text"].append(doc["text"])
                    out["text_len"].append(len(doc["text"]))
                    out["n_links"].append(len(doc["links"]))
            yield pd.DataFrame(out)

    return archives.mapInPandas(batches, schema=out_schema)


def link_graph(archives):
    """The web-graph edge list: one row per hyperlink in every 2xx
    HTML response record — href resolved against the page URI per
    RFC 3986 §5 (resolve_url), normalized (§6), and keyed by source
    and destination registered domain, with the internal/external
    bit a quality pipeline aggregates into per-domain link profiles
    (inbound-link counts are a standard page-quality prior).
    Non-hierarchical hrefs (mailto:, javascript:, fragments-only
    resolving to the page itself) keep a NULL dst_url so link
    accounting stays complete. Arrow mapInPandas, map-side only; the
    first shuffle at 100 TB is the downstream groupBy on
    (src_domain, dst_domain) — exactly where it belongs."""
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("archive_id", T.LongType(), False),
        T.StructField("record_idx", T.IntegerType(), False),
        T.StructField("src_url", T.StringType(), False),
        T.StructField("src_domain", T.StringType(), True),
        T.StructField("link_idx", T.IntegerType(), False),
        T.StructField("href", T.StringType(), False),
        T.StructField("dst_url", T.StringType(), True),
        T.StructField("dst_domain", T.StringType(), True),
        T.StructField("internal", T.BooleanType(), True),
    ])

    def batches(it):
        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.warc import (
            _URL_RE,
            _hget,
            html_to_text,
            normalize_url,
            parse_http_response,
            parse_warc,
            registered_domain,
            resolve_url,
        )

        cols = [f.name for f in out_schema.fields]
        for pdf in it:
            out = {k: [] for k in cols}
            for aid, payload in zip(pdf["archive_id"], pdf["payload"]):
                for i, rec in enumerate(parse_warc(bytes(payload))):
                    h = rec["headers"]
                    ctype = (_hget(h, "content-type", "") or "")
                    if (
                        _hget(h, "warc-type") != "response"
                        or ctype.split(";", 1)[0].strip().lower()
                        != "application/http"
                    ):
                        continue
                    resp = parse_http_response(rec["block"])
                    if not (200 <= resp["status"] < 300):
                        continue
                    if resp["mime"] not in (
                        "text/html", "application/xhtml+xml",
                    ) or resp["text"] is None:
                        continue
                    url = _hget(h, "warc-target-uri", "") or ""
                    src_norm = normalize_url(url)
                    sm = _URL_RE.match(src_norm) if src_norm else None
                    src_dom = (
                        registered_domain(sm.group("auth"))
                        if sm else None
                    )
                    base = src_norm or url
                    for j, href in enumerate(
                        html_to_text(resp["text"])["links"]
                    ):
                        resolved = resolve_url(base, href)
                        dst = (
                            normalize_url(resolved)
                            if resolved else None
                        )
                        dm = _URL_RE.match(dst) if dst else None
                        dst_dom = (
                            registered_domain(dm.group("auth"))
                            if dm else None
                        )
                        out["archive_id"].append(aid)
                        out["record_idx"].append(i)
                        out["src_url"].append(url)
                        out["src_domain"].append(src_dom)
                        out["link_idx"].append(j)
                        out["href"].append(href)
                        out["dst_url"].append(dst)
                        out["dst_domain"].append(dst_dom)
                        out["internal"].append(
                            src_dom == dst_dom
                            if src_dom and dst_dom else None
                        )
            yield pd.DataFrame(out)

    return archives.mapInPandas(batches, schema=out_schema)
