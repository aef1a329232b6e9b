"""RFC 5322 / MIME e-mail parsing — the archival text corpus class
(mailing-list dumps, support archives, court-released mailboxes)
whose every message is a privacy decision: From/To/Cc are PII by
construction, and the text worth training on hides behind MIME
multipart framing and two transfer encodings.

Built from scratch against the public specs (no ``email`` stdlib —
its policy-dependent lenience is exactly what a deterministic,
hash-pinned gate cannot use):

* RFC 5322 §2.2: header block ends at the first empty line; long
  header values UNFOLD (continuation lines start with WSP); names
  are case-insensitive.
* RFC 2047 encoded-words in header values:
  ``=?charset?B?base64?=`` and ``=?charset?Q?quoted?=`` (Q-encoding
  is quoted-printable with ``_`` meaning space); adjacent encoded
  words concatenate with the separating whitespace DROPPED (§6.2 —
  the corner naive decoders miss).
* RFC 2045: Content-Type parameter parsing (quoted boundaries),
  Content-Transfer-Encoding ``base64`` and ``quoted-printable``
  (soft line breaks ``=\\r?\\n``, ``=XX`` hex escapes).
* RFC 2046 multipart framing: parts delimited by ``--boundary``
  lines, terminated by ``--boundary--``; nested multiparts recurse
  (bounded depth — adversarial nesting must not stack-overflow a
  Spark task).
* The body policy mirrors a curation pipeline: the FIRST
  ``text/plain`` leaf is the training text (decoded per its own
  charset/encoding); ``text/html`` is counted, never scraped here
  (the WARC HTML extractor owns that); every other leaf is an
  ATTACHMENT row (filename via Content-Disposition, declared size
  after decode).

Malformed framing (no header block, bad base64, missing multipart
boundary) raises ValueError; triage quarantines.

Reference: n/a (extension surface).
"""

from __future__ import annotations

import base64
import binascii
import re

_MAX_DEPTH = 8  # adversarial nesting bound

_ENCODED_WORD_RE = re.compile(
    r"=\?([^?]+)\?([BbQq])\?([^?]*)\?=")


def _decode_word(charset: str, enc: str, payload: str) -> str:
    if enc in "Bb":
        try:
            raw = base64.b64decode(payload, validate=True)
        except (binascii.Error, ValueError) as exc:
            raise ValueError(
                f"eml: bad base64 encoded-word: {exc}") from exc
    else:
        raw = _decode_qp(payload.replace("_", " "),
                         header_mode=True).encode("latin-1")
    try:
        return raw.decode(charset.split("*")[0], "replace")
    except LookupError:
        return raw.decode("utf-8", "replace")


def decode_header_value(value: str) -> str:
    """RFC 2047 decode: encoded-words expand; whitespace BETWEEN two
    adjacent encoded words drops (§6.2); everything else passes."""
    out = []
    pos = 0
    prev_end = None
    for m in _ENCODED_WORD_RE.finditer(value):
        gap = value[pos:m.start()]
        if prev_end is not None and gap.strip() == "":
            gap = ""  # adjacent encoded words: separator drops
        out.append(gap)
        out.append(_decode_word(m.group(1), m.group(2), m.group(3)))
        pos = m.end()
        prev_end = m.end()
    out.append(value[pos:])
    return "".join(out)


def _decode_qp(s: str, header_mode: bool = False) -> str:
    out = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "=" and i + 1 < n and s[i + 1] in "\r\n" \
                and not header_mode:
            i += 2 + (1 if s[i + 1] == "\r" and i + 2 < n
                      and s[i + 2] == "\n" else 0)
            continue  # soft line break
        if c == "=" and i + 2 < n + 1:
            hx = s[i + 1:i + 3]
            if len(hx) == 2 and all(
                    ch in "0123456789ABCDEFabcdef" for ch in hx):
                out.append(chr(int(hx, 16)))
                i += 3
                continue
        out.append(c)
        i += 1
    return "".join(out)


def parse_headers(text: str) -> tuple[dict[str, str], int]:
    """(headers, body_offset): unfolded, case-folded-lowercase names,
    RFC 2047-decoded values; LAST occurrence wins except Received."""
    # accept both CRLF and LF mail
    end_crlf = text.find("\r\n\r\n")
    end_lf = text.find("\n\n")
    candidates = [(e, s) for e, s in ((end_crlf, 4), (end_lf, 2))
                  if e >= 0]
    if not candidates:
        raise ValueError("eml: no header/body separator")
    end, sep = min(candidates)
    raw = text[:end]
    headers: dict[str, str] = {}
    current: list[str] | None = None
    name = ""
    for line in raw.splitlines():
        if line[:1] in (" ", "\t") and current is not None:
            current.append(line.strip())
            continue
        if current is not None:
            headers[name] = decode_header_value(" ".join(current))
        colon = line.find(":")
        if colon <= 0:
            raise ValueError(
                f"eml: header line without colon: {line[:40]!r}")
        name = line[:colon].strip().lower()
        current = [line[colon + 1:].strip()]
    if current is not None:
        headers[name] = decode_header_value(" ".join(current))
    return headers, end + sep


_PARAM_RE = re.compile(
    r""";\s*([A-Za-z0-9_-]+)\s*=\s*("[^"]*"|[^;\s]*)""")


def parse_content_type(value: str | None) -> tuple[str, dict[str, str]]:
    if not value:
        return "text/plain", {}
    head = value.split(";", 1)[0].strip().lower() or "text/plain"
    params = {}
    for m in _PARAM_RE.finditer(value):
        v = m.group(2)
        params[m.group(1).lower()] = (
            v[1:-1] if v[:1] == '"' else v)
    return head, params


def _decode_body(body: str, encoding: str, charset: str) -> bytes:
    enc = (encoding or "").strip().lower()
    if enc == "base64":
        try:
            return base64.b64decode(
                re.sub(r"\s+", "", body), validate=True)
        except (binascii.Error, ValueError) as exc:
            raise ValueError(f"eml: bad base64 body: {exc}") from exc
    if enc == "quoted-printable":
        return _decode_qp(body).encode("latin-1", "replace")
    return body.encode("latin-1", "replace")


def _walk_part(text: str, depth: int, leaves: list[dict]) -> None:
    if depth > _MAX_DEPTH:
        raise ValueError("eml: multipart nesting exceeds bound")
    headers, off = parse_headers(text)
    ctype, params = parse_content_type(headers.get("content-type"))
    body = text[off:]
    if ctype.startswith("multipart/"):
        boundary = params.get("boundary")
        if not boundary:
            raise ValueError("eml: multipart without boundary")
        # §5.1.1: the delimiter is CRLF + "--" + boundary and MUST
        # start at a line boundary (the CRLF belongs to the delimiter,
        # not the part body); only the very first delimiter may open
        # the body without one. A plain substring split would
        # fragment a valid part whose TEXT contains '--boundary'
        # mid-line and quarantine the message (ADVICE r8).
        chunks = re.split(
            r"(?:\A|\r?\n)--" + re.escape(boundary), body)
        # chunks[0] is the preamble; a chunk starting with '--' is
        # the terminator
        found = False
        for chunk in chunks[1:]:
            if chunk[:2] == "--":
                found = True
                break
            # boundary-line transport padding, then the CRLF that
            # opens the part
            part = re.sub(r"\A[ \t]*\r?\n", "", chunk)
            if part.strip():
                _walk_part(part, depth + 1, leaves)
            found = True
        if not found:
            raise ValueError("eml: boundary never appears in body")
        return
    cdisp = headers.get("content-disposition", "")
    _, dparams = parse_content_type(cdisp or None)
    filename = dparams.get("filename") or params.get("name")
    raw = _decode_body(
        body, headers.get("content-transfer-encoding", ""),
        params.get("charset", "utf-8"))
    leaves.append({
        "content_type": ctype,
        "charset": params.get("charset", "utf-8"),
        "filename": filename,
        "is_attachment": (
            cdisp.split(";")[0].strip().lower() == "attachment"
            or (filename is not None
                and not ctype.startswith("text/"))),
        "decoded_bytes": len(raw),
        "raw": raw,
    })


def parse_eml(text: str) -> dict:
    """Parse one RFC 5322 message:

    ``{subject, from_addr, to_addrs, date, message_id, text,
    text_charset, n_parts, n_html_parts, n_attachments,
    attachments: [{content_type, filename, decoded_bytes}],
    has_addresses}``.
    """
    headers, _ = parse_headers(text)
    leaves: list[dict] = []
    _walk_part(text, 0, leaves)
    body_text = None
    charset = None
    n_html = 0
    attachments = []
    for leaf in leaves:
        if leaf["content_type"] == "text/plain" \
                and body_text is None and not leaf["is_attachment"]:
            try:
                body_text = leaf["raw"].decode(
                    leaf["charset"].split("*")[0], "replace")
            except LookupError:
                body_text = leaf["raw"].decode("utf-8", "replace")
            charset = leaf["charset"]
        elif leaf["content_type"] == "text/html":
            n_html += 1
        elif leaf["is_attachment"] or not \
                leaf["content_type"].startswith("text/"):
            attachments.append({
                "content_type": leaf["content_type"],
                "filename": leaf["filename"],
                "decoded_bytes": leaf["decoded_bytes"],
            })
    return {
        "subject": headers.get("subject"),
        "from_addr": headers.get("from"),
        "to_addrs": headers.get("to"),
        "date": headers.get("date"),
        "message_id": headers.get("message-id"),
        "text": body_text,
        "text_charset": charset,
        "n_parts": len(leaves),
        "n_html_parts": n_html,
        "n_attachments": len(attachments),
        "attachments": attachments,
        "has_addresses": bool(
            headers.get("from") or headers.get("to")),
    }


# ---------------------------------------------------------------------------
# Fixture encoder
# ---------------------------------------------------------------------------


def encode_eml(
    *,
    subject: str = "Meeting notes",
    from_addr: str = "a.sender@example.com",
    to_addrs: str = "team@example.com",
    text: str = "Plain body.",
    html: str | None = None,
    attachments: list[tuple[str, str, bytes]] | None = None,
    encode_subject: bool = False,
    qp_body: bool = False,
) -> str:
    """One deterministic message; ``attachments`` is a list of
    (filename, content_type, payload) encoded base64. With ``html``
    or attachments the message becomes multipart/mixed."""
    headers = [
        ("From", from_addr),
        ("To", to_addrs),
        ("Date", "Mon, 10 Aug 2026 09:00:00 +0000"),
        ("Message-ID", "<m1@example.com>"),
    ]
    if encode_subject:
        b64 = base64.b64encode(subject.encode()).decode()
        headers.append(("Subject", f"=?utf-8?B?{b64}?="))
    else:
        headers.append(("Subject", subject))
    if qp_body:
        text_body = _encode_qp(text)
        text_enc = "quoted-printable"
    else:
        text_body = text
        text_enc = "7bit"
    text_part = (
        'Content-Type: text/plain; charset="utf-8"\r\n'
        f"Content-Transfer-Encoding: {text_enc}\r\n\r\n{text_body}")
    parts = [text_part]
    if html is not None:
        parts.append(
            'Content-Type: text/html; charset="utf-8"\r\n\r\n'
            + html)
    for fname, ctype, payload in attachments or []:
        b64 = base64.b64encode(payload).decode()
        wrapped = "\r\n".join(
            b64[i:i + 72] for i in range(0, len(b64), 72))
        parts.append(
            f"Content-Type: {ctype}\r\n"
            "Content-Transfer-Encoding: base64\r\n"
            "Content-Disposition: attachment; "
            f'filename="{fname}"\r\n\r\n{wrapped}')
    if len(parts) == 1 and html is None and not attachments:
        head = "\r\n".join(f"{k}: {v}" for k, v in headers)
        return (head + "\r\nContent-Type: text/plain; "
                'charset="utf-8"\r\n\r\n' + text_body)
    boundary = "=_fixture_boundary_01"
    head = "\r\n".join(f"{k}: {v}" for k, v in headers)
    body = "".join(
        f"\r\n--{boundary}\r\n{p}" for p in parts)
    return (head
            + "\r\nMIME-Version: 1.0"
            + f'\r\nContent-Type: multipart/mixed; boundary="{boundary}"'
            + "\r\n\r\npreamble" + body + f"\r\n--{boundary}--\r\n")


def _encode_qp(s: str) -> str:
    out = []
    for ch in s:
        b = ch.encode("utf-8")
        if ch in "\r\n" or (len(b) == 1 and 32 <= b[0] < 127
                            and ch != "="):
            out.append(ch)
        else:
            out.extend(f"={x:02X}" for x in b)
    return "".join(out)


# ---------------------------------------------------------------------------
# Spark operator
# ---------------------------------------------------------------------------


def eml_message_profile(files):
    """(file_id, text) → one row per message: decoded subject, the
    PII-bearing address headers, the first text/plain body (the
    training text), part/attachment inventory. Map-side Arrow
    mapInPandas; failures quarantine."""
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("file_id", T.LongType(), False),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
        T.StructField("subject", T.StringType(), True),
        T.StructField("from_addr", T.StringType(), True),
        T.StructField("to_addrs", T.StringType(), True),
        T.StructField("date", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("n_parts", T.IntegerType(), True),
        T.StructField("n_html_parts", T.IntegerType(), True),
        T.StructField("n_attachments", T.IntegerType(), True),
        T.StructField("attachment_bytes", T.LongType(), True),
        T.StructField("has_addresses", T.BooleanType(), True),
    ])
    cols = [f.name for f in out_schema.fields]

    def batches(it):
        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.eml import (
            parse_eml,
        )

        for pdf in it:
            out = {k: [] for k in cols}

            def emit(fid, **kw):
                row = dict.fromkeys(cols)
                row["file_id"] = fid
                row.update(kw)
                for k in cols:
                    out[k].append(row[k])

            for fid, text in zip(pdf["file_id"], pdf["text"]):
                try:
                    m = parse_eml(text)
                except (ValueError, TypeError) as exc:
                    emit(fid, ok=False, error=str(exc)[:120])
                    continue
                emit(fid, ok=True, subject=m["subject"],
                     from_addr=m["from_addr"],
                     to_addrs=m["to_addrs"], date=m["date"],
                     text=m["text"], n_parts=m["n_parts"],
                     n_html_parts=m["n_html_parts"],
                     n_attachments=m["n_attachments"],
                     attachment_bytes=sum(
                         a["decoded_bytes"]
                         for a in m["attachments"]),
                     has_addresses=m["has_addresses"])
            yield pd.DataFrame(out)

    return files.mapInPandas(batches, schema=out_schema)


# ---------------------------------------------------------------------------
# mbox: the container OF messages (how mail archives ship)
# ---------------------------------------------------------------------------


def split_mbox(text: str) -> list[str]:
    """Split an mbox archive into messages: ``From `` separator
    lines (the envelope line — note the SPACE, unlike the
    ``From:`` header) delimit messages and are not part of them;
    ``>From `` body lines unescape by dropping ONE ``>`` (the mboxrd
    convention, applied at any quoting depth)."""
    if not text.startswith("From "):
        raise ValueError("mbox: missing leading 'From ' envelope")
    messages: list[str] = []
    current: list[str] | None = None
    for line in text.splitlines(keepends=True):
        if line.startswith("From "):
            if current is not None:
                messages.append("".join(current))
            current = []
            continue
        stripped = line.lstrip(">")
        if stripped.startswith("From ") and line[0] == ">":
            line = line[1:]  # mboxrd unescape
        if current is not None:
            current.append(line)
    if current is not None:
        messages.append("".join(current))
    return messages
