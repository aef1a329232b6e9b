"""PDF text extraction from first principles — the #1 document
format a training-data pipeline ingests.

Built directly against the public ISO 32000-1 structures with only
the stdlib (zlib for FlateDecode):

* Object syntax (§7.3): literal strings with escapes and octal,
  hex strings, names with #xx escapes, numbers, arrays,
  dictionaries, indirect references, streams.
* Document structure: rather than trusting the cross-reference
  table (classic files), the cross-reference STREAM (1.5+ files,
  which needs its own decode machinery), or a linearization dict —
  all of which corrupt independently in scraped corpora — the walk
  is a SALVAGE SCAN: every ``N G obj … endobj`` span is indexed in
  one linear pass (the standard reconstruction strategy §C.2
  prescribes for damaged files, and the robust default at corpus
  scale where a malformed xref should not cost the document). The
  page tree is then resolved from the /Type /Catalog object through
  /Pages /Kids recursion, falling back to "all /Type /Page objects
  in file order" when the tree is broken.
* Streams: /FlateDecode (real zlib inflate) and unfiltered streams
  decode; other filters (DCT, LZW, CCITT…) surface as a per-page
  error marker, not an exception.
* Content streams (§9.4): a token walk of the text operators —
  BT/ET blocks, Tj / ' / " show-string, TJ arrays (kerning
  adjustments below the -180 milli-em heuristic become spaces),
  Td/TD/T*/Tm line positioning → newlines. Strings decode through
  the font's /ToUnicode CMap when the page's resources carry one
  (bfchar + bfrange, 1- and 2-byte codes); otherwise PDFDocEncoding
  ≈ latin-1 for the standard-14-font fixtures and the long tail of
  scraped files.

HONEST BOUNDARY: encrypted documents (/Encrypt in any trailer
dictionary) are detected and reported (``encrypted=True``, no text)
— RC4/AES decryption is out of scope; embedded-font glyph programs
are never rasterized (text comes from content streams, the same
boundary as the media parsers: structure yes, codecs no).

Scale posture: one Arrow mapInPandas pass, one linear byte scan per
document plus zlib inflate of the content streams — no random
access, no driver involvement.

Reference: n/a (extension surface).
"""

from __future__ import annotations

import re
import zlib

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
# Position-anchored (used via .match(data, pos)) so token reads never
# slice the tail of the buffer — a data[pos:] copy per token would
# make big content-stream walks quadratic.
_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_REF_RE = re.compile(rb"\s+(\d+)\s+R\b")
_OP_RE = re.compile(rb"[A-Za-z'\"*]{1,3}")
_TRAILER_RE = re.compile(rb"trailer")


class _Ref:
    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num

    def __repr__(self):  # pragma: no cover - debug aid
        return f"ref({self.num})"


class _Stream:
    __slots__ = ("dict", "raw")

    def __init__(self, d: dict, raw: bytes):
        self.dict = d
        self.raw = raw


# ---------------------------------------------------------------------------
# Object-syntax parser (§7.3)
# ---------------------------------------------------------------------------


def _skip_ws(data: bytes, pos: int) -> int:
    while pos < len(data):
        c = data[pos]
        if c in _WS:
            pos += 1
        elif c == 0x25:  # % comment runs to EOL
            eol = data.find(b"\n", pos)
            pos = len(data) if eol < 0 else eol + 1
        else:
            break
    return pos


def parse_object(data: bytes, pos: int) -> tuple[object, int]:
    """Parse one PDF object at ``pos``; returns (value, new_pos).
    Indirect references come back as ``_Ref``; streams as ``_Stream``
    (raw, undecoded). Raises ValueError on malformed syntax."""
    pos = _skip_ws(data, pos)
    if pos >= len(data):
        raise ValueError("PDF object expected at end of data")
    c = data[pos]
    if c == 0x3C:  # '<'
        if data[pos + 1 : pos + 2] == b"<":
            return _parse_dict_or_stream(data, pos)
        return _parse_hex_string(data, pos)
    if c == 0x28:  # '('
        return _parse_literal_string(data, pos)
    if c == 0x2F:  # '/'
        return _parse_name(data, pos)
    if c == 0x5B:  # '['
        pos += 1
        out = []
        while True:
            pos = _skip_ws(data, pos)
            if pos >= len(data):
                raise ValueError("unterminated PDF array")
            if data[pos] == 0x5D:
                return out, pos + 1
            item, pos = parse_object(data, pos)
            out.append(item)
    # keywords
    for kw, val in ((b"true", True), (b"false", False), (b"null", None)):
        if data[pos : pos + len(kw)] == kw:
            return val, pos + len(kw)
    # number, or "N G R" indirect reference
    m = _NUM_RE.match(data, pos)
    if not m:
        raise ValueError(f"bad PDF token at offset {pos}: {data[pos:pos+16]!r}")
    tok = m.group(0)
    after = m.end()
    if b"." not in tok:
        rm = _REF_RE.match(data, after, min(after + 32, len(data)))
        if rm:
            return _Ref(int(tok)), rm.end()
        return int(tok), after
    return float(tok), after


def _parse_name(data: bytes, pos: int) -> tuple[str, int]:
    pos += 1
    out = bytearray()
    while pos < len(data):
        c = data[pos]
        if c in _WS or c in _DELIM:
            break
        if c == 0x23 and pos + 2 < len(data):  # #xx escape
            try:
                out.append(int(data[pos + 1 : pos + 3], 16))
            except ValueError:
                # '#' not followed by two hex digits: real-corpus
                # files contain these; keep the byte literally rather
                # than costing the object.
                out.append(c)
                pos += 1
                continue
            pos += 3
            continue
        out.append(c)
        pos += 1
    return "/" + out.decode("latin-1"), pos


_ESCAPES = {0x6E: b"\n", 0x72: b"\r", 0x74: b"\t", 0x62: b"\b",
            0x66: b"\x0c", 0x28: b"(", 0x29: b")", 0x5C: b"\\"}


def _parse_literal_string(data: bytes, pos: int) -> tuple[bytes, int]:
    pos += 1
    out = bytearray()
    depth = 1
    while pos < len(data):
        c = data[pos]
        if c == 0x5C:  # backslash
            nxt = data[pos + 1] if pos + 1 < len(data) else 0
            if nxt in _ESCAPES:
                out += _ESCAPES[nxt]
                pos += 2
            elif 0x30 <= nxt <= 0x37:  # up to 3 octal digits
                j = pos + 1
                oct_ = 0
                while j < len(data) and j < pos + 4 and 0x30 <= data[j] <= 0x37:
                    oct_ = oct_ * 8 + (data[j] - 0x30)
                    j += 1
                out.append(oct_ & 0xFF)
                pos = j
            elif nxt in (0x0A, 0x0D):  # line continuation
                pos += 2
                if nxt == 0x0D and pos < len(data) and data[pos] == 0x0A:
                    pos += 1
            else:  # \x → x (§7.3.4.2)
                out.append(nxt)
                pos += 2
            continue
        if c == 0x28:
            depth += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out), pos + 1
        out.append(c)
        pos += 1
    raise ValueError("unterminated PDF literal string")


def _parse_hex_string(data: bytes, pos: int) -> tuple[bytes, int]:
    end = data.find(b">", pos + 1)
    if end < 0:
        raise ValueError("unterminated PDF hex string")
    digits = bytes(
        c for c in data[pos + 1 : end] if c not in _WS
    ).decode("latin-1")
    if len(digits) % 2:
        digits += "0"  # §7.3.4.3: odd count = trailing zero
    return bytes.fromhex(digits), end + 1


def _parse_dict_or_stream(data: bytes, pos: int):
    pos += 2
    d: dict = {}
    while True:
        pos = _skip_ws(data, pos)
        if data[pos : pos + 2] == b">>":
            pos += 2
            break
        if pos >= len(data):
            raise ValueError("unterminated PDF dictionary")
        key, pos = _parse_name(data, pos)
        value, pos = parse_object(data, pos)
        d[key] = value
    after = _skip_ws(data, pos)
    if data[after : after + 6] == b"stream":
        p = after + 6
        if data[p : p + 2] == b"\r\n":
            p += 2
        elif data[p : p + 1] == b"\n":
            p += 1
        length = d.get("/Length")
        if isinstance(length, int):
            raw = data[p : p + length]
            endstream = data.find(b"endstream", p + length)
        else:
            # Length behind a ref (or corrupt): scan for endstream.
            endstream = data.find(b"endstream", p)
            raw = data[p:endstream].rstrip(b"\r\n") if endstream >= 0 else b""
        if endstream < 0:
            raise ValueError("stream without endstream")
        return _Stream(d, raw), endstream + 9
    return d, pos


def decode_stream(obj: _Stream) -> bytes:
    """Apply the stream's filter chain: none or /FlateDecode (real
    zlib). Unsupported filters raise ValueError — callers surface
    that as data, not a crash."""
    filt = obj.dict.get("/Filter")
    if filt is None:
        return obj.raw
    filters = filt if isinstance(filt, list) else [filt]
    out = obj.raw
    for f in filters:
        if f == "/FlateDecode":
            out = zlib.decompress(out)
        else:
            raise ValueError(f"unsupported PDF stream filter {f}")
    return out


# ---------------------------------------------------------------------------
# Document walk
# ---------------------------------------------------------------------------


def _index_objects(data: bytes) -> dict[int, object]:
    """Salvage scan (§C.2 reconstruction): index every ``N G obj``
    span in one linear pass, then expand OBJECT STREAMS (§7.5.7
    /Type /ObjStm — where 1.5+ writers put most non-stream objects;
    without this pass a modern PDF's page dicts are invisible to any
    xref-free walk). Later direct definitions of the same object
    number win — matching incremental-update semantics, where the
    appended (later-offset) body supersedes — and direct definitions
    beat ObjStm members (updates are appended direct)."""
    objects: dict[int, object] = {}
    for m in _OBJ_RE.finditer(data):
        # An "N G obj" inside a string/stream body would be garbage;
        # parse defensively and skip spans that don't parse.
        try:
            val, _ = parse_object(data, m.end())
        except ValueError:
            continue
        objects[int(m.group(1))] = val
    for obj in list(objects.values()):
        if (
            isinstance(obj, _Stream)
            and obj.dict.get("/Type") == "/ObjStm"
        ):
            try:
                _expand_objstm(obj, objects)
            except (ValueError, zlib.error):
                continue  # a corrupt ObjStm costs its members, not the doc
    return objects


def _expand_objstm(obj: _Stream, objects: dict[int, object]) -> None:
    """§7.5.7: the decoded stream opens with N (objnum, offset) integer
    pairs; offsets are relative to /First. Member objects carry no
    obj/endobj wrappers and are never streams themselves."""
    body = decode_stream(obj)
    n = obj.dict.get("/N")
    first = obj.dict.get("/First")
    if not isinstance(n, int) or not isinstance(first, int):
        raise ValueError("ObjStm missing integer /N or /First")
    pos = 0
    pairs: list[tuple[int, int]] = []
    for _ in range(n):
        num, pos = parse_object(body, pos)
        off, pos = parse_object(body, pos)
        if not isinstance(num, int) or not isinstance(off, int):
            raise ValueError("ObjStm header pair is not two integers")
        pairs.append((num, off))
    for num, off in pairs:
        if num in objects:  # direct definitions win
            continue
        try:
            val, _ = parse_object(body, first + off)
        except ValueError:
            continue
        objects[num] = val


def _resolve(objects: dict, v, depth: int = 0):
    while isinstance(v, _Ref):
        if depth > 32:
            raise ValueError("PDF reference chain too deep")
        v = objects.get(v.num)
        depth += 1
    return v


def _collect_pages(objects: dict, node, out: list, seen: set, depth=0):
    if depth > 64 or id(node) in seen:
        return
    seen.add(id(node))
    node = _resolve(objects, node)
    if not isinstance(node, dict):
        return
    t = node.get("/Type")
    if t == "/Page":
        out.append(node)
    elif t == "/Pages" or "/Kids" in node:
        kids = _resolve(objects, node.get("/Kids", []))
        if isinstance(kids, list):
            for kid in kids:
                _collect_pages(objects, kid, out, seen, depth + 1)


def _doc_pages(objects: dict) -> list[dict]:
    """Page list via the catalog's page tree, falling back to all
    /Type /Page objects in object-number order when the tree is
    absent or broken."""
    pages: list[dict] = []
    for obj in objects.values():
        if isinstance(obj, dict) and obj.get("/Type") == "/Catalog":
            _collect_pages(objects, obj.get("/Pages"), pages, set())
            if pages:
                return pages
    for num in sorted(objects):
        obj = objects[num]
        if isinstance(obj, dict) and obj.get("/Type") == "/Page":
            pages.append(obj)
    return pages


# ---------------------------------------------------------------------------
# ToUnicode CMaps (§9.10.3)
# ---------------------------------------------------------------------------


def parse_cmap(cmap: bytes) -> tuple[int, dict[int, str]]:
    """(code_width_bytes, {code: text}) from a ToUnicode CMap stream:
    bfchar + bfrange mappings, 1- and 2-byte codes, UTF-16BE target
    strings (incl. multi-char ligature targets).

    The code width comes from ``begincodespacerange`` (the
    authoritative declaration), falling back to the widest bfchar/
    bfrange SOURCE hex — never from the magnitude of the mapped
    codes: a CID font whose codes all happen to be <= 0x00FF is still
    a 2-byte font, and reading it byte-wise garbles every string."""
    out: dict[int, str] = {}
    src_width = 0

    def hexes(segment: bytes) -> list[bytes]:
        return [bytes.fromhex(h.decode()) for h in
                re.findall(rb"<([0-9A-Fa-f]+)>", segment)]

    def to_text(b: bytes) -> str:
        if len(b) % 2 == 0:
            return b.decode("utf-16-be", "replace")
        return b.decode("latin-1")

    for m in re.finditer(
        rb"begincodespacerange(.*?)endcodespacerange", cmap, re.S
    ):
        for rng in hexes(m.group(1)):
            src_width = max(src_width, len(rng))

    bf_width = 0
    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", cmap, re.S):
        hs = hexes(m.group(1))
        for src, dst in zip(hs[0::2], hs[1::2]):
            bf_width = max(bf_width, len(src))
            out[int.from_bytes(src, "big")] = to_text(dst)
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", cmap, re.S):
        seg = m.group(1)
        # triples: <lo> <hi> <dst>  OR  <lo> <hi> [<d1> <d2> ...]
        pos = 0
        while True:
            t = re.match(
                rb"\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*"
                rb"(<([0-9A-Fa-f]+)>|\[(.*?)\])",
                seg[pos:], re.S,
            )
            if not t:
                break
            lo = int(t.group(1), 16)
            hi = int(t.group(2), 16)
            bf_width = max(bf_width, len(t.group(1)) // 2)
            if t.group(5) is not None:  # array form
                dsts = hexes(t.group(5))
                for i, dst in enumerate(dsts):
                    if lo + i <= hi:
                        out[lo + i] = to_text(dst)
            else:
                base = bytes.fromhex(t.group(4).decode())
                base_text = to_text(base)
                base_ord = ord(base_text[-1]) if base_text else 0
                for code in range(lo, hi + 1):
                    out[code] = (
                        base_text[:-1] + chr(base_ord + code - lo)
                    )
            pos += t.end()
    return (src_width or bf_width or 1), out


def _page_cmaps(
    objects: dict, page: dict
) -> dict[str, tuple[int, dict[int, str]]]:
    """Per-font ToUnicode maps for a page's /Resources /Font dict:
    {font_name: (code_width, {code: text})}."""
    res = _resolve(objects, page.get("/Resources"))
    if not isinstance(res, dict):
        return {}
    fonts = _resolve(objects, res.get("/Font"))
    if not isinstance(fonts, dict):
        return {}
    maps: dict[str, tuple[int, dict[int, str]]] = {}
    for name, fref in fonts.items():
        font = _resolve(objects, fref)
        if not isinstance(font, dict):
            continue
        tu = _resolve(objects, font.get("/ToUnicode"))
        if isinstance(tu, _Stream):
            try:
                maps[name] = parse_cmap(decode_stream(tu))
            except (ValueError, zlib.error):
                continue
    return maps


# ---------------------------------------------------------------------------
# Content-stream text extraction (§9.4)
# ---------------------------------------------------------------------------

_TJ_SPACE_THRESHOLD = -180  # milli-em kerning gap treated as a space


def _decode_shown(raw: bytes, cm: tuple[int, dict[int, str]] | None) -> str:
    if cm is None:
        return raw.decode("latin-1")
    if isinstance(cm, dict):  # legacy callers pass the bare map
        cm = (2 if any(k > 0xFF for k in cm) else 1, cm)
    width, cmap = cm
    out = []
    if width >= 2:
        for i in range(0, len(raw) - 1, 2):
            code = int.from_bytes(raw[i : i + 2], "big")
            out.append(cmap.get(code, "�"))
    else:
        for b in raw:
            out.append(cmap.get(b, chr(b)))
    return "".join(out)


def extract_text(content: bytes, cmaps: dict | None = None) -> str:
    """Walk one (decoded) content stream's text operators and return
    the page text: Tj/'/\" and TJ emit strings (TJ kerning gaps below
    −180 become spaces), Td/TD/T*/Tm emit newlines between text
    runs, BT starts a fresh line. Graphics operators are skipped by
    token; inline-image data (BI…ID…EI, §8.9.7 — raw binary inside
    the content stream) is skipped as a block so image bytes can
    never be mistaken for string operands. ``cmaps`` maps font name →
    (code_width, {code: text}) per parse_cmap (bare maps accepted)."""
    cmaps = cmaps or {}
    pos = 0
    lines: list[str] = []
    cur: list[str] = []
    operands: list = []
    cur_font: str | None = None

    def newline():
        if cur:
            lines.append("".join(cur))
            cur.clear()

    def shown(raw: bytes) -> str:
        return _decode_shown(raw, cmaps.get(cur_font))

    while pos < len(content):
        pos = _skip_ws(content, pos)
        if pos >= len(content):
            break
        c = content[pos]
        if c in b"(<[/+-.0123456789" and not content[pos:pos + 2] == b"<<":
            try:
                obj, pos = parse_object(content, pos)
            except ValueError:
                pos += 1
                continue
            operands.append(obj)
            continue
        if content[pos : pos + 2] == b"<<":
            try:
                obj, pos = parse_object(content, pos)
            except ValueError:
                pos += 1
                continue
            operands.append(obj)
            continue
        m = _OP_RE.match(content, pos)
        if not m:
            pos += 1
            continue
        op = m.group(0)
        pos = m.end()
        if op == b"BI":
            # Inline image: skip the raw sample data wholesale. EI is
            # only valid after whitespace; resume right past it.
            end = re.compile(rb"[\x00\t\n\x0c\r ]EI(?=[\x00\t\n\x0c\r ]|$)")
            em = end.search(content, pos)
            pos = em.end() if em else len(content)
            operands.clear()
            continue
        if op == b"Tj" and operands and isinstance(operands[-1], bytes):
            cur.append(shown(operands[-1]))
        elif op in (b"'", b'"'):
            newline()
            if operands and isinstance(operands[-1], bytes):
                cur.append(shown(operands[-1]))
        elif op == b"TJ" and operands and isinstance(operands[-1], list):
            for item in operands[-1]:
                if isinstance(item, bytes):
                    cur.append(shown(item))
                elif isinstance(item, (int, float)):
                    if item < _TJ_SPACE_THRESHOLD and (
                        not cur or not cur[-1].endswith(" ")
                    ):
                        cur.append(" ")
        elif op == b"Tf" and len(operands) >= 2:
            f = operands[-2]
            if isinstance(f, str):
                cur_font = f
        elif op in (b"Td", b"TD", b"T*", b"Tm", b"BT"):
            newline()
        elif op == b"ET":
            newline()
        operands.clear()
    newline()
    return "\n".join(ln for ln in lines if ln.strip())


# ---------------------------------------------------------------------------
# Top level
# ---------------------------------------------------------------------------


def _is_encrypted(data: bytes, objects: dict) -> bool:
    """/Encrypt lives in a trailer dictionary (classic files) or in
    the /Type /XRef stream dict (1.5+). PARSE the trailer dicts with
    the real object parser — a regex over the raw bytes breaks as
    soon as /ID's hex strings (nearly always present) sit between
    ``trailer`` and /Encrypt."""
    if b"/Encrypt" not in data:
        return False
    for m in _TRAILER_RE.finditer(data):
        try:
            d, _ = parse_object(data, m.end())
        except ValueError:
            continue
        if isinstance(d, dict) and "/Encrypt" in d:
            return True
    for o in objects.values():
        d = o.dict if isinstance(o, _Stream) else o
        if isinstance(d, dict) and (
            "/Encrypt" in d and d.get("/Type") in ("/XRef", None)
        ):
            return True
    return False


def parse_pdf(payload: bytes) -> dict:
    """Parse one PDF into ``{version, encrypted, n_pages, pages:
    [{page_idx, text, n_chars, error}], title, author, producer}``.
    Not-a-PDF raises ValueError; per-page decode problems surface in
    the page's ``error`` field (a corrupt page must not cost the
    document, let alone the task)."""
    data = bytes(payload)
    if data[:5] != b"%PDF-":
        raise ValueError("not a PDF (missing %PDF- header)")
    version = data[5:8].decode("latin-1", "replace")
    objects = _index_objects(data)

    encrypted = _is_encrypted(data, objects)

    title = author = producer = None
    for obj in objects.values():
        if isinstance(obj, dict) and (
            "/Title" in obj or "/Producer" in obj or "/Author" in obj
        ) and "/Type" not in obj:
            def s(v):
                v = _resolve(objects, v)
                if isinstance(v, bytes):
                    if v[:2] == b"\xfe\xff":
                        return v[2:].decode("utf-16-be", "replace")
                    return v.decode("latin-1")
                return None
            title = title or s(obj.get("/Title"))
            author = author or s(obj.get("/Author"))
            producer = producer or s(obj.get("/Producer"))

    pages_out = []
    if not encrypted:
        for idx, page in enumerate(_doc_pages(objects)):
            text, err = "", None
            try:
                contents = _resolve(objects, page.get("/Contents"))
                chunks = (
                    contents if isinstance(contents, list) else [contents]
                )
                body = b"\n".join(
                    decode_stream(_resolve(objects, ch))
                    for ch in chunks
                    if isinstance(_resolve(objects, ch), _Stream)
                )
                text = extract_text(body, _page_cmaps(objects, page))
            except (ValueError, zlib.error) as exc:
                err = str(exc)[:120]
            pages_out.append({
                "page_idx": idx,
                "text": text,
                "n_chars": len(text),
                "error": err,
            })
    return {
        "version": version,
        "encrypted": encrypted,
        "n_pages": len(pages_out),
        "title": title,
        "author": author,
        "producer": producer,
        "pages": pages_out,
    }


# ---------------------------------------------------------------------------
# Fixture encoder
# ---------------------------------------------------------------------------


def encode_minimal_pdf(
    pages: list[str],
    *,
    title: str | None = None,
    producer: str = "bigdata-invoice-stream-analysis-spark",
    flate: bool = True,
    use_tj_array: bool = False,
    objstm: bool = False,
) -> bytes:
    """A minimal, valid, deterministic classic-xref PDF: catalog →
    page tree → one Helvetica content stream per page (one Tj per
    line, or a kerned TJ array when ``use_tj_array``), optional
    FlateDecode compression, an /Info dict, and a correct xref table
    + trailer (the salvage scan doesn't need it, but external tools
    used in tests do). ``objstm=True`` writes the 1.5+ layout
    instead: every NON-stream object (catalog, page tree, font,
    pages, info) is packed into one compressed /Type /ObjStm and only
    the content streams stay direct — the shape modern writers emit,
    where the document is invisible without §7.5.7 expansion."""
    objs: list[bytes] = []  # body of object i+1

    def content_for(text: str) -> bytes:
        ops = [b"BT /F1 12 Tf 72 720 Td"]
        for i, line in enumerate(text.split("\n")):
            esc = (
                line.replace("\\", r"\\").replace("(", r"\(")
                .replace(")", r"\)")
            )
            if i:
                ops.append(b"0 -14 Td")
            if use_tj_array and " " in line:
                parts = esc.split(" ")
                arr = b" ".join(
                    b"(%s) -220" % p.encode("latin-1") for p in parts[:-1]
                ) + b" (%s)" % parts[-1].encode("latin-1")
                ops.append(b"[" + arr + b"] TJ")
            else:
                ops.append(b"(" + esc.encode("latin-1") + b") Tj")
        ops.append(b"ET")
        return b"\n".join(ops)

    n_fixed = 3  # catalog, pages, font
    page_obj_base = n_fixed + 1            # first page object number
    content_base = page_obj_base + len(pages)
    info_num = content_base + len(pages)

    kids = b" ".join(
        b"%d 0 R" % (page_obj_base + i) for i in range(len(pages))
    )
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")          # 1
    objs.append(
        b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>"
        % len(pages)
    )                                                          # 2
    objs.append(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )                                                          # 3
    for i in range(len(pages)):                                # pages
        objs.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> "
            b"/Contents %d 0 R >>" % (content_base + i)
        )
    for text in pages:                                         # contents
        body = content_for(text)
        if flate:
            comp = zlib.compress(body, 6)
            objs.append(
                b"<< /Length %d /Filter /FlateDecode >>\nstream\n"
                % len(comp) + comp + b"\nendstream"
            )
        else:
            objs.append(
                b"<< /Length %d >>\nstream\n" % len(body)
                + body + b"\nendstream"
            )
    info = b"<< /Producer (%s)" % producer.encode("latin-1")
    if title is not None:
        info += b" /Title (%s)" % title.encode("latin-1")
    info += b" >>"
    objs.append(info)                                          # info

    if objstm:
        # Pack every non-stream object into one compressed ObjStm
        # (member numbers keep their values so /Kids references hold);
        # content streams remain direct objects.
        members = [
            (i + 1, body) for i, body in enumerate(objs)
            if not (content_base <= i + 1 < content_base + len(pages))
        ]
        header = b""
        payload = b""
        for num, body in members:
            header += b"%d %d " % (num, len(payload))
            payload += body + b"\n"
        stm = zlib.compress(header + payload, 6)
        objstm_body = (
            b"<< /Type /ObjStm /N %d /First %d /Length %d "
            b"/Filter /FlateDecode >>\nstream\n"
            % (len(members), len(header), len(stm))
            + stm + b"\nendstream"
        )
        out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
        out += b"%d 0 obj\n" % (info_num + 1) + objstm_body + b"\nendobj\n"
        for i in range(len(pages)):
            num = content_base + i
            out += (
                b"%d 0 obj\n" % num + objs[num - 1] + b"\nendobj\n"
            )
        out += b"%%EOF\n"
        return bytes(out)

    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_off = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R /Info %d 0 R >>\n"
        b"startxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, info_num, xref_off)
    )
    return bytes(out)


# ---------------------------------------------------------------------------
# Spark operator
# ---------------------------------------------------------------------------


def pdf_text_pages(media):
    """Explode (doc_id, payload) PDFs into one row per PAGE with the
    extracted text plus the document-level metadata a curation
    pipeline filters on — inside Arrow mapInPandas; encrypted
    documents yield one metadata row with ``encrypted=true`` and no
    text. Payload bytes never leave the executors."""
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("version", T.StringType(), False),
        T.StructField("encrypted", T.BooleanType(), False),
        T.StructField("n_pages", T.IntegerType(), False),
        T.StructField("page_idx", T.IntegerType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("n_chars", T.IntegerType(), True),
        T.StructField("page_error", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("producer", T.StringType(), True),
    ])
    cols = [f.name for f in out_schema.fields]

    def batches(it):
        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.pdf import (
            parse_pdf,
        )

        for pdf_batch in it:
            out = {k: [] for k in cols}

            def emit(doc_id, info, page):
                out["doc_id"].append(doc_id)
                out["version"].append(info["version"])
                out["encrypted"].append(info["encrypted"])
                out["n_pages"].append(info["n_pages"])
                out["page_idx"].append(
                    page["page_idx"] if page else None
                )
                out["text"].append(page["text"] if page else None)
                out["n_chars"].append(page["n_chars"] if page else None)
                out["page_error"].append(page["error"] if page else None)
                out["title"].append(info["title"])
                out["producer"].append(info["producer"])

            for did, p in zip(pdf_batch["doc_id"], pdf_batch["payload"]):
                info = parse_pdf(bytes(p))
                if not info["pages"]:
                    emit(did, info, None)
                else:
                    for page in info["pages"]:
                        emit(did, info, page)
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, schema=out_schema)
