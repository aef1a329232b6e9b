"""PDF text extraction: object syntax, salvage indexing, content
stream text operators, ToUnicode CMaps, fixture roundtrips, the
Spark page-explosion operator.

Spec anchors: ISO 32000-1 §7.3 (objects), §9.4 (text operators),
§9.10.3 (ToUnicode), §C.2 (reconstruction).
"""

from __future__ import annotations

import sys
import zlib
from pathlib import Path

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bigdata_invoice_stream_analysis_spark.operators.pdf import (
    _Stream,
    decode_stream,
    encode_minimal_pdf,
    extract_text,
    parse_cmap,
    parse_object,
    parse_pdf,
    pdf_text_pages,
)

# ---------------------------------------------------------------------------
# object syntax
# ---------------------------------------------------------------------------


def test_parse_scalars_and_collections():
    assert parse_object(b" 42 ", 0)[0] == 42
    assert parse_object(b"-3.5", 0)[0] == -3.5
    assert parse_object(b"true", 0)[0] is True
    assert parse_object(b"null", 0)[0] is None
    assert parse_object(b"/Name#20x", 0)[0] == "/Name x"
    assert parse_object(b"[1 2 [3 /A]]", 0)[0] == [1, 2, [3, "/A"]]
    d, _ = parse_object(b"<< /A 1 /B (hi) >>", 0)
    assert d == {"/A": 1, "/B": b"hi"}


def test_literal_string_escapes():
    s, _ = parse_object(rb"(a\(b\)c \\ \n \101 ((nested)))", 0)
    assert s == b"a(b)c \\ \n A ((nested))"


def test_literal_string_line_continuation_and_octal_limit():
    s, _ = parse_object(b"(a\\\nb)", 0)
    assert s == b"ab"
    # 3-digit octal maximum: \1014 is \101 then literal '4'
    s, _ = parse_object(rb"(\1014)", 0)
    assert s == b"A4"


def test_hex_string_odd_digits_pad_zero():
    s, _ = parse_object(b"<48 65 6C6C 6F2>", 0)
    assert s == b"Hello "  # trailing odd digit '2' pads to 0x20


def test_indirect_reference_vs_plain_ints():
    v, pos = parse_object(b"12 0 R ", 0)
    assert v.num == 12 and pos == 6
    v, _ = parse_object(b"12 0", 0)
    assert v == 12  # no R → plain int


def test_stream_with_direct_length():
    obj, _ = parse_object(
        b"<< /Length 3 >>\nstream\nABC\nendstream", 0
    )
    assert isinstance(obj, _Stream)
    assert obj.raw == b"ABC"
    assert decode_stream(obj) == b"ABC"


def test_stream_with_ref_length_falls_back_to_scan():
    obj, _ = parse_object(
        b"<< /Length 9 0 R >>\nstream\nABCDE\nendstream", 0
    )
    assert obj.raw == b"ABCDE"


def test_unsupported_filter_raises():
    comp = zlib.compress(b"x")
    obj, _ = parse_object(
        b"<< /Length %d /Filter /LZWDecode >>\nstream\n" % len(comp)
        + comp + b"\nendstream", 0,
    )
    with pytest.raises(ValueError, match="filter"):
        decode_stream(obj)


# ---------------------------------------------------------------------------
# roundtrips
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("flate", [True, False])
def test_roundtrip_two_pages(flate):
    payload = encode_minimal_pdf(
        ["Hello world", "Second page\nwith two lines"],
        title="A Title", flate=flate,
    )
    info = parse_pdf(payload)
    assert info["version"] == "1.4"
    assert info["encrypted"] is False
    assert info["n_pages"] == 2
    assert info["title"] == "A Title"
    assert info["producer"] == "bigdata-invoice-stream-analysis-spark"
    assert [p["text"] for p in info["pages"]] == [
        "Hello world", "Second page\nwith two lines",
    ]
    assert info["pages"][1]["n_chars"] == len("Second page\nwith two lines")
    assert all(p["error"] is None for p in info["pages"])


def test_tj_kerning_array_reconstructs_spaces():
    payload = encode_minimal_pdf(
        ["alpha beta gamma"], use_tj_array=True,
    )
    info = parse_pdf(payload)
    assert info["pages"][0]["text"] == "alpha beta gamma"


def test_parens_and_backslashes_in_text():
    text = "f(x) = a\\b (nested (deep)) end"
    info = parse_pdf(encode_minimal_pdf([text]))
    assert info["pages"][0]["text"] == text


def test_salvage_scan_survives_zeroed_xref():
    payload = bytearray(encode_minimal_pdf(["still here"]))
    idx = payload.rfind(b"xref")
    payload[idx : idx + 4] = b"XXXX"  # also breaks startxref target
    info = parse_pdf(bytes(payload))
    assert info["pages"][0]["text"] == "still here"


def test_incremental_update_later_object_wins():
    base = encode_minimal_pdf(["old text"])
    # Append a replacement for the content object (number 5: catalog,
    # pages, font, page, content) — incremental-update semantics.
    body = b"BT /F1 12 Tf 72 720 Td (new text) Tj ET"
    update = (
        b"5 0 obj\n<< /Length %d >>\nstream\n" % len(body)
        + body + b"\nendstream\nendobj\n"
    )
    info = parse_pdf(base + update)
    assert info["pages"][0]["text"] == "new text"


def test_encrypted_detected_no_text():
    payload = encode_minimal_pdf(["secret"]) + (
        b"trailer\n<< /Size 9 /Root 1 0 R /Encrypt 99 0 R >>\n"
    )
    info = parse_pdf(payload)
    assert info["encrypted"] is True
    assert info["n_pages"] == 0


def test_corrupt_page_is_error_not_exception():
    payload = encode_minimal_pdf(["good page", "bad page"], flate=True)
    # Break page 2's content stream: claim LZW on deflate bytes.
    idx = payload.rfind(b"/Filter /FlateDecode")
    payload = payload[:idx] + b"/Filter /LZWDecode\x20\x20" + payload[
        idx + len(b"/Filter /FlateDecode") :
    ]
    info = parse_pdf(payload)
    assert info["pages"][0]["error"] is None
    assert info["pages"][0]["text"] == "good page"
    assert info["pages"][1]["error"] is not None
    assert "filter" in info["pages"][1]["error"]


def test_not_a_pdf_raises():
    with pytest.raises(ValueError, match="PDF"):
        parse_pdf(b"%PNG not really")


def test_graphics_operators_skipped():
    content = (
        b"q 1 0 0 1 10 10 cm 0 0 100 50 re f Q\n"
        b"BT /F1 10 Tf 5 5 Td (visible) Tj ET\n"
        b"0.5 g 20 20 m 30 30 l S"
    )
    assert extract_text(content) == "visible"


def test_hex_string_tj():
    content = b"BT <48656C6C6F> Tj ET"
    assert extract_text(content) == "Hello"


# ---------------------------------------------------------------------------
# ToUnicode CMaps
# ---------------------------------------------------------------------------

_CMAP = b"""
/CIDInit /ProcSet findresource begin
begincmap
2 beginbfchar
<01> <0041>
<02> <00480069>
endbfchar
1 beginbfrange
<10> <12> <0061>
endbfrange
1 beginbfrange
<20> <21> [<005A> <0079>]
endbfrange
endcmap
"""


def test_parse_tounicode_bfchar_bfrange():
    m = parse_cmap(_CMAP)[1]
    assert m[0x01] == "A"
    assert m[0x02] == "Hi"          # ligature-style multi-char target
    assert m[0x10] == "a" and m[0x11] == "b" and m[0x12] == "c"
    assert m[0x20] == "Z" and m[0x21] == "y"


def test_tounicode_applies_to_shown_text():
    """A font whose ToUnicode maps byte codes to different chars —
    extraction must route through the CMap, not latin-1."""
    cmap_stream = (
        b"1 beginbfchar\n<41> <0042>\nendbfchar\n"  # 'A' shows as 'B'
    )
    content = b"BT /F1 12 Tf 0 0 Td (AAA) Tj ET"
    payload = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R "
        b"/Resources << /Font << /F1 4 0 R >> >> "
        b"/Contents 5 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Type /Font /Subtype /Type1 /ToUnicode 6 0 R "
        b">>\nendobj\n"
        + b"5 0 obj\n<< /Length " + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream\nendobj\n"
        + b"6 0 obj\n<< /Length " + str(len(cmap_stream)).encode()
        + b" >>\nstream\n" + cmap_stream + b"\nendstream\nendobj\n"
        + b"%%EOF\n"
    )
    info = parse_pdf(payload)
    assert info["pages"][0]["text"] == "BBB"


# ---------------------------------------------------------------------------
# property: arbitrary printable text roundtrips
# ---------------------------------------------------------------------------

_LINE = st.text(
    alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E),
    min_size=1, max_size=40,
).filter(lambda s: s.strip() == s and s.strip())


@settings(max_examples=25, deadline=None)
@given(st.lists(_LINE, min_size=1, max_size=4),
       st.booleans(), st.booleans())
def test_roundtrip_property(lines, flate, tj):
    text = "\n".join(lines)
    info = parse_pdf(
        encode_minimal_pdf([text], flate=flate, use_tj_array=tj)
    )
    got = info["pages"][0]["text"]
    if tj:
        # TJ mode rebuilds spaces from kerning gaps; runs of spaces
        # collapse (word-gap reconstruction, not byte preservation).
        import re as _re

        assert got == "\n".join(
            _re.sub(r" +", " ", ln) for ln in lines
        )
    else:
        assert got == text


# ---------------------------------------------------------------------------
# Spark operator
# ---------------------------------------------------------------------------


def test_pdf_text_pages_operator(spark):
    df = spark.createDataFrame(
        [
            (1, bytearray(encode_minimal_pdf(["one", "two"]))),
            (2, bytearray(
                encode_minimal_pdf(["enc"]) +
                b"trailer\n<< /Encrypt 99 0 R >>\n"
            )),
        ],
        "doc_id long, payload binary",
    )
    rows = pdf_text_pages(df).collect()
    by_key = {(r["doc_id"], r["page_idx"]): r for r in rows}
    assert by_key[(1, 0)]["text"] == "one"
    assert by_key[(1, 1)]["text"] == "two"
    assert by_key[(1, 0)]["n_pages"] == 2
    enc = by_key[(2, None)]
    assert enc["encrypted"] is True and enc["text"] is None


@pytest.mark.parametrize("flate", [True, False])
def test_objstm_layout_roundtrip(flate):
    """The 1.5+ layout: every non-stream object lives inside a
    compressed /Type /ObjStm — pages are invisible without the
    §7.5.7 expansion pass."""
    payload = encode_minimal_pdf(
        ["first page", "second page"], title="Packed",
        flate=flate, objstm=True,
    )
    assert b"/ObjStm" in payload
    # the catalog must NOT appear as plaintext outside the ObjStm
    assert payload.count(b"/Catalog") == 0
    info = parse_pdf(payload)
    assert info["n_pages"] == 2
    assert [p["text"] for p in info["pages"]] == [
        "first page", "second page",
    ]
    assert info["title"] == "Packed"


def test_objstm_direct_definition_wins():
    """Incremental-update semantics: a direct (appended) object
    definition supersedes the ObjStm member with the same number."""
    base = encode_minimal_pdf(["old"], objstm=True)
    # Object 4 is the page dict (catalog=1, pages=2, font=3); append a
    # direct replacement pointing at a new direct content stream 50.
    body = b"BT /F1 12 Tf 72 720 Td (patched) Tj ET"
    update = (
        b"4 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 50 0 R "
        b"/Resources << /Font << /F1 3 0 R >> >> >>\nendobj\n"
        + b"50 0 obj\n<< /Length %d >>\nstream\n" % len(body)
        + body + b"\nendstream\nendobj\n"
    )
    info = parse_pdf(base + update)
    assert [p["text"] for p in info["pages"]] == ["patched"]


def test_corrupt_objstm_costs_members_not_document():
    payload = bytearray(encode_minimal_pdf(["visible"], objstm=True))
    # Corrupt the ObjStm deflate bytes: members are lost, but the
    # direct content stream remains and the page fallback finds
    # nothing — parse must not raise.
    idx = bytes(payload).find(b"/ObjStm")
    stream_at = bytes(payload).find(b"stream\n", idx)
    payload[stream_at + 10] ^= 0xFF
    info = parse_pdf(bytes(payload))
    assert info["n_pages"] == 0  # members gone, document alive


# ---------------------------------------------------------------------------
# round-8 review-pass regressions
# ---------------------------------------------------------------------------


def test_cid_two_byte_codes_below_0xff():
    """A 2-byte CMap whose codes all fit in one byte must still be
    decoded 2 bytes per code — width comes from the codespacerange,
    never from the magnitude of the mapped codes."""
    from bigdata_invoice_stream_analysis_spark.operators.pdf import (
        parse_cmap,
    )

    cmap = (
        b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        b"2 beginbfchar\n<0041> <0058>\n<0042> <0059>\nendbfchar\n"
    )
    width, m = parse_cmap(cmap)
    assert width == 2
    assert m[0x41] == "X" and m[0x42] == "Y"
    text = extract_text(
        b"BT /F1 12 Tf 0 0 Td <00410042> Tj ET",
        {"/F1": (width, m)},
    )
    assert text == "XY"


def test_one_byte_cmap_width_inferred_from_sources():
    from bigdata_invoice_stream_analysis_spark.operators.pdf import (
        parse_cmap,
    )

    width, m = parse_cmap(b"1 beginbfchar\n<41> <0042>\nendbfchar\n")
    assert width == 1
    assert m[0x41] == "B"


def test_inline_image_data_is_skipped():
    """BI…ID…EI raw sample bytes (which may contain '(', ')' or even
    fake '(text) Tj' sequences) must not leak into extracted text."""
    content = (
        b"BT /F1 12 Tf 0 0 Td (before) Tj ET\n"
        b"q BI /W 2 /H 2 /BPC 8 /CS /RGB ID "
        b"\x01(\x02\x03 (sneaky) Tj \xff\xfe EI Q\n"
        b"BT (after) Tj ET"
    )
    text = extract_text(content)
    assert "before" in text and "after" in text
    assert "sneaky" not in text


def test_encrypt_detected_behind_id_hex_strings():
    """/ID's hex strings sit between 'trailer' and /Encrypt in almost
    every real encrypted file; detection must parse the trailer dict,
    not pattern-match the raw bytes."""
    payload = encode_minimal_pdf(["secret"]) + (
        b"trailer\n<< /Size 9 /ID [<DEADBEEF> <DEADBEEF>] "
        b"/Root 1 0 R /Encrypt 99 0 R >>\n"
    )
    info = parse_pdf(payload)
    assert info["encrypted"] is True
    assert info["n_pages"] == 0


def test_malformed_name_hash_escape_kept_literal():
    name, _ = parse_object(b"/A#zzB", 0)
    assert name == "/A#zzB"
    name, _ = parse_object(b"/A#41B", 0)
    assert name == "/AAB"
