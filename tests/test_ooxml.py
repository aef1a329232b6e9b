"""OOXML parsing (operators/ooxml) — ZIP-composed DOCX/XLSX/PPTX
text extraction, entity decoding without an XML parser, author
metadata privacy bit, macro security bit."""

import pytest

from bigdata_invoice_stream_analysis_spark.operators.ooxml import (
    decode_entities,
    encode_minimal_docx,
    ooxml_document_profile,
    parse_ooxml,
    xml_tag_texts,
)
from fixture_writers import encode_minimal_pptx, encode_minimal_xlsx


def test_entity_decoding_is_bounded():
    assert decode_entities("a&amp;b &lt;x&gt; &quot;q&quot;") == \
        'a&b <x> "q"'
    assert decode_entities("&#65;&#x42;") == "AB"
    # unknown entities pass through untouched — nothing ever expands
    assert decode_entities("&bogus; &amp") == "&bogus; &amp"
    # a billion-laughs style definition cannot exist: no DTD layer
    assert decode_entities("&lol9;" * 3) == "&lol9;" * 3


def test_tag_text_scanner():
    xml = '<w:t xml:space="preserve">a &amp; b</w:t><w:t/><w:t>c</w:t>'
    assert xml_tag_texts(xml, "w:t") == ["a & b", "", "c"]
    # a tag whose name merely PREFIXES another must not match
    assert xml_tag_texts("<tt>x</tt>", "t") == []


def test_docx_text_and_paragraphs():
    m = parse_ooxml(encode_minimal_docx(
        ["Hello & <world>", "Second paragraph"]))
    assert m["kind"] == "docx"
    assert m["text"] == "Hello & <world>\nSecond paragraph"
    assert m["n_paragraphs"] == 2
    assert not m["has_macros"]


def test_docx_author_metadata_privacy_bit():
    m = parse_ooxml(encode_minimal_docx(
        ["x"], creator="A. Person", last_modified_by="B. Other",
        title="Memo"))
    assert m["creator"] == "A. Person"
    assert m["last_modified_by"] == "B. Other"
    assert m["title"] == "Memo"


def test_docx_macro_and_media_bits():
    m = parse_ooxml(encode_minimal_docx(
        ["x"], with_macro=True, media=3))
    assert m["has_macros"]
    assert m["n_media"] == 3


def test_xlsx_shared_strings_and_sheets():
    m = parse_ooxml(encode_minimal_xlsx(
        ["alpha", "beta"], n_sheets=3))
    assert m["kind"] == "xlsx"
    assert m["text"] == "alpha\nbeta"
    assert m["n_units"] == 3


def test_pptx_slide_runs():
    m = parse_ooxml(encode_minimal_pptx([["one", "two"], ["three"]]))
    assert m["kind"] == "pptx"
    assert m["text"] == "one\ntwo\nthree"
    assert m["n_units"] == 2


def test_plain_zip_is_not_ooxml():
    from bigdata_invoice_stream_analysis_spark.operators.zip import (
        encode_zip,
    )

    with pytest.raises(ValueError, match="Content_Types"):
        parse_ooxml(encode_zip([("a.txt", b"x")]))
    with pytest.raises(ValueError, match="main document"):
        parse_ooxml(encode_zip(
            [("[Content_Types].xml", b"<Types/>")]))


def test_profile_operator(spark):
    payloads = [
        encode_minimal_docx(["body text"], creator="A. Person"),
        encode_minimal_docx(["macro doc"], with_macro=True),
        encode_minimal_xlsx(["cell"]),
        b"PK\x03\x04 torn",
    ]
    files = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)],
        "file_id long, payload binary",
    )
    rows = {r["file_id"]: r
            for r in ooxml_document_profile(files).collect()}
    assert rows[0]["ok"] and rows[0]["text"] == "body text"
    assert rows[0]["has_author_metadata"]
    assert rows[1]["has_macros"]
    assert rows[2]["kind"] == "xlsx"
    assert not rows[3]["ok"]
    plan = ooxml_document_profile(files)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
