"""OOXML document parsing (DOCX/XLSX/PPTX) — the office documents a
web crawl contains in bulk: each is a ZIP package of XML parts
(ECMA-376 / ISO 29500), so this module composes the EXISTING ZIP
reader (operators/zip.parse_zip + read_zip_member — central
directory, real inflate, CRC) with a small entity-aware text
extractor; no XML library is used (a 100 TB corpus is exactly where
XML-parser quadratic blowups and entity bombs live — the extractor
is a linear tag scanner that never expands anything).

Built against the public ECMA-376 package conventions:

* ``[Content_Types].xml`` marks an OOXML package; the main part
  routes the kind — ``word/document.xml`` (docx),
  ``xl/workbook.xml`` (xlsx), ``ppt/presentation.xml`` (pptx).
* Text lives in ``<w:t>`` runs (docx; paragraph boundaries at
  ``</w:p>``), ``<t>`` shared strings (xlsx), ``<a:t>`` runs
  (pptx slides). The five XML entities plus numeric character
  references are decoded; everything else passes through.
* ``docProps/core.xml`` carries the Dublin-Core metadata — creator
  and lastModifiedBy are REAL NAMES: the same privacy surface as
  EXIF GPS, surfaced as the risk bit.
* ``word/vbaProject.bin`` (et al.) marks a MACRO-carrying document
  (.docm shipped renamed as .docx is the classic malware shape) —
  the security bit every ingestion pipeline filters on.
* ``*/media/*`` members mark embedded images/objects (route to the
  image triage, not the text path).

Malformed packages raise ValueError (from the ZIP layer or the
package checks); triage quarantines.

Reference: n/a (extension surface).
"""

from __future__ import annotations

import re

_ENTITIES = {"amp": "&", "lt": "<", "gt": ">", "quot": '"',
             "apos": "'"}


def decode_entities(s: str) -> str:
    """The five XML entities + numeric character references —
    decoded WITHOUT an XML parser (nothing else is expanded, so
    entity bombs are structurally impossible)."""
    def sub(m: re.Match) -> str:
        body = m.group(1)
        if body.startswith("#x") or body.startswith("#X"):
            try:
                return chr(int(body[2:], 16))
            except (ValueError, OverflowError):
                return m.group(0)
        if body.startswith("#"):
            try:
                return chr(int(body[1:]))
            except (ValueError, OverflowError):
                return m.group(0)
        return _ENTITIES.get(body, m.group(0))

    return re.sub(r"&([^;&\s]{1,10});", sub, s)


def xml_tag_texts(xml: str, tag: str) -> list[str]:
    """All text contents of ``<tag ...>text</tag>`` occurrences, in
    document order, entity-decoded. Self-closing tags contribute
    empty strings. Linear scan, no parser."""
    out: list[str] = []
    open_re = re.compile(
        rf"<{re.escape(tag)}(?:\s[^>]*)?(/?)>")
    close = f"</{tag}>"
    i = 0
    while True:
        m = open_re.search(xml, i)
        if not m:
            return out
        if m.group(1) == "/":
            out.append("")
            i = m.end()
            continue
        j = xml.find(close, m.end())
        if j < 0:
            return out
        out.append(decode_entities(xml[m.end():j]))
        i = j + len(close)


def _core_prop(xml: str, tag: str) -> str | None:
    vals = xml_tag_texts(xml, tag)
    return vals[0] if vals and vals[0] else None


def parse_ooxml(data: bytes) -> dict:
    """Parse an OOXML package:

    ``{kind: 'docx'|'xlsx'|'pptx', n_parts, text, n_paragraphs,
    n_chars, creator, last_modified_by, title, created,
    has_macros, n_media, n_sheets_or_slides}``.
    """
    from bigdata_invoice_stream_analysis_spark.operators.zip import (
        parse_zip,
        read_zip_member,
    )

    members = parse_zip(data)
    names = {m["name"]: m for m in members}
    if "[Content_Types].xml" not in names:
        raise ValueError("ooxml: no [Content_Types].xml part")

    def read_text(name: str) -> str:
        return read_zip_member(data, names[name]).decode(
            "utf-8", "replace")

    if "word/document.xml" in names:
        kind = "docx"
        doc = read_text("word/document.xml")
        paragraphs = [
            "".join(xml_tag_texts(p, "w:t"))
            for p in doc.split("</w:p>")[:-1]
        ]
        paragraphs = [p for p in paragraphs if p]
        text = "\n".join(paragraphs)
        n_units = len(paragraphs)
    elif "xl/workbook.xml" in names:
        kind = "xlsx"
        strings: list[str] = []
        if "xl/sharedStrings.xml" in names:
            strings = xml_tag_texts(
                read_text("xl/sharedStrings.xml"), "t")
        text = "\n".join(s for s in strings if s)
        n_units = sum(
            1 for n in names
            if re.fullmatch(r"xl/worksheets/sheet\d+\.xml", n))
    elif "ppt/presentation.xml" in names:
        kind = "pptx"
        slides = sorted(
            n for n in names
            if re.fullmatch(r"ppt/slides/slide\d+\.xml", n))
        runs: list[str] = []
        for s in slides:
            runs.extend(xml_tag_texts(read_text(s), "a:t"))
        text = "\n".join(r for r in runs if r)
        n_units = len(slides)
    else:
        raise ValueError("ooxml: no recognized main document part")

    creator = last_mod = title = created = None
    if "docProps/core.xml" in names:
        core = read_text("docProps/core.xml")
        creator = _core_prop(core, "dc:creator")
        last_mod = _core_prop(core, "cp:lastModifiedBy")
        title = _core_prop(core, "dc:title")
        created = _core_prop(core, "dcterms:created")
    has_macros = any(n.endswith("vbaProject.bin") for n in names)
    n_media = sum(1 for n in names if "/media/" in n)
    paragraphs = text.split("\n") if text else []
    return {
        "kind": kind,
        "n_parts": len(members),
        "text": text,
        "n_paragraphs": len(paragraphs),
        "n_chars": len(text),
        "creator": creator,
        "last_modified_by": last_mod,
        "title": title,
        "created": created,
        "has_macros": has_macros,
        "n_media": n_media,
        "n_units": n_units,
    }


# ---------------------------------------------------------------------------
# Fixture encoder
# ---------------------------------------------------------------------------

_CT_XML = (
    '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlforma'
    'ts.org/package/2006/content-types"><Default Extension="xml" Co'
    'ntentType="application/xml"/></Types>'
)


def encode_minimal_docx(
    paragraphs: list[str],
    *,
    creator: str | None = None,
    last_modified_by: str | None = None,
    title: str | None = None,
    with_macro: bool = False,
    media: int = 0,
) -> bytes:
    """A minimal valid-enough DOCX package through the SAME zip
    encoder the extraction gates use; text goes through entity
    escaping so the decode path is really exercised."""
    from bigdata_invoice_stream_analysis_spark.operators.zip import (
        encode_zip,
    )

    def esc(s: str) -> str:
        return (s.replace("&", "&amp;").replace("<", "&lt;")
                .replace(">", "&gt;"))

    body = "".join(
        f"<w:p><w:r><w:t>{esc(p)}</w:t></w:r></w:p>"
        for p in paragraphs)
    doc = ('<?xml version="1.0"?><w:document><w:body>'
           f"{body}</w:body></w:document>")
    entries: list[tuple[str, bytes]] = [
        ("[Content_Types].xml", _CT_XML.encode()),
        ("word/document.xml", doc.encode()),
    ]
    props = []
    if creator:
        props.append(f"<dc:creator>{esc(creator)}</dc:creator>")
    if last_modified_by:
        props.append(
            f"<cp:lastModifiedBy>{esc(last_modified_by)}"
            "</cp:lastModifiedBy>")
    if title:
        props.append(f"<dc:title>{esc(title)}</dc:title>")
    if props:
        entries.append((
            "docProps/core.xml",
            ('<?xml version="1.0"?><cp:coreProperties>'
             + "".join(props)
             + "</cp:coreProperties>").encode()))
    if with_macro:
        entries.append(("word/vbaProject.bin", bytes(64)))
    for i in range(media):
        entries.append((f"word/media/image{i + 1}.png",
                        b"\x89PNG\r\n\x1a\n" + bytes(8)))
    return encode_zip(entries)


# ---------------------------------------------------------------------------
# Spark operator
# ---------------------------------------------------------------------------


def ooxml_document_profile(files):
    """(file_id, payload) → one row per office document: kind, the
    extracted TEXT (the training-data payload), paragraph/char
    counts, author metadata (the privacy bit), the macro security
    bit, and embedded-media counts. Map-side Arrow mapInPandas."""
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("file_id", T.LongType(), False),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
        T.StructField("kind", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("n_paragraphs", T.IntegerType(), True),
        T.StructField("n_chars", T.IntegerType(), True),
        T.StructField("creator", T.StringType(), True),
        T.StructField("last_modified_by", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("has_author_metadata", T.BooleanType(), True),
        T.StructField("has_macros", T.BooleanType(), True),
        T.StructField("n_media", T.IntegerType(), True),
        T.StructField("n_units", T.IntegerType(), True),
    ])
    cols = [f.name for f in out_schema.fields]

    def batches(it):
        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.ooxml import (  # noqa: E501
            parse_ooxml,
        )

        for pdf in it:
            out = {k: [] for k in cols}

            def emit(fid, **kw):
                row = dict.fromkeys(cols)
                row["file_id"] = fid
                row.update(kw)
                for k in cols:
                    out[k].append(row[k])

            for fid, p in zip(pdf["file_id"], pdf["payload"]):
                try:
                    m = parse_ooxml(bytes(p))
                except (ValueError, KeyError) as exc:
                    emit(fid, ok=False, error=str(exc)[:120])
                    continue
                emit(fid, ok=True, kind=m["kind"], text=m["text"],
                     n_paragraphs=m["n_paragraphs"],
                     n_chars=m["n_chars"], creator=m["creator"],
                     last_modified_by=m["last_modified_by"],
                     title=m["title"],
                     has_author_metadata=bool(
                         m["creator"] or m["last_modified_by"]),
                     has_macros=m["has_macros"],
                     n_media=m["n_media"], n_units=m["n_units"])
            yield pd.DataFrame(out)

    return files.mapInPandas(batches, schema=out_schema)
