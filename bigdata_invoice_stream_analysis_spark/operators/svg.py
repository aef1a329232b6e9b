"""SVG image parsing — the web's vector image format, and the only
IMAGE format that can carry executable code: a scraped SVG corpus
needs a security triage (script tags, event-handler attributes,
foreignObject HTML, external fetches) far more than it needs pixel
decoding. This module is that gate.

Built against the public SVG 1.1/2 and XML specs, using the SAME
bounded entity decoder and linear tag scanner as the OOXML module
(operators/ooxml.decode_entities / xml_tag_texts) — no XML parser,
so entity bombs and quadratic blowups are structurally impossible:

* Root ``<svg>`` attributes: width/height (CSS lengths — the number
  and unit are split), viewBox (4 numbers; the fallback geometry
  when width/height are absent or percentages).
* Security surface, each its own counter:
  ``<script>`` tags, ``on*=`` event-handler attributes (onload on
  the root fires in every renderer), ``<foreignObject>`` (arbitrary
  HTML), external ``href``/``src`` references (http/https/
  protocol-relative — tracking and exfil), and ``data:`` URIs
  (embedded payloads). ``svg_risky`` is their disjunction — the
  quarantine bit an image pipeline filters BEFORE rasterization.
* ``<text>``/``<tspan>`` runs are extracted as the text payload
  (entity-decoded) — SVGs are a real OCR-free text source.

A blob with no ``<svg`` root raises ValueError; triage quarantines.

Reference: n/a (extension surface).
"""

from __future__ import annotations

import re

from bigdata_invoice_stream_analysis_spark.operators.ooxml import (
    decode_entities,
    xml_tag_texts,
)

_SVG_ROOT_RE = re.compile(r"<svg(\s[^>]*)?>", re.IGNORECASE | re.DOTALL)
_ATTR_RE = re.compile(
    r"""([A-Za-z_:][-A-Za-z0-9_:.]*)\s*=\s*("[^"]*"|'[^']*')""")
_LENGTH_RE = re.compile(
    r"^\s*([+-]?[0-9]*\.?[0-9]+(?:[eE][+-]?[0-9]+)?)\s*"
    r"(px|pt|pc|mm|cm|in|em|ex|%)?\s*$")
_SCRIPT_RE = re.compile(r"<script[\s/>]", re.IGNORECASE)
_HANDLER_RE = re.compile(
    r"""\son[a-z]+\s*=\s*["']""", re.IGNORECASE)
_FOREIGN_RE = re.compile(r"<foreignObject[\s/>]", re.IGNORECASE)
_EXTERNAL_RE = re.compile(
    r"""(?:href|src)\s*=\s*["'](?:https?:)?//""", re.IGNORECASE)
_DATA_URI_RE = re.compile(
    r"""(?:href|src)\s*=\s*["']data:""", re.IGNORECASE)
_ELEMENT_RE = re.compile(r"<[A-Za-z]")


def _parse_length(v: str | None) -> tuple[float | None, str | None]:
    if v is None:
        return None, None
    m = _LENGTH_RE.match(v)
    if not m:
        return None, None
    return float(m.group(1)), m.group(2) or "px"


def parse_svg(text: str) -> dict:
    """Parse an SVG document's geometry + security surface:

    ``{width, height, unit, viewbox_width, viewbox_height,
    n_elements, text, n_text_runs, n_scripts, n_event_handlers,
    n_external_refs, n_data_uris, has_foreign_object, svg_risky}``.
    """
    m = _SVG_ROOT_RE.search(text)
    if not m:
        raise ValueError("svg: no <svg> root element")
    attrs: dict[str, str] = {}
    for am in _ATTR_RE.finditer(m.group(1) or ""):
        attrs[am.group(1).lower()] = decode_entities(
            am.group(2)[1:-1])
    width, unit_w = _parse_length(attrs.get("width"))
    height, unit_h = _parse_length(attrs.get("height"))
    vb_w = vb_h = None
    if "viewbox" in attrs:
        parts = re.split(r"[\s,]+", attrs["viewbox"].strip())
        if len(parts) != 4:
            raise ValueError("svg: viewBox needs 4 numbers")
        try:
            vb_w = float(parts[2])
            vb_h = float(parts[3])
        except ValueError as exc:
            raise ValueError("svg: non-numeric viewBox") from exc
    # <text> contents (inner markup like tspan stripped in place);
    # bare <tspan> runs only matter when no <text> wraps them
    runs = [r.strip() for r in xml_tag_texts(text, "text")]
    if not runs:
        runs = [r.strip() for r in xml_tag_texts(text, "tspan")]
    runs = [re.sub(r"<[^>]*>", "", r) for r in runs if r]
    n_scripts = len(_SCRIPT_RE.findall(text))
    n_handlers = len(_HANDLER_RE.findall(text))
    n_external = len(_EXTERNAL_RE.findall(text))
    n_data = len(_DATA_URI_RE.findall(text))
    has_foreign = bool(_FOREIGN_RE.search(text))
    return {
        "width": width,
        "height": height,
        "unit": unit_w or unit_h,
        "viewbox_width": vb_w,
        "viewbox_height": vb_h,
        "n_elements": len(_ELEMENT_RE.findall(text)),
        "text": "\n".join(runs),
        "n_text_runs": len(runs),
        "n_scripts": n_scripts,
        "n_event_handlers": n_handlers,
        "n_external_refs": n_external,
        "n_data_uris": n_data,
        "has_foreign_object": has_foreign,
        "svg_risky": bool(n_scripts or n_handlers or has_foreign),
    }


def svg_image_profile(files):
    """(file_id, text) → one security-triage row per SVG: geometry
    (width/height or viewBox fallback), extracted text runs, and
    the executable-content counters with the svg_risky quarantine
    bit. Map-side Arrow mapInPandas."""
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("file_id", T.LongType(), False),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
        T.StructField("width", T.DoubleType(), True),
        T.StructField("height", T.DoubleType(), True),
        T.StructField("viewbox_width", T.DoubleType(), True),
        T.StructField("viewbox_height", T.DoubleType(), True),
        T.StructField("n_elements", T.IntegerType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("n_scripts", T.IntegerType(), True),
        T.StructField("n_event_handlers", T.IntegerType(), True),
        T.StructField("n_external_refs", T.IntegerType(), True),
        T.StructField("has_foreign_object", T.BooleanType(), True),
        T.StructField("svg_risky", T.BooleanType(), True),
    ])
    cols = [f.name for f in out_schema.fields]

    def batches(it):
        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.svg import (
            parse_svg,
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
                    m = parse_svg(text)
                except (ValueError, TypeError) as exc:
                    emit(fid, ok=False, error=str(exc)[:120])
                    continue
                emit(fid, ok=True, width=m["width"],
                     height=m["height"],
                     viewbox_width=m["viewbox_width"],
                     viewbox_height=m["viewbox_height"],
                     n_elements=m["n_elements"], text=m["text"],
                     n_scripts=m["n_scripts"],
                     n_event_handlers=m["n_event_handlers"],
                     n_external_refs=m["n_external_refs"],
                     has_foreign_object=m["has_foreign_object"],
                     svg_risky=m["svg_risky"])
            yield pd.DataFrame(out)

    return files.mapInPandas(batches, schema=out_schema)
