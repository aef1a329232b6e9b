"""RSS/Atom feed parsing — the crawl-discovery layer beside
sitemaps (operators/robots): feeds are how a frontier finds NEW
content between full recrawls, and a scraped-web corpus is full of
them.

Built against the public specs (RSS 2.0, RFC 4287 Atom), using the
SAME bounded entity decoder and tag scanner as the OOXML/SVG gates
(operators/ooxml.decode_entities / xml_tag_texts) — no XML parser:

* RSS 2.0: ``<rss>``/``<channel>`` with ``<item>`` entries; entry
  links are element TEXT (``<link>https://…</link>``).
* Atom: ``<feed>`` with ``<entry>`` elements; links are ATTRIBUTES
  (``<link href="…" rel="alternate"/>``) — the classic trap when
  one parser claims both formats.
* Entry fields: title, link, publication timestamp (pubDate /
  published / updated — kept verbatim; RFC 822 vs RFC 3339 parsing
  is the downstream's locale problem), GUID/id.
* Links resolve absolute against the feed's own URL through the
  shared RFC 3986 resolver (operators/warc.resolve_url).

A document that is neither ``<rss``/``<feed`` raises ValueError.

Reference: n/a (extension surface).
"""

from __future__ import annotations

import re

from bigdata_invoice_stream_analysis_spark.operators.ooxml import (
    decode_entities,
    xml_tag_texts,
)

_ATOM_LINK_RE = re.compile(
    r"<link\b([^>]*?)/?>", re.IGNORECASE | re.DOTALL)
_HREF_RE = re.compile(r"""\bhref\s*=\s*["']([^"']*)["']""",
                      re.IGNORECASE)
_REL_RE = re.compile(r"""\brel\s*=\s*["']([^"']*)["']""",
                     re.IGNORECASE)


def _blocks(xml: str, tag: str) -> list[str]:
    """The raw inner bodies of <tag>…</tag> blocks (unlike
    xml_tag_texts, no entity decoding — callers scan inside)."""
    out = []
    open_re = re.compile(rf"<{re.escape(tag)}(?:\s[^>]*)?>")
    close = f"</{tag}>"
    i = 0
    while True:
        m = open_re.search(xml, i)
        if not m:
            return out
        j = xml.find(close, m.end())
        if j < 0:
            return out
        out.append(xml[m.end():j])
        i = j + len(close)


def _first(xs: list[str]) -> str | None:
    return xs[0].strip() if xs and xs[0].strip() else None


def _atom_link(block: str) -> str | None:
    fallback = None
    for m in _ATOM_LINK_RE.finditer(block):
        attrs = m.group(1)
        href = _HREF_RE.search(attrs)
        if not href:
            continue
        rel = _REL_RE.search(attrs)
        if rel is None or rel.group(1) == "alternate":
            return decode_entities(href.group(1))
        if fallback is None:
            fallback = decode_entities(href.group(1))
    return fallback


def parse_feed(text: str, base_url: str | None = None) -> dict:
    """Parse an RSS/Atom feed: ``{kind: 'rss'|'atom', title,
    feed_link, entries: [{title, link, published, guid}],
    n_entries}``. Links are absolutized against ``base_url``."""
    from bigdata_invoice_stream_analysis_spark.operators.warc import (
        resolve_url,
    )

    def absolutize(u: str | None) -> str | None:
        if u is None or base_url is None:
            return u
        return resolve_url(base_url, u) or u

    head = text.lstrip("﻿ \t\r\n")
    is_rss = re.search(r"<rss[\s>]", head[:4096]) is not None
    is_atom = re.search(r"<feed[\s>]", head[:4096]) is not None
    if not (is_rss or is_atom):
        raise ValueError("feed: neither <rss> nor <feed> root")
    entries = []
    if is_rss:
        kind = "rss"
        channel = _blocks(text, "channel")
        body = channel[0] if channel else text
        # channel-level title = the first <title> BEFORE any item
        first_item = body.find("<item")
        head_body = body[:first_item] if first_item >= 0 else body
        feed_title = _first(xml_tag_texts(head_body, "title"))
        feed_link = _first(xml_tag_texts(head_body, "link"))
        for item in _blocks(body, "item"):
            entries.append({
                "title": _first(xml_tag_texts(item, "title")),
                "link": absolutize(
                    _first(xml_tag_texts(item, "link"))),
                "published": _first(xml_tag_texts(item, "pubDate")),
                "guid": _first(xml_tag_texts(item, "guid")),
            })
    else:
        kind = "atom"
        first_entry = text.find("<entry")
        head_body = text[:first_entry] if first_entry >= 0 else text
        feed_title = _first(xml_tag_texts(head_body, "title"))
        feed_link = absolutize(_atom_link(head_body))
        for entry in _blocks(text, "entry"):
            entries.append({
                "title": _first(xml_tag_texts(entry, "title")),
                "link": absolutize(_atom_link(entry)),
                "published": _first(
                    xml_tag_texts(entry, "published")
                    or xml_tag_texts(entry, "updated")),
                "guid": _first(xml_tag_texts(entry, "id")),
            })
    return {
        "kind": kind,
        "title": feed_title,
        "feed_link": absolutize(feed_link),
        "entries": entries,
        "n_entries": len(entries),
    }
