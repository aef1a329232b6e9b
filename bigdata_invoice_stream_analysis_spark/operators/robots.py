"""robots.txt parsing and URL gating (RFC 9309) — crawl governance
for a web corpus.

A training-data pipeline ingesting crawled pages needs to answer, at
corpus scale, "was this URL even allowed to be fetched, and is it
allowed for MY agent?" — both for compliance audits over existing
corpora (Common Crawl publishes the robots responses alongside the
pages) and for building fetch frontiers. This implements the Robots
Exclusion Protocol from the RFC:

* Group parsing (§2.1-2.2): consecutive ``User-agent`` lines start a
  group that the following ``Allow``/``Disallow`` rules attach to;
  rules outside any group are ignored; field names are
  case-insensitive; ``#`` comments and a UTF-8 BOM are tolerated.
  ``Sitemap`` is collected globally; ``Crawl-delay`` (ubiquitous
  de-facto extension) is kept per group.
* Group selection (§2.2.1): the group whose user-agent token is the
  LONGEST case-insensitive match for the product token wins;
  otherwise the ``*`` group; otherwise everything is allowed.
* Rule matching (§2.2.2): longest-match wins, measured in pattern
  octets; an ``allow`` beats a ``disallow`` of equal length. Patterns
  support ``*`` (any substring) and a terminal ``$`` anchor. An empty
  ``Disallow:`` matches nothing (the classic allow-all idiom).

Scale posture: robots documents are tiny and per-host — at 100 TB the
URL table is the big side, so the operator broadcasts the robots
table, parses each distinct document once per Arrow batch, and
evaluates map-side: zero shuffles on the URL side.

Reference: n/a (extension surface).
"""

from __future__ import annotations

import re

_FIELD_RE = re.compile(r"^([A-Za-z-]+)\s*:\s*(.*?)\s*$")


def parse_robots(text: str) -> dict:
    """Parse robots.txt into
    ``{groups: [{agents: [...], rules: [(allow, pattern)],
    crawl_delay}], sitemaps: [...]}``. Line-tolerant per RFC 9309
    §2.2: unknown fields skipped, comments stripped, CR tolerated."""
    groups: list[dict] = []
    sitemaps: list[str] = []
    current: dict | None = None
    in_agent_run = False  # consecutive user-agent lines extend a group
    for raw in text.lstrip("﻿").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        m = _FIELD_RE.match(line)
        if not m:
            continue
        field, value = m.group(1).lower(), m.group(2)
        if field == "user-agent":
            if not in_agent_run:
                current = {"agents": [], "rules": [], "crawl_delay": None}
                groups.append(current)
                in_agent_run = True
            if value:  # an empty token would substring-match everything
                current["agents"].append(value.lower())
            continue
        in_agent_run = False
        if field == "sitemap":
            sitemaps.append(value)
        elif current is None:
            continue  # rules outside any group are ignored (§2.2.2)
        elif field in ("allow", "disallow"):
            if value == "":
                # "Disallow:" = allow everything; empty patterns match
                # nothing in either direction (the reference parsers
                # agree), so record nothing.
                continue
            current["rules"].append((field == "allow", value))
        elif field == "crawl-delay":
            try:
                current["crawl_delay"] = float(value)
            except ValueError:
                pass
    return {"groups": groups, "sitemaps": sitemaps}


def select_group(robots: dict, agent: str) -> dict | None:
    """§2.2.1: the groups whose user-agent token is the LONGEST
    case-insensitive match win; ALL groups at that specificity are
    MERGED (the RFC requires combining groups that match the same
    product token — 'User-agent: *' appearing twice is the classic
    real-world layout). Falls back to the merged ``*`` groups, else
    None (no group = everything allowed). The first non-None
    crawl-delay among the merged groups is kept."""
    agent = agent.lower()
    best_len = -1
    named: list[dict] = []
    star: list[dict] = []
    for g in robots["groups"]:
        g_len = -1
        for a in g["agents"]:
            if a == "*":
                star.append(g)
            elif a in agent and len(a) > g_len:
                g_len = len(a)
        if g_len > best_len:
            named, best_len = [g], g_len
        elif g_len == best_len and g_len >= 0:
            named.append(g)
    chosen = named if named else star
    if not chosen:
        return None
    if len(chosen) == 1:
        return chosen[0]
    merged = {"agents": [], "rules": [], "crawl_delay": None}
    for g in chosen:
        merged["agents"].extend(g["agents"])
        merged["rules"].extend(g["rules"])
        if merged["crawl_delay"] is None:
            merged["crawl_delay"] = g["crawl_delay"]
    return merged


def _pattern_matches(pattern: str, path: str) -> bool:
    """Match a robots path pattern (literal + ``*`` wildcard +
    optional terminal ``$``) against a URL path, iteratively (no
    regex — patterns are untrusted input; this is linear-ish and
    cannot backtrack exponentially)."""
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    parts = pattern.split("*")
    pos = 0
    # First part must match at the start.
    if not path.startswith(parts[0]):
        return False
    pos = len(parts[0])
    for part in parts[1:-1] if len(parts) > 1 else []:
        if part == "":
            continue
        idx = path.find(part, pos)
        if idx < 0:
            return False
        pos = idx + len(part)
    if len(parts) > 1:
        last = parts[-1]
        if anchored:
            return path.endswith(last) and len(path) - len(last) >= pos
        if last == "":
            return True
        return path.find(last, pos) >= 0
    return not anchored or len(path) == pos


def evaluate(robots: dict, agent: str, path: str) -> dict:
    """Evaluate one path for one agent: §2.2.2 longest-match, allow
    wins ties. Returns ``{allowed, matched (pattern or None),
    crawl_delay}``."""
    group = select_group(robots, agent)
    if group is None:
        return {"allowed": True, "matched": None, "crawl_delay": None}
    best_len = -1
    best_allow = True
    best_pattern = None
    for allow, pattern in group["rules"]:
        if _pattern_matches(pattern, path):
            size = len(pattern)
            if size > best_len or (size == best_len and allow
                                   and not best_allow):
                best_len, best_allow, best_pattern = size, allow, pattern
    return {
        "allowed": best_allow if best_pattern is not None else True,
        "matched": best_pattern,
        "crawl_delay": group["crawl_delay"],
    }


def parse_sitemap(data: bytes) -> dict:
    """Parse one sitemap document (sitemaps.org protocol 0.9): either
    a ``<urlset>`` of ``<url>`` entries (loc, lastmod, changefreq,
    priority) or a ``<sitemapindex>`` of child sitemap locs. Returns
    ``{kind: 'urlset'|'sitemapindex', entries: [...]}`` where each
    entry is ``{loc, lastmod, changefreq, priority}`` (index children
    carry loc/lastmod only). Namespace-agnostic: real sitemaps mix the
    0.9 namespace, no namespace, and typo'd variants, so tags are
    matched by local name. Raises ValueError on non-XML or an
    unexpected root element."""
    import xml.etree.ElementTree as ET

    try:
        root = ET.fromstring(data)
    except ET.ParseError as exc:
        raise ValueError(f"not a sitemap: {exc}") from None

    def local(tag: str) -> str:
        return tag.rsplit("}", 1)[-1].lower()

    kind = local(root.tag)
    if kind not in ("urlset", "sitemapindex"):
        raise ValueError(f"unexpected sitemap root <{kind}>")
    child_tag = "url" if kind == "urlset" else "sitemap"
    entries = []
    for el in root:
        if local(el.tag) != child_tag:
            continue
        entry = {"loc": None, "lastmod": None, "changefreq": None,
                 "priority": None}
        for f in el:
            name = local(f.tag)
            if name in entry:
                entry[name] = (f.text or "").strip() or None
        if entry["loc"] is None:
            continue  # loc is the one mandatory field
        if entry["priority"] is not None:
            try:
                entry["priority"] = float(entry["priority"])
            except ValueError:
                entry["priority"] = None
        entries.append(entry)
    return {"kind": kind, "entries": entries}


def sitemap_urls(sitemaps):
    """Explode (sitemap_id, payload) sitemap XML documents into one
    row per entry — urlset rows carry the full per-URL metadata, index
    rows the child-sitemap pointers (is_index=true) a frontier builder
    fetches next. Arrow mapInPandas, map-side only; gzip-wrapped
    sitemaps (the protocol allows .xml.gz) are decompressed inline."""
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("sitemap_id", T.LongType(), False),
        T.StructField("is_index", T.BooleanType(), False),
        T.StructField("loc", T.StringType(), False),
        T.StructField("lastmod", T.StringType(), True),
        T.StructField("changefreq", T.StringType(), True),
        T.StructField("priority", T.DoubleType(), True),
    ])

    def batches(it):
        import gzip as _gzip

        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.robots import (
            parse_sitemap,
        )

        cols = [f.name for f in out_schema.fields]
        for pdf in it:
            out = {k: [] for k in cols}
            for sid, payload in zip(pdf["sitemap_id"], pdf["payload"]):
                raw = bytes(payload)
                if raw[:2] == b"\x1f\x8b":
                    raw = _gzip.decompress(raw)
                doc = parse_sitemap(raw)
                for entry in doc["entries"]:
                    out["sitemap_id"].append(sid)
                    out["is_index"].append(doc["kind"] == "sitemapindex")
                    out["loc"].append(entry["loc"])
                    out["lastmod"].append(entry["lastmod"])
                    out["changefreq"].append(entry["changefreq"])
                    out["priority"].append(entry["priority"])
            yield pd.DataFrame(out)

    return sitemaps.mapInPandas(batches, schema=out_schema)


def robots_url_gate(urls, robots, agent: str):
    """Gate a URL table against per-host robots.txt documents:
    ``urls`` (url_id, host, path) ⋈ ``robots`` (host, robots_txt) →
    one row per URL with the RFC 9309 verdict. The robots side is
    broadcast (per-host documents are tiny next to a 100 TB URL
    table); each distinct document is parsed once per Arrow batch and
    evaluation is map-side — zero shuffles on the URL side. URLs on
    hosts with no robots document are allowed (§2.3.1.2: absent =
    unrestricted), with ``has_robots`` false so an audit can split
    the two kinds of 'allowed'."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("url_id", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("has_robots", T.BooleanType(), False),
        T.StructField("allowed", T.BooleanType(), False),
        T.StructField("matched_rule", T.StringType(), True),
        T.StructField("crawl_delay", T.DoubleType(), True),
    ])

    joined = urls.join(
        F.broadcast(robots.withColumnRenamed("host", "r_host")),
        urls["host"] == F.col("r_host"),
        "left",
    ).select("url_id", "host", "path", "robots_txt")

    def batches(it):
        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.robots import (
            evaluate,
            parse_robots,
        )

        cols = [f.name for f in out_schema.fields]
        for pdf in it:
            # Per-batch cache: bounded by the batch's distinct hosts,
            # so executor memory cannot grow with the partition's
            # total distinct-host count at 100 TB.
            cache: dict[str, dict] = {}
            out = {k: [] for k in cols}
            for uid, host, path, txt in zip(
                pdf["url_id"], pdf["host"], pdf["path"], pdf["robots_txt"]
            ):
                out["url_id"].append(uid)
                out["host"].append(host)
                out["path"].append(path)
                if txt is None:
                    out["has_robots"].append(False)
                    out["allowed"].append(True)
                    out["matched_rule"].append(None)
                    out["crawl_delay"].append(None)
                    continue
                parsed = cache.get(txt)
                if parsed is None:
                    parsed = parse_robots(txt)
                    cache[txt] = parsed
                verdict = evaluate(parsed, agent, path)
                out["has_robots"].append(True)
                out["allowed"].append(verdict["allowed"])
                out["matched_rule"].append(verdict["matched"])
                out["crawl_delay"].append(verdict["crawl_delay"])
            yield pd.DataFrame(out)

    return joined.mapInPandas(batches, schema=out_schema)
