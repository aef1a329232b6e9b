"""Subtitle / caption parsing: SRT and WebVTT cue extraction — the
video-text alignment layer of a multimodal training corpus.

Scraped video rarely arrives alone: the text modality rides in
sidecar ``.srt`` files and ``.vtt`` tracks (the W3C WebVTT format
used by HLS/DASH and by YouTube caption exports). For a
video+language dataset the cues ARE the supervision signal — (start,
end, text) triples aligned to the frame index the MP4/WebM demuxers
already produce, joinable on ``media_id × time`` with the keyframe
tables from operators/mp4.py / operators/ebml.py.

From-scratch against the public specs: SubRip's de-facto format
(index line, ``HH:MM:SS,mmm --> HH:MM:SS,mmm`` with a comma decimal
separator, blank-line-terminated payload) and W3C WebVTT §6 (file
magic, optional header metadata, NOTE/STYLE/REGION block skipping,
optional cue identifiers, ``.``-separated milliseconds, optional
hours field, cue settings after the arrow, inline markup tags).
Payload text is emitted raw AND cleaned (markup stripped + character
references decoded via operators/warc.decode_entities — deliberate
reuse of the HTML machinery).

Scale posture: Arrow mapInPandas cue explosion, map-side only; the
downstream time-alignment join keys on (media_id, time bucket) — one
co-partitioned shuffle at 100 TB.

Reference: n/a (extension surface).
"""

from __future__ import annotations

import re

_SRT_ARROW = re.compile(
    r"^(\d{1,2}):(\d{2}):(\d{2})[,.](\d{3})\s*-->\s*"
    r"(\d{1,2}):(\d{2}):(\d{2})[,.](\d{3})\s*$"
)
# VTT allows MM:SS.mmm (hours optional) and cue settings after the
# arrow; SRT files in the wild sometimes use '.' too (handled above).
_VTT_ARROW = re.compile(
    r"^(?:(\d{1,2}):)?(\d{2}):(\d{2})\.(\d{3})\s*-->\s*"
    r"(?:(\d{1,2}):)?(\d{2}):(\d{2})\.(\d{3})(?:[ \t]+(\S.*))?$"
)
_MARKUP_RE = re.compile(r"<[^>]*>")
_WS_RE = re.compile(r"[ \t]+")


def _ms(h, m, s, ms) -> int:
    return (
        (int(h or 0) * 3600 + int(m) * 60 + int(s)) * 1000 + int(ms)
    )


def clean_cue_text(text: str) -> str:
    """Markup tags (``<i>``, ``<c.class>``, inline ``<00:01.000>``
    karaoke timestamps) stripped, character references decoded,
    horizontal whitespace collapsed; line structure preserved."""
    from bigdata_invoice_stream_analysis_spark.operators.warc import (
        decode_entities,
    )

    lines = [
        _WS_RE.sub(" ", decode_entities(_MARKUP_RE.sub("", ln))).strip()
        for ln in text.split("\n")
    ]
    return "\n".join(ln for ln in lines if ln)


def parse_srt(text: str) -> list[dict]:
    """SubRip: blocks separated by blank lines — optional numeric
    index, the timing arrow, payload lines. Returns
    ``[{start_ms, end_ms, settings: None, raw, text}]``. Malformed
    timing lines raise (a corrupt sidecar should be visible)."""
    cues = []
    text = text.replace("\r\n", "\n").replace("\r", "\n")
    for block in re.split(r"\n\s*\n", text.strip()):
        lines = [ln for ln in block.split("\n")]
        if not lines or not any(ln.strip() for ln in lines):
            continue
        i = 0
        if lines[0].strip().isdigit():
            i = 1
        if i >= len(lines):
            raise ValueError(f"SRT block without timing line: {block[:40]!r}")
        m = _SRT_ARROW.match(lines[i].strip())
        if not m:
            raise ValueError(f"bad SRT timing line: {lines[i][:60]!r}")
        raw = "\n".join(lines[i + 1 :])
        cues.append({
            "start_ms": _ms(*m.groups()[0:4]),
            "end_ms": _ms(*m.groups()[4:8]),
            "settings": None,
            "raw": raw,
            "text": clean_cue_text(raw),
        })
    return cues


def parse_vtt(text: str) -> list[dict]:
    """WebVTT §6: ``WEBVTT`` magic (with optional trailing header
    text), header metadata until the first blank line, then cue /
    NOTE / STYLE / REGION blocks. Cue identifiers (any non-arrow
    first line) are tolerated and dropped; cue settings after the
    arrow are kept verbatim in ``settings``."""
    # WebVTT §4: CRLF, LF and bare CR are all valid line terminators.
    text = text.replace("\r\n", "\n").replace("\r", "\n").lstrip("﻿")
    if not text.startswith("WEBVTT"):
        raise ValueError("missing WEBVTT magic")
    blocks = re.split(r"\n\s*\n", text.strip())
    cues = []
    for block in blocks[1:] if blocks else []:
        lines = block.split("\n")
        if not lines or lines[0].split(" ", 1)[0] in (
            "NOTE", "STYLE", "REGION",
        ):
            continue
        i = 0
        if "-->" not in lines[0]:
            i = 1  # cue identifier line
            if i >= len(lines) or "-->" not in lines[i]:
                raise ValueError(
                    f"VTT block without timing line: {block[:40]!r}"
                )
        m = _VTT_ARROW.match(lines[i].strip())
        if not m:
            raise ValueError(f"bad VTT timing line: {lines[i][:60]!r}")
        raw = "\n".join(lines[i + 1 :])
        cues.append({
            "start_ms": _ms(*m.groups()[0:4]),
            "end_ms": _ms(*m.groups()[4:8]),
            "settings": m.group(9),
            "raw": raw,
            "text": clean_cue_text(raw),
        })
    return cues


def parse_subtitles(text: str) -> tuple[str, list[dict]]:
    """Sniff the format and parse: ('vtt'|'srt', cues)."""
    if text.lstrip("﻿").startswith("WEBVTT"):
        return "vtt", parse_vtt(text)
    return "srt", parse_srt(text)


def subtitle_cues(media):
    """Explode (media_id, payload) subtitle documents into one row per
    cue — (format, cue_idx, start_ms, end_ms, duration_ms, settings,
    text, n_chars) — inside Arrow mapInPandas. The output joins
    against the demuxers' frame/keyframe indexes on
    ``media_id × time`` to build aligned video-text training pairs;
    payloads are decoded as UTF-8 with replacement (sidecars are
    charset chaos in real corpora)."""
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("format", T.StringType(), False),
        T.StructField("cue_idx", T.IntegerType(), False),
        T.StructField("start_ms", T.LongType(), False),
        T.StructField("end_ms", T.LongType(), False),
        T.StructField("duration_ms", T.LongType(), False),
        T.StructField("settings", T.StringType(), True),
        T.StructField("text", T.StringType(), False),
        T.StructField("n_chars", T.IntegerType(), False),
    ])

    def batches(it):
        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.subtitles import (
            parse_subtitles,
        )

        cols = [f.name for f in out_schema.fields]
        for pdf in it:
            out = {k: [] for k in cols}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                fmt, cues = parse_subtitles(
                    bytes(p).decode("utf-8", "replace")
                )
                for i, cue in enumerate(cues):
                    out["media_id"].append(mid)
                    out["format"].append(fmt)
                    out["cue_idx"].append(i)
                    out["start_ms"].append(cue["start_ms"])
                    out["end_ms"].append(cue["end_ms"])
                    out["duration_ms"].append(
                        cue["end_ms"] - cue["start_ms"]
                    )
                    out["settings"].append(cue["settings"])
                    out["text"].append(cue["text"])
                    out["n_chars"].append(len(cue["text"]))
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, schema=out_schema)
