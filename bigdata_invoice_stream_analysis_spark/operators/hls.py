"""HLS playlist (M3U8) parsing — the manifest layer above the
MPEG-TS/fMP4 segments a scraped-streaming corpus contains: a crawl
that lands index.m3u8 files needs the manifest walked before any
segment bytes are fetched or triaged.

Built against the public spec (RFC 8216):

* §4.2 attribute lists: comma-separated NAME=VALUE pairs where
  values are quoted-strings (commas legal inside), hex, decimal,
  decimal-resolution (WxH) or enums — a real tokenizer, not a
  comma split.
* §4.3.2 media-segment tags: EXTINF durations (+ optional title),
  EXT-X-BYTERANGE (n[@o] sub-range segments), EXT-X-KEY (METHOD
  NONE/AES-128/SAMPLE-AES — the encryption state machine applies to
  all FOLLOWING segments), EXT-X-MAP (init segment for fMP4 media),
  EXT-X-DISCONTINUITY.
* §4.3.3 media-playlist tags: EXT-X-TARGETDURATION,
  EXT-X-MEDIA-SEQUENCE, EXT-X-PLAYLIST-TYPE, EXT-X-ENDLIST (its
  absence means a LIVE playlist — a corpus signal: the capture is a
  moving window, not a complete asset).
* §4.3.4 master-playlist tags: EXT-X-STREAM-INF (BANDWIDTH required,
  RESOLUTION/CODECS/FRAME-RATE optional; the URI is the NEXT line),
  EXT-X-MEDIA renditions, EXT-X-I-FRAME-STREAM-INF (URI in the
  attribute list, no following line).
* §4.1: mixing media-segment and master tags in one playlist is an
  error; a playlist not starting with #EXTM3U is not a playlist.

Segment/variant URIs resolve against the manifest's own URL through
the SAME strict RFC 3986 §5.2.2 transform the WARC link graph uses
(operators/warc.resolve_url) — one URL algebra across the web
surface.

Malformed structure (dangling EXTINF, STREAM-INF without a URI,
missing BANDWIDTH, bad RESOLUTION) raises ValueError per the module
contract; triage turns that into a quarantine row.

Scale posture: manifests are small text; the parse is line-at-a-time
string work inside Arrow mapInPandas. The output's (uri, kind) rows
are exactly what feeds a frontier join against already-crawled
segment URLs — shuffle-free until that downstream join.

Reference: n/a (extension surface).
"""

from __future__ import annotations

_ATTR_ENUM_CHARS = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
    "0123456789-_.x@/:+")


def parse_attribute_list(s: str) -> dict[str, str]:
    """RFC 8216 §4.2 attribute list → {NAME: raw value} (quotes
    stripped from quoted-strings; commas inside quotes preserved)."""
    attrs: dict[str, str] = {}
    i, n = 0, len(s)
    while i < n:
        eq = s.find("=", i)
        if eq < 0:
            raise ValueError(f"m3u8: attribute without '=': {s[i:i+40]!r}")
        name = s[i:eq].strip()
        if not name:
            raise ValueError("m3u8: empty attribute name")
        i = eq + 1
        if i < n and s[i] == '"':
            j = s.find('"', i + 1)
            if j < 0:
                raise ValueError("m3u8: unterminated quoted-string")
            attrs[name.upper()] = s[i + 1:j]
            i = j + 1
            if i < n:
                if s[i] != ",":
                    raise ValueError("m3u8: junk after quoted-string")
                i += 1
        else:
            j = s.find(",", i)
            if j < 0:
                j = n
            attrs[name.upper()] = s[i:j].strip()
            i = j + 1
    return attrs


def _resolution(v: str) -> tuple[int, int]:
    w, sep, h = v.lower().partition("x")
    if not sep or not w.isdigit() or not h.isdigit():
        raise ValueError(f"m3u8: bad RESOLUTION {v!r}")
    return int(w), int(h)


def parse_m3u8(text: str, base_url: str | None = None) -> dict:
    """Parse an HLS playlist into one audit structure:

    ``{kind: 'media'|'master', version, segments: [{uri, duration_ms,
    title, byterange, discontinuity, key_method, map_uri}],
    target_duration_ms, media_sequence, playlist_type, ended,
    encrypted, total_duration_ms, variants: [{uri, bandwidth,
    average_bandwidth, width, height, codecs, frame_rate, audio,
    iframe_only}], renditions: [{type, group_id, name, uri,
    language, default}]}``

    With ``base_url``, every uri column is resolved absolute through
    operators/warc.resolve_url (strict RFC 3986).
    """
    from bigdata_invoice_stream_analysis_spark.operators.warc import (
        resolve_url,
    )

    def absolutize(u: str | None) -> str | None:
        if u is None or base_url is None:
            return u
        return resolve_url(base_url, u) or u

    lines = text.lstrip("\ufeff").splitlines()
    if not lines or lines[0].strip() != "#EXTM3U":
        raise ValueError("m3u8: missing #EXTM3U header")
    version = 1
    segments: list[dict] = []
    variants: list[dict] = []
    renditions: list[dict] = []
    target_duration_ms: int | None = None
    media_sequence = 0
    playlist_type: str | None = None
    ended = False
    key_method = "NONE"
    map_uri: str | None = None
    pending_inf: dict | None = None
    pending_variant: dict | None = None
    pending_byterange: str | None = None
    pending_discontinuity = False

    for raw in lines[1:]:
        line = raw.strip()
        if not line:
            continue
        if line.startswith("#"):
            if not line.startswith("#EXT"):
                continue  # §4.1: comment
            tag, _, val = line.partition(":")
            if pending_variant is not None and tag != "#EXT-X-ENDLIST":
                raise ValueError(
                    "m3u8: EXT-X-STREAM-INF not followed by a URI")
            if tag == "#EXT-X-VERSION":
                version = int(val)
            elif tag == "#EXTINF":
                dur, _, title = val.partition(",")
                pending_inf = {
                    "duration_ms": int(round(float(dur) * 1000)),
                    "title": title.strip() or None,
                }
            elif tag == "#EXT-X-BYTERANGE":
                pending_byterange = val.strip()
            elif tag == "#EXT-X-DISCONTINUITY":
                pending_discontinuity = True
            elif tag == "#EXT-X-KEY":
                attrs = parse_attribute_list(val)
                method = attrs.get("METHOD")
                if method is None:
                    raise ValueError("m3u8: EXT-X-KEY without METHOD")
                key_method = method
            elif tag == "#EXT-X-MAP":
                attrs = parse_attribute_list(val)
                if "URI" not in attrs:
                    raise ValueError("m3u8: EXT-X-MAP without URI")
                map_uri = absolutize(attrs["URI"])
            elif tag == "#EXT-X-TARGETDURATION":
                target_duration_ms = int(val) * 1000
            elif tag == "#EXT-X-MEDIA-SEQUENCE":
                media_sequence = int(val)
            elif tag == "#EXT-X-PLAYLIST-TYPE":
                playlist_type = val.strip()
            elif tag == "#EXT-X-ENDLIST":
                ended = True
            elif tag == "#EXT-X-STREAM-INF":
                attrs = parse_attribute_list(val)
                pending_variant = _variant(attrs, iframe=False)
            elif tag == "#EXT-X-I-FRAME-STREAM-INF":
                attrs = parse_attribute_list(val)
                v = _variant(attrs, iframe=True)
                if "URI" not in attrs:
                    raise ValueError(
                        "m3u8: I-FRAME-STREAM-INF without URI")
                v["uri"] = absolutize(attrs["URI"])
                variants.append(v)
            elif tag == "#EXT-X-MEDIA":
                attrs = parse_attribute_list(val)
                if "TYPE" not in attrs or "GROUP-ID" not in attrs:
                    raise ValueError(
                        "m3u8: EXT-X-MEDIA needs TYPE and GROUP-ID")
                renditions.append({
                    "type": attrs["TYPE"],
                    "group_id": attrs["GROUP-ID"],
                    "name": attrs.get("NAME"),
                    "uri": absolutize(attrs.get("URI")),
                    "language": attrs.get("LANGUAGE"),
                    "default": attrs.get("DEFAULT") == "YES",
                })
            continue
        # a URI line: closes a pending EXTINF or STREAM-INF
        if pending_variant is not None:
            pending_variant["uri"] = absolutize(line)
            variants.append(pending_variant)
            pending_variant = None
        elif pending_inf is not None:
            segments.append({
                "uri": absolutize(line),
                "duration_ms": pending_inf["duration_ms"],
                "title": pending_inf["title"],
                "byterange": pending_byterange,
                "discontinuity": pending_discontinuity,
                "key_method": key_method,
                "map_uri": map_uri,
            })
            pending_inf = None
            pending_byterange = None
            pending_discontinuity = False
        else:
            raise ValueError(
                f"m3u8: URI line without EXTINF/STREAM-INF: {line[:60]!r}")
    if pending_inf is not None:
        raise ValueError("m3u8: dangling EXTINF at end of playlist")
    if pending_variant is not None:
        raise ValueError("m3u8: dangling EXT-X-STREAM-INF")
    if segments and (variants or renditions):
        raise ValueError("m3u8: mixed media and master playlist tags")
    kind = "master" if variants or renditions else "media"
    return {
        "kind": kind,
        "version": version,
        "segments": segments,
        "target_duration_ms": target_duration_ms,
        "media_sequence": media_sequence,
        "playlist_type": playlist_type,
        "ended": ended,
        "encrypted": any(
            s["key_method"] != "NONE" for s in segments),
        "total_duration_ms": sum(
            s["duration_ms"] for s in segments),
        "variants": variants,
        "renditions": renditions,
    }


def _variant(attrs: dict[str, str], *, iframe: bool) -> dict:
    if "BANDWIDTH" not in attrs:
        raise ValueError("m3u8: STREAM-INF without BANDWIDTH")
    width = height = None
    if "RESOLUTION" in attrs:
        width, height = _resolution(attrs["RESOLUTION"])
    return {
        "uri": None,
        "bandwidth": int(attrs["BANDWIDTH"]),
        "average_bandwidth": (
            int(attrs["AVERAGE-BANDWIDTH"])
            if "AVERAGE-BANDWIDTH" in attrs else None),
        "width": width,
        "height": height,
        "codecs": attrs.get("CODECS"),
        "frame_rate": (
            float(attrs["FRAME-RATE"])
            if "FRAME-RATE" in attrs else None),
        "audio": attrs.get("AUDIO"),
        "iframe_only": iframe,
    }


def hls_segments(files):
    """(file_id, text, url) → ONE row per media segment: sequence
    number (EXT-X-MEDIA-SEQUENCE + position), absolute uri, declared
    EXTINF duration, key method, byterange and init-segment pointer
    — the frontier feed that joins against fetched segment bytes.
    Master playlists contribute zero rows (their variants are
    playlist refs, not segments); parse failures quarantine as a
    single seq=-1 row so the file stays visible downstream."""
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("file_id", T.LongType(), False),
        T.StructField("seq", T.IntegerType(), False),
        T.StructField("uri", T.StringType(), True),
        T.StructField("declared_ms", T.LongType(), True),
        T.StructField("key_method", T.StringType(), True),
        T.StructField("byterange", T.StringType(), True),
        T.StructField("map_uri", T.StringType(), True),
        T.StructField("discontinuity", T.BooleanType(), True),
        T.StructField("error", T.StringType(), True),
    ])
    cols = [f.name for f in out_schema.fields]

    def batches(it):
        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.hls import (
            parse_m3u8,
        )
        from bigdata_invoice_stream_analysis_spark.operators.memo import (
            BoundedMemo,
            text_key,
        )

        # Bounded digest-keyed memo (operators/memo.py): retains only
        # digest keys + parsed dicts, never the manifest text; capped
        # so high-cardinality corpora cannot grow it unbounded.
        memo = BoundedMemo()
        for pdf in it:
            out = {k: [] for k in cols}

            def emit(fid, seq, **kw):
                row = dict.fromkeys(cols)
                row["file_id"] = fid
                row["seq"] = seq
                row.update(kw)
                for k in cols:
                    out[k].append(row[k])

            urls = (pdf["url"] if "url" in pdf.columns
                    else [None] * len(pdf))
            for fid, text, url in zip(pdf["file_id"], pdf["text"],
                                      urls):
                try:
                    # Parse each DISTINCT (text, base_url) once per
                    # task (guide §8): manifests recur across rows
                    # (CDN re-crawls, codebooked fixtures) and the
                    # parse is a pure function of both inputs. Task-
                    # closure scope only; failures are not memoized.
                    mk = text_key(text, url)
                    m = memo.get(mk)
                    if m is None:
                        m = memo.put(mk, parse_m3u8(text, base_url=url))
                except (ValueError, OverflowError) as exc:
                    emit(fid, -1, error=str(exc)[:120])
                    continue
                for i, s in enumerate(m["segments"]):
                    emit(fid, m["media_sequence"] + i,
                         uri=s["uri"], declared_ms=s["duration_ms"],
                         key_method=s["key_method"],
                         byterange=s["byterange"],
                         map_uri=s["map_uri"],
                         discontinuity=s["discontinuity"])
            yield pd.DataFrame(out)

    return files.mapInPandas(batches, schema=out_schema)
