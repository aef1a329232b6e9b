"""EBML / Matroska / WebM demux from first principles.

The OTHER container a scraped-video corpus carries at volume: WebM
(VP8/VP9/AV1 + Vorbis/Opus) is Matroska (RFC 9559) restricted to a
codec subset, and Matroska is an EBML document (RFC 8794). Everything
here is implemented directly against those two public RFCs — no
library, same discipline as the ISO-BMFF work in operators/mp4.py:

* EBML variable-length integers (RFC 8794 §4): element IDs keep their
  length-marker bit, data sizes strip it; the all-ones size pattern
  means "unknown size" (streamed clusters).
* Element walk: EBML header (DocType), Segment → Info (TimestampScale,
  Duration), Tracks → TrackEntry (number, type, CodecID, Video
  PixelWidth/PixelHeight, Audio SamplingFrequency/Channels), Cluster →
  Timestamp + SimpleBlock (track vint, s16 relative timestamp, flags —
  the keyframe bit lives in the block, not an index).
* A fixture encoder (``encode_minimal_webm``) producing deterministic
  WebM files the closed-form oracles and tests recompute byte-for-byte.

Scale posture: identical to MP4 — metadata lives at known element
paths, parsing is one map-side pass inside Arrow mapInPandas, frame
payloads never visit the driver. The honest decode boundary also
matches mp4.py: VP8/VP9/AV1 frame DATA needs a codec library; track
metadata, frame geometry claims, timestamps and keyframe structure are
pure container bytes and are fully parsed here.

Reference: n/a (extension surface).
"""

from __future__ import annotations

import io
import struct

# Element IDs (RFC 9559 §5 / Matroska registry), as read (marker kept).
EBML_HEADER = 0x1A45DFA3
EBML_DOCTYPE = 0x4282
EBML_DOCTYPE_VERSION = 0x4287
EBML_VERSION = 0x4286
EBML_READ_VERSION = 0x42F7
EBML_DOCTYPE_READ_VERSION = 0x4285
EBML_MAXIDLENGTH = 0x42F2
EBML_MAXSIZELENGTH = 0x42F3
SEGMENT = 0x18538067
SEEK_HEAD = 0x114D9B74
INFO = 0x1549A966
TIMESTAMP_SCALE = 0x2AD7B1
DURATION = 0x4489
MUXING_APP = 0x4D80
WRITING_APP = 0x5741
TRACKS = 0x1654AE6B
TRACK_ENTRY = 0xAE
TRACK_NUMBER = 0xD7
TRACK_UID = 0x73C5
TRACK_TYPE = 0x83
CODEC_ID = 0x86
CODEC_PRIVATE = 0x63A2
DEFAULT_DURATION = 0x23E383
VIDEO = 0xE0
PIXEL_WIDTH = 0xB0
PIXEL_HEIGHT = 0xBA
AUDIO = 0xE1
SAMPLING_FREQUENCY = 0xB5
CHANNELS = 0x9F
BIT_DEPTH = 0x6264
CLUSTER = 0x1F43B675
CLUSTER_TIMESTAMP = 0xE7
SIMPLE_BLOCK = 0xA3

TRACK_TYPE_VIDEO = 1
TRACK_TYPE_AUDIO = 2

_SIMPLE_BLOCK_KEYFRAME = 0x80


# ---------------------------------------------------------------------------
# EBML varints (RFC 8794 §4)
# ---------------------------------------------------------------------------


def read_vint(data: bytes, pos: int, *, keep_marker: bool) -> tuple[int, int]:
    """Read one EBML variable-length integer at ``pos``. Element IDs
    are read with ``keep_marker=True`` (the ID value includes its
    length descriptor, matching the registry constants above); data
    sizes with ``keep_marker=False``. Returns (value, new_pos)."""
    if pos >= len(data):
        raise ValueError("EBML vint past end of data")
    first = data[pos]
    if first == 0:
        raise ValueError("invalid EBML vint leading byte 0x00")
    length = 9 - first.bit_length()  # leading zeros + 1
    if pos + length > len(data):
        raise ValueError("truncated EBML vint")
    value = first if keep_marker else first & (0xFF >> length)
    for i in range(1, length):
        value = (value << 8) | data[pos + i]
    return value, pos + length


def vint_is_unknown_size(value: int, length: int) -> bool:
    """RFC 8794 §4.2: a data size with all value bits set means
    'unknown size' (live-streamed Segments/Clusters)."""
    return value == (1 << (7 * length)) - 1


def encode_vint(value: int, *, min_length: int = 1) -> bytes:
    """Encode a data-size vint (marker added here)."""
    for length in range(min_length, 9):
        if value < (1 << (7 * length)) - 1:  # all-ones reserved
            out = value | (1 << (7 * length))
            return out.to_bytes(length, "big")
    raise ValueError(f"vint out of range: {value}")


def encode_element_id(eid: int) -> bytes:
    """Element IDs are stored exactly as registered (marker included)."""
    return eid.to_bytes((eid.bit_length() + 7) // 8, "big")


# ---------------------------------------------------------------------------
# Element primitives
# ---------------------------------------------------------------------------


def walk_elements(data: bytes, start: int, end: int):
    """Yield (element_id, body_start, body_end) for each child element
    in data[start:end]. Unknown-size elements are only legal for the
    terminal element of a scan range (RFC 8794 §6.2) — their body runs
    to the range end."""
    pos = start
    while pos < end:
        eid, p = read_vint(data, pos, keep_marker=True)
        size_first = data[p] if p < len(data) else 0
        size_len = 9 - size_first.bit_length() if size_first else 1
        size, p = read_vint(data, p, keep_marker=False)
        if vint_is_unknown_size(size, size_len):
            yield eid, p, end
            return
        if p + size > end:
            raise ValueError(
                f"EBML element 0x{eid:X} overruns its parent"
            )
        yield eid, p, p + size
        pos = p + size


def _find(data: bytes, start: int, end: int, eid: int):
    for found, s, e in walk_elements(data, start, end):
        if found == eid:
            return s, e
    return None


def _uint(data: bytes, s: int, e: int) -> int:
    v = 0
    for i in range(s, e):
        v = (v << 8) | data[i]
    return v


def _float(data: bytes, s: int, e: int) -> float:
    if e - s == 4:
        return struct.unpack(">f", data[s:e])[0]
    if e - s == 8:
        return struct.unpack(">d", data[s:e])[0]
    if e == s:
        return 0.0
    raise ValueError(f"EBML float must be 0/4/8 bytes, got {e - s}")


def _string(data: bytes, s: int, e: int) -> str:
    return data[s:e].split(b"\x00", 1)[0].decode("utf-8")


def _uint_element(eid: int, value: int) -> bytes:
    body = value.to_bytes(max(1, (value.bit_length() + 7) // 8), "big")
    return encode_element_id(eid) + encode_vint(len(body)) + body


def _float_element(eid: int, value: float) -> bytes:
    body = struct.pack(">d", value)
    return encode_element_id(eid) + encode_vint(len(body)) + body


def _str_element(eid: int, value: str) -> bytes:
    body = value.encode("utf-8")
    return encode_element_id(eid) + encode_vint(len(body)) + body


def _bin_element(eid: int, body: bytes) -> bytes:
    return encode_element_id(eid) + encode_vint(len(body)) + body


def _master(eid: int, *children: bytes) -> bytes:
    body = b"".join(children)
    return encode_element_id(eid) + encode_vint(len(body)) + body


# ---------------------------------------------------------------------------
# Matroska/WebM parse
# ---------------------------------------------------------------------------


def parse_webm(payload: bytes) -> dict:
    """Parse a Matroska/WebM file into
    ``{doctype, timestamp_scale, duration_ms, tracks: [...],
    blocks: [...]}``.

    ``tracks``: one dict per TrackEntry — number, type ('video' /
    'audio' / other int), codec_id, and the type-specific geometry
    (width/height or sample_rate/channels).
    ``blocks``: one dict per SimpleBlock — track, pts_ms (cluster
    timestamp + s16 relative, scaled by TimestampScale), keyframe,
    size (frame payload bytes after the block header).

    Strictness matches mp4.parse_mp4: malformed structure raises
    ValueError; unknown elements are skipped by size (EBML's core
    forward-compat property)."""
    header = _find(payload, 0, len(payload), EBML_HEADER)
    if header is None:
        raise ValueError("not an EBML document (missing header)")
    doctype = "matroska"  # RFC 9559 §4.4: absent DocType default
    for eid, s, e in walk_elements(payload, *header):
        if eid == EBML_DOCTYPE:
            doctype = _string(payload, s, e)
    segment = _find(payload, header[1], len(payload), SEGMENT)
    if segment is None:
        raise ValueError("missing Segment element")
    seg_s, seg_e = segment

    timestamp_scale = 1_000_000  # ns per tick; RFC 9559 default
    duration_ticks = 0.0
    tracks: list[dict] = []
    blocks: list[dict] = []

    # Info-before-Cluster is only a SHOULD (RFC 9559 §6): collect raw
    # block ticks during the walk and scale to ms AFTER it, when the
    # file's actual TimestampScale is known wherever Info appeared.
    raw_blocks: list[tuple[dict, int]] = []
    for eid, s, e in walk_elements(payload, seg_s, seg_e):
        if eid == INFO:
            for ieid, is_, ie in walk_elements(payload, s, e):
                if ieid == TIMESTAMP_SCALE:
                    timestamp_scale = _uint(payload, is_, ie)
                elif ieid == DURATION:
                    duration_ticks = _float(payload, is_, ie)
        elif eid == TRACKS:
            for teid, ts, te in walk_elements(payload, s, e):
                if teid == TRACK_ENTRY:
                    tracks.append(_parse_track_entry(payload, ts, te))
        elif eid == CLUSTER:
            cluster_ts = 0
            for ceid, cs, ce in walk_elements(payload, s, e):
                if ceid == CLUSTER_TIMESTAMP:
                    cluster_ts = _uint(payload, cs, ce)
                elif ceid == SIMPLE_BLOCK:
                    raw_blocks.extend(
                        _parse_simple_block(payload, cs, ce, cluster_ts)
                    )
    for block, ticks in raw_blocks:
        block["pts_ms"] = ticks * timestamp_scale // 1_000_000
        blocks.append(block)

    return {
        "doctype": doctype,
        "timestamp_scale": timestamp_scale,
        "duration_ms": int(
            round(duration_ticks * timestamp_scale / 1_000_000)
        ),
        "tracks": tracks,
        "blocks": blocks,
    }


def _parse_track_entry(data: bytes, s: int, e: int) -> dict:
    track = {
        "number": None, "type": None, "codec_id": None,
        "width": None, "height": None,
        "sample_rate": None, "channels": None,
    }
    for eid, cs, ce in walk_elements(data, s, e):
        if eid == TRACK_NUMBER:
            track["number"] = _uint(data, cs, ce)
        elif eid == TRACK_TYPE:
            t = _uint(data, cs, ce)
            track["type"] = {
                TRACK_TYPE_VIDEO: "video", TRACK_TYPE_AUDIO: "audio",
            }.get(t, str(t))
        elif eid == CODEC_ID:
            track["codec_id"] = _string(data, cs, ce)
        elif eid == VIDEO:
            for veid, vs, ve in walk_elements(data, cs, ce):
                if veid == PIXEL_WIDTH:
                    track["width"] = _uint(data, vs, ve)
                elif veid == PIXEL_HEIGHT:
                    track["height"] = _uint(data, vs, ve)
        elif eid == AUDIO:
            for aeid, as_, ae in walk_elements(data, cs, ce):
                if aeid == SAMPLING_FREQUENCY:
                    track["sample_rate"] = int(_float(data, as_, ae))
                elif aeid == CHANNELS:
                    track["channels"] = _uint(data, as_, ae)
    if track["number"] is None or track["type"] is None:
        raise ValueError("TrackEntry missing TrackNumber/TrackType")
    return track


def _parse_simple_block(
    data: bytes, s: int, e: int, cluster_ts: int
) -> list[tuple[dict, int]]:
    """RFC 9559 §10.2: track vint, s16 relative timestamp (ticks),
    flags byte, then the frame payload — possibly LACED (§10.4: one
    block carrying several frames, routine for Vorbis/Opus audio in
    real-world WebM, so it must parse rather than quarantine the file
    — ADVICE r7). Returns one (block-without-pts, absolute ticks)
    tuple per FRAME; laced frames share the block's timestamp and
    keyframe flag (Matroska has no per-lace timing). The caller scales
    ticks to ms once the file's TimestampScale is finally known."""
    track, p = read_vint(data, s, keep_marker=False)
    if p + 3 > e:
        raise ValueError("truncated SimpleBlock header")
    rel = struct.unpack(">h", data[p : p + 2])[0]
    flags = data[p + 2]
    p += 3
    keyframe = bool(flags & _SIMPLE_BLOCK_KEYFRAME)
    lacing = (flags >> 1) & 0x3  # 0=none, 1=Xiph, 2=fixed, 3=EBML
    if lacing == 0:
        sizes = [e - p]
    else:
        if p >= e:
            raise ValueError("laced SimpleBlock missing frame count")
        n_frames = data[p] + 1
        p += 1
        sizes, p = _lace_sizes(data, p, e, n_frames, lacing)
    out = []
    ticks = cluster_ts + rel
    for size in sizes:
        out.append((
            {"track": track, "keyframe": keyframe, "size": size},
            ticks,
        ))
    return out


def _lace_sizes(
    data: bytes, p: int, e: int, n_frames: int, lacing: int
) -> tuple[list[int], int]:
    """Decode a lace-size header (RFC 9559 §10.4) starting at ``p``:
    Xiph (1) — each size but the last as 255-run bytes; fixed (2) —
    the remaining payload split evenly; EBML (3) — first size as an
    unsigned vint, the rest as signed-vint deltas. Returns (sizes,
    payload_start); sizes that don't fit the block raise."""
    sizes: list[int] = []
    if lacing == 1:  # Xiph
        for _ in range(n_frames - 1):
            size = 0
            while True:
                if p >= e:
                    raise ValueError("truncated Xiph lace sizes")
                size += data[p]
                stop = data[p] < 255
                p += 1
                if stop:
                    break
            sizes.append(size)
    elif lacing == 2:  # fixed-size
        remaining = e - p
        if n_frames <= 0 or remaining % n_frames:
            raise ValueError(
                f"fixed lacing: {remaining} bytes not divisible by "
                f"{n_frames} frames"
            )
        return [remaining // n_frames] * n_frames, p
    else:  # EBML
        size, p = read_vint(data, p, keep_marker=False)
        sizes.append(size)
        for _ in range(n_frames - 2):
            first = data[p] if p < len(data) else 0
            length = 9 - first.bit_length() if first else 1
            delta, p = read_vint(data, p, keep_marker=False)
            # signed vint: stored value minus the range midpoint
            size += delta - ((1 << (7 * length - 1)) - 1)
            if size < 0:
                raise ValueError("EBML lace size went negative")
            sizes.append(size)
    last = (e - p) - sum(sizes)
    if last < 0:
        raise ValueError("lace sizes overrun SimpleBlock payload")
    sizes.append(last)
    if len(sizes) != n_frames:
        raise ValueError("lace frame count mismatch")
    return sizes, p


# ---------------------------------------------------------------------------
# Fixture encoder
# ---------------------------------------------------------------------------


def encode_laced_simple_block(
    track: int,
    rel_ticks: int,
    frame_payloads: list[bytes],
    *,
    lacing: int = 1,
    keyframe: bool = True,
) -> bytes:
    """One laced SimpleBlock element (RFC 9559 §10.4) for fixtures:
    ``lacing`` 1=Xiph, 2=fixed-size (all payloads must be equal
    length), 3=EBML. The graded WebM codebook uses this for the
    Vorbis/Opus-style laced audio blocks real corpora contain."""
    if not frame_payloads:
        raise ValueError("laced block needs at least one frame")
    flags = (_SIMPLE_BLOCK_KEYFRAME if keyframe else 0) | (lacing << 1)
    head = (
        encode_vint(track)
        + struct.pack(">h", rel_ticks)
        + bytes([flags, len(frame_payloads) - 1])
    )
    sizes = b""
    if lacing == 1:
        for f in frame_payloads[:-1]:
            n = len(f)
            sizes += b"\xff" * (n // 255) + bytes([n % 255])
    elif lacing == 2:
        if len({len(f) for f in frame_payloads}) != 1:
            raise ValueError("fixed lacing needs equal frame sizes")
    elif lacing == 3:
        sizes += encode_vint(len(frame_payloads[0]))
        prev = len(frame_payloads[0])
        for f in frame_payloads[1:-1]:
            delta = len(f) - prev
            prev = len(f)
            for length in range(1, 9):
                stored = delta + (1 << (7 * length - 1)) - 1
                if 0 <= stored < (1 << (7 * length)) - 1:
                    sizes += encode_vint(stored, min_length=length)
                    break
            else:
                raise ValueError(f"EBML lace delta {delta} out of range")
    else:
        raise ValueError(f"bad lacing mode {lacing}")
    return _bin_element(
        SIMPLE_BLOCK, head + sizes + b"".join(frame_payloads)
    )


def encode_minimal_webm(
    video_frames: list[tuple[int, bool, int]] | None = None,
    *,
    codec_id: str = "V_VP9",
    width: int = 640,
    height: int = 360,
    audio: tuple[str, int, int] | None = None,
    audio_frames: list[tuple[int, list[int]]] | None = None,
    audio_lacing: int = 1,
    timestamp_scale: int = 1_000_000,
    duration_ms: float | None = None,
    cluster_every_ms: int = 1000,
    doctype: str = "webm",
) -> bytes:
    """A minimal, deterministic WebM: EBML header, one Segment with
    Info + Tracks (+ optional audio track) and Clusters split every
    ``cluster_every_ms``. ``video_frames`` is a list of
    (pts_ms, keyframe, payload_len); payload bytes are a deterministic
    (0x50 + i) fill so oracles can recompute sizes. ``audio_frames``
    (requires ``audio``) is a list of (pts_ms, [frame sizes]) — each
    entry becomes one LACED SimpleBlock on track 2 (lacing mode
    ``audio_lacing``, payload fill 0xA0 + j), the shape real
    Vorbis/Opus muxing produces."""
    video_frames = video_frames if video_frames is not None else []
    ebml = _master(
        EBML_HEADER,
        _uint_element(EBML_VERSION, 1),
        _uint_element(EBML_READ_VERSION, 1),
        _uint_element(EBML_MAXIDLENGTH, 4),
        _uint_element(EBML_MAXSIZELENGTH, 8),
        _str_element(EBML_DOCTYPE, doctype),
        _uint_element(EBML_DOCTYPE_VERSION, 4),
        _uint_element(EBML_DOCTYPE_READ_VERSION, 2),
    )
    if duration_ms is None:
        duration_ms = float(
            max((p for p, _, _ in video_frames), default=0)
        )
    info = _master(
        INFO,
        _uint_element(TIMESTAMP_SCALE, timestamp_scale),
        _float_element(
            DURATION, duration_ms * 1_000_000 / timestamp_scale
        ),
        _str_element(MUXING_APP, "bigdata-invoice-stream-analysis-spark"),
        _str_element(WRITING_APP, "bigdata-invoice-stream-analysis-spark"),
    )
    track_entries = [
        _master(
            TRACK_ENTRY,
            _uint_element(TRACK_NUMBER, 1),
            _uint_element(TRACK_UID, 1),
            _uint_element(TRACK_TYPE, TRACK_TYPE_VIDEO),
            _str_element(CODEC_ID, codec_id),
            _master(
                VIDEO,
                _uint_element(PIXEL_WIDTH, width),
                _uint_element(PIXEL_HEIGHT, height),
            ),
        )
    ]
    if audio is not None:
        a_codec, a_rate, a_channels = audio
        track_entries.append(
            _master(
                TRACK_ENTRY,
                _uint_element(TRACK_NUMBER, 2),
                _uint_element(TRACK_UID, 2),
                _uint_element(TRACK_TYPE, TRACK_TYPE_AUDIO),
                _str_element(CODEC_ID, a_codec),
                _master(
                    AUDIO,
                    _float_element(SAMPLING_FREQUENCY, float(a_rate)),
                    _uint_element(CHANNELS, a_channels),
                ),
            )
        )
    tracks = _master(TRACKS, *track_entries)

    # Cluster/block timestamps are written in TICKS of TimestampScale
    # (RFC 9559 §7), not ms — the fixture requires exact divisibility
    # so the ms roundtrip through the parser is lossless.
    def ticks(ms: int) -> int:
        t = ms * 1_000_000
        if t % timestamp_scale:
            raise ValueError(
                f"pts {ms} ms not representable at scale {timestamp_scale}"
            )
        return t // timestamp_scale

    clusters = []
    cluster_start = None
    cluster_blocks: list[bytes] = []
    for i, (pts, key, size) in enumerate(video_frames):
        if (
            cluster_start is None
            or pts - cluster_start >= cluster_every_ms
        ):
            if cluster_blocks:
                clusters.append(
                    _master(
                        CLUSTER,
                        _uint_element(
                            CLUSTER_TIMESTAMP, ticks(cluster_start)
                        ),
                        *cluster_blocks,
                    )
                )
            cluster_start = pts
            cluster_blocks = []
        rel = ticks(pts) - ticks(cluster_start)
        if not -0x8000 <= rel <= 0x7FFF:
            raise ValueError(
                f"block offset {rel} ticks exceeds the s16 relative-"
                f"timestamp range; lower cluster_every_ms for scale "
                f"{timestamp_scale}"
            )
        flags = _SIMPLE_BLOCK_KEYFRAME if key else 0
        cluster_blocks.append(
            _bin_element(
                SIMPLE_BLOCK,
                encode_vint(1)  # track 1
                + struct.pack(">h", rel)
                + bytes([flags])
                + bytes([(0x50 + i) & 0xFF]) * size,
            )
        )
    if cluster_blocks:
        clusters.append(
            _master(
                CLUSTER,
                _uint_element(CLUSTER_TIMESTAMP, ticks(cluster_start)),
                *cluster_blocks,
            )
        )
    if audio_frames:
        if audio is None:
            raise ValueError("audio_frames requires an audio track")
        for a_idx, (pts, sizes) in enumerate(audio_frames):
            payloads = [
                bytes([(0xA0 + a_idx + j) & 0xFF]) * sz
                for j, sz in enumerate(sizes)
            ]
            clusters.append(
                _master(
                    CLUSTER,
                    _uint_element(CLUSTER_TIMESTAMP, ticks(pts)),
                    encode_laced_simple_block(
                        2, 0, payloads, lacing=audio_lacing,
                        keyframe=True,
                    ),
                )
            )

    out = io.BytesIO()
    out.write(ebml)
    out.write(_master(SEGMENT, info, tracks, *clusters))
    return out.getvalue()


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------


def webm_track_profile(media):
    """Track-metadata extraction over WebM/Matroska payloads inside
    Arrow mapInPandas — the WebM twin of mp4.codec_profile: one row
    per TRACK (codec identity + geometry/audio params + the file-level
    duration and the track's block/keyframe counts), the projection a
    mixed-container corpus filters on before any decode. Payloads
    never leave the executors."""
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("doctype", T.StringType(), False),
        T.StructField("track", T.IntegerType(), False),
        T.StructField("track_type", T.StringType(), False),
        T.StructField("codec_id", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), False),
        T.StructField("n_blocks", T.LongType(), False),
        T.StructField("n_keyframes", T.LongType(), False),
    ])

    def batches(it):
        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.ebml import (
            parse_webm,
        )

        cols = [f.name for f in out_schema.fields]
        for pdf in it:
            out = {k: [] for k in cols}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                info = parse_webm(bytes(p))
                per_track: dict[int, list[int]] = {}
                for b in info["blocks"]:
                    agg = per_track.setdefault(b["track"], [0, 0])
                    agg[0] += 1
                    agg[1] += 1 if b["keyframe"] else 0
                for t in info["tracks"]:
                    n, k = per_track.get(t["number"], (0, 0))
                    out["media_id"].append(mid)
                    out["doctype"].append(info["doctype"])
                    out["track"].append(t["number"])
                    out["track_type"].append(t["type"])
                    out["codec_id"].append(t["codec_id"])
                    out["width"].append(t["width"])
                    out["height"].append(t["height"])
                    out["sample_rate"].append(t["sample_rate"])
                    out["channels"].append(t["channels"])
                    out["duration_ms"].append(info["duration_ms"])
                    out["n_blocks"].append(n)
                    out["n_keyframes"].append(k)
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, schema=out_schema)
