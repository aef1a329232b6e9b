"""MPEG audio elementary streams: ADTS (AAC) and MP3 frame headers,
plus ID3v2 skip — the scraped-audio formats that arrive WITHOUT a
container.

A crawled audio corpus is mostly not MP4: podcast feeds and scraped
archives ship raw ``.aac`` (ADTS transport, ISO 14496-3 §1.A.2.2) and
``.mp3`` (MPEG-1/2 audio layer III, ISO 11172-3 / 13818-3 frame
headers, usually prefixed with an ID3v2 tag). The metadata a curation
pipeline filters on — codec, sample rate, channels, duration, bitrate
mode — lives entirely in the fixed-bit frame headers, so it parses at
scan speed with no decoder. Same honest boundary as the video work:
frame PAYLOAD decode (Huffman spectral data) needs a codec library
and stays out of scope; the header walk below is complete.

Scale posture: one Arrow mapInPandas pass (operators/mp4.py sets the
pattern); the per-file work is linear in frame count with zero
allocation per frame beyond the summary counters.

Reference: n/a (extension surface).
"""

from __future__ import annotations

import struct

# ISO 14496-3 §1.6.3.4 samplingFrequencyIndex table — genuinely
# shared with the AudioSpecificConfig parser in operators/mp4.py (one
# definition; a correction there cannot diverge this path).
from bigdata_invoice_stream_analysis_spark.operators.mp4 import (  # noqa: E402
    _ASC_RATES as ADTS_RATES,
)

# ISO 11172-3 / 13818-3 tables for Layer III.
_MP3_BITRATES_V1L3 = [
    0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
]
_MP3_BITRATES_V2L3 = [
    0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160,
]
_MP3_RATES_V1 = [44100, 48000, 32000]


def parse_id3v2_size(data: bytes) -> int:
    """Bytes occupied by a leading ID3v2 tag (0 if absent): 'ID3',
    version u16, flags u8, then a 28-bit SYNCHSAFE size (7 bits per
    byte, high bit zero) that EXCLUDES the 10-byte header itself."""
    if data[:3] != b"ID3" or len(data) < 10:
        return 0
    size = 0
    for b in data[6:10]:
        if b & 0x80:
            raise ValueError("ID3v2 size bytes must be synchsafe")
        size = (size << 7) | b
    # Footer flag adds 10 more bytes after the tag body.
    return 10 + size + (10 if data[5] & 0x10 else 0)


def _is_trailer_tag(data: bytes, pos: int) -> bool:
    """Metadata TRAILERS valid after the last audio frame: the ID3v1
    128-byte 'TAG' block and APEv2 'APETAGEX' tags — both written by
    mainstream encoders, neither part of the frame stream. Called
    once per frame, so it compares slices in place (no tail copy —
    the O(n²) memcpy the review caught)."""
    if data[pos : pos + 3] == b"TAG" and len(data) - pos == 128:
        return True
    return data[pos : pos + 8] == b"APETAGEX"


def parse_adts(data: bytes) -> dict:
    """Walk an ADTS stream: per ISO 14496-3 §1.A.2.2 each frame opens
    with a 12-bit 0xFFF syncword; profile (AOT-1), the sampling
    frequency index, channel configuration and the 13-bit frame length
    (header included) are fixed-position bits in the 7-/9-byte header.
    Returns the stream summary a corpus filter needs: codec string
    (the SAME RFC 6381 ``mp4a.40.A`` form the MP4 path renders),
    rate/channels, frame count, duration, mean bitrate. Raises
    ValueError on sync loss — a corrupted stream should be visible,
    not silently truncated."""
    data = bytes(data)
    pos = parse_id3v2_size(data)  # podcast encoders tag .aac files too
    audio_start = pos
    n_frames = 0
    total_samples = 0
    aot = rate = channels = None
    while pos < len(data):
        if _is_trailer_tag(data, pos):
            break
        if pos + 7 > len(data):
            raise ValueError("truncated ADTS header")
        if data[pos] != 0xFF or (data[pos + 1] & 0xF0) != 0xF0:
            raise ValueError(f"ADTS sync lost at offset {pos}")
        protection_absent = data[pos + 1] & 0x01
        profile = (data[pos + 2] >> 6) & 0x3          # AOT - 1
        freq_idx = (data[pos + 2] >> 2) & 0xF
        chan_cfg = ((data[pos + 2] & 0x1) << 2) | (data[pos + 3] >> 6)
        frame_len = (
            ((data[pos + 3] & 0x03) << 11)
            | (data[pos + 4] << 3)
            | (data[pos + 5] >> 5)
        )
        n_blocks = (data[pos + 6] & 0x03) + 1
        header_len = 7 if protection_absent else 9
        if frame_len < header_len:
            raise ValueError(f"ADTS frame length {frame_len} too small")
        if pos + frame_len > len(data):
            raise ValueError("ADTS frame overruns stream")
        if freq_idx >= len(ADTS_RATES):
            raise ValueError(f"reserved ADTS frequency index {freq_idx}")
        this = (profile + 1, ADTS_RATES[freq_idx], chan_cfg)
        if aot is None:
            aot, rate, channels = this
        elif this != (aot, rate, channels):
            raise ValueError("ADTS stream parameters changed mid-stream")
        n_frames += 1
        total_samples += 1024 * n_blocks
        pos += frame_len
    if n_frames == 0:
        raise ValueError("no ADTS frames")
    duration_ms = total_samples * 1000 // rate
    # Bitrate over the FRAME bytes only — ID3v2 prefixes (album art
    # makes them tens of KB) and ID3v1/APE trailers are metadata, not
    # audio, and must not inflate the rate a corpus filters on.
    audio_bytes = pos - audio_start
    return {
        "container": "adts",
        "codec_string": f"mp4a.40.{aot}",
        "sample_rate": rate,
        "channels": channels,
        "n_frames": n_frames,
        "duration_ms": duration_ms,
        "bitrate_kbps": (
            round(audio_bytes * 8 * rate / (total_samples * 1000), 1)
        ),
    }


def _mp3_frame_params(h: int) -> tuple[int, int, int, int, int]:
    """Decode one 32-bit Layer III header into (version_bits,
    bitrate_kbps, sample_rate, samples_per_frame, frame_bytes)."""
    if (h >> 21) & 0x7FF != 0x7FF:
        raise ValueError("MP3 sync lost")
    version = (h >> 19) & 0x3          # 3=V1, 2=V2, 0=V2.5, 1=reserved
    layer = (h >> 17) & 0x3            # 1 = Layer III
    if version == 1 or layer != 1:
        raise ValueError("not an MPEG Layer III frame")
    bitrate_idx = (h >> 12) & 0xF
    rate_idx = (h >> 10) & 0x3
    padding = (h >> 9) & 0x1
    if bitrate_idx in (0, 0xF) or rate_idx == 3:
        raise ValueError("free-format/reserved MP3 header fields")
    if version == 3:                   # MPEG-1
        bitrate = _MP3_BITRATES_V1L3[bitrate_idx]
        rate = _MP3_RATES_V1[rate_idx]
        samples = 1152
        frame = 144 * bitrate * 1000 // rate + padding
    else:                              # MPEG-2 (2) / MPEG-2.5 (0)
        bitrate = _MP3_BITRATES_V2L3[bitrate_idx]
        rate = _MP3_RATES_V1[rate_idx] // (2 if version == 2 else 4)
        samples = 576
        frame = 72 * bitrate * 1000 // rate + padding
    return version, bitrate, rate, samples, frame


def parse_mp3(data: bytes) -> dict:
    """Walk an MP3 stream (leading ID3v2 tag skipped): version/layer,
    rate/channels from the first frame, frame count and duration from
    the walk, CBR/VBR detection from the per-frame bitrate set. Frame
    PAYLOADS are untouched. Raises ValueError on sync loss."""
    data = bytes(data)
    pos = parse_id3v2_size(data)
    n_frames = 0
    total_samples = 0
    first = None
    bitrates = set()
    bitrate_sum = 0
    stereo = None
    while pos < len(data):
        if _is_trailer_tag(data, pos):
            break
        if pos + 4 > len(data):
            raise ValueError("truncated MP3 header")
        h = int.from_bytes(data[pos : pos + 4], "big")
        version, bitrate, rate, samples, frame = _mp3_frame_params(h)
        mode = (h >> 6) & 0x3
        if first is None:
            first = (version, rate)
            stereo = mode != 3
        elif (version, rate) != first:
            raise ValueError("MP3 stream parameters changed mid-stream")
        if pos + frame > len(data):
            raise ValueError("MP3 frame overruns stream")
        bitrates.add(bitrate)
        bitrate_sum += bitrate
        n_frames += 1
        total_samples += samples
        pos += frame
    if n_frames == 0:
        raise ValueError("no MP3 frames")
    version, rate = first
    mean_kbps = bitrate_sum / n_frames  # frame-weighted (VBR-honest)
    return {
        "container": "mp3",
        "codec_string": {3: "mp4a.6b", 2: "mp4a.69", 0: "mp4a.69"}[
            version
        ],  # RFC 6381 OTIs: 0x6B MPEG-1 audio, 0x69 MPEG-2 audio
        "sample_rate": rate,
        "channels": 2 if stereo else 1,
        "n_frames": n_frames,
        "duration_ms": total_samples * 1000 // rate,
        "bitrate_kbps": float(round(mean_kbps, 1)),
        "cbr": len(bitrates) == 1,
    }


# ---------------------------------------------------------------------------
# Fixture encoders
# ---------------------------------------------------------------------------


def encode_adts(
    n_frames: int,
    aot: int = 2,
    freq_index: int = 4,
    channels: int = 2,
    payload_len: int = 64,
) -> bytes:
    """Deterministic ADTS stream: n_frames headers (protection
    absent), each followed by ``payload_len`` fill bytes."""
    out = bytearray()
    frame_len = 7 + payload_len
    for i in range(n_frames):
        h = bytearray(7)
        h[0] = 0xFF
        h[1] = 0xF1  # sync + MPEG-4 + layer 00 + protection_absent
        h[2] = ((aot - 1) << 6) | (freq_index << 2) | (channels >> 2)
        h[3] = ((channels & 0x3) << 6) | (frame_len >> 11)
        h[4] = (frame_len >> 3) & 0xFF
        h[5] = ((frame_len & 0x7) << 5) | 0x1F
        h[6] = 0xFC  # buffer fullness tail + 1 raw data block
        out += h + bytes([(0x30 + i) & 0xFF] * payload_len)
    return bytes(out)


def encode_mp3(
    n_frames: int,
    bitrate_idx: int = 9,
    rate_idx: int = 0,
    mpeg1: bool = True,
    stereo: bool = True,
    id3_size: int = 0,
    vbr_alternate_idx: int | None = None,
) -> bytes:
    """Deterministic MP3 stream, optionally ID3v2-prefixed and
    optionally alternating two bitrate indices (a VBR stand-in)."""
    out = bytearray()
    if id3_size:
        out += b"ID3\x04\x00\x00" + bytes(
            [(id3_size >> s) & 0x7F for s in (21, 14, 7, 0)]
        )
        out += bytes(id3_size)
    for i in range(n_frames):
        bi = bitrate_idx
        if vbr_alternate_idx is not None and i % 2 == 1:
            bi = vbr_alternate_idx
        h = 0x7FF << 21
        h |= (3 if mpeg1 else 2) << 19
        h |= 1 << 17                    # layer III
        h |= 1 << 16                    # no CRC
        h |= bi << 12
        h |= rate_idx << 10
        h |= (0 if stereo else 3) << 6
        _, _, _, _, frame = _mp3_frame_params(h)
        out += h.to_bytes(4, "big")
        out += bytes([(0x40 + i) & 0xFF] * (frame - 4))
    return bytes(out)


# ---------------------------------------------------------------------------
# Spark operator
# ---------------------------------------------------------------------------


def audio_stream_profile(media):
    """Elementary-stream audio metadata over (media_id, payload)
    inside Arrow mapInPandas — sniffs ADTS vs (ID3v2-prefixed) MP3 per
    payload and emits one summary row per file, with codec strings in
    the same RFC 6381 family as the MP4 path so ONE filter expression
    covers containerized and raw audio corpora alike."""
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("container", T.StringType(), False),
        T.StructField("codec_string", T.StringType(), False),
        T.StructField("sample_rate", T.IntegerType(), False),
        T.StructField("channels", T.IntegerType(), False),
        T.StructField("n_frames", T.LongType(), False),
        T.StructField("duration_ms", T.LongType(), False),
        T.StructField("bitrate_kbps", T.DoubleType(), False),
        T.StructField("cbr", T.BooleanType(), True),
    ])

    def batches(it):
        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.mpegaudio import (
            parse_adts,
            parse_id3v2_size,
            parse_mp3,
        )

        cols = [f.name for f in out_schema.fields]
        for pdf in it:
            out = {k: [] for k in cols}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(p)
                # Sniff on the first AUDIO byte — an ID3v2 tag can
                # prefix either format (podcast .aac files carry them
                # too), so skip it before reading the layer bits:
                # MPEG layer III = 01 at bits 1-2, ADTS layer = 00.
                audio = raw[parse_id3v2_size(raw) :]
                if (
                    len(audio) >= 2
                    and audio[0] == 0xFF
                    and (audio[1] & 0xF6) in (0xF2, 0xE2)
                ):
                    row = parse_mp3(raw)
                else:
                    row = parse_adts(raw)
                    row = {**row, "cbr": None}
                out["media_id"].append(mid)
                for k in cols[1:]:
                    out[k].append(row[k])
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, schema=out_schema)


# ---------------------------------------------------------------------------
# ID3v2 frame parsing (informal standard, id3.org: id3v2.3.0 §3-4,
# id3v2.4.0-structure §3 / -frames §4) — the audio metadata/privacy
# audit: who/what text frames, user TXXX pairs, comments, embedded
# pictures and binary objects (GEOB/PRIV are where trackers hide).
# ---------------------------------------------------------------------------

_ID3_ENCODINGS = {0: "latin-1", 1: "utf-16", 2: "utf-16-be", 3: "utf-8"}


def _id3_text(body: bytes, enc: int) -> str:
    codec = _ID3_ENCODINGS.get(enc)
    if codec is None:
        raise ValueError(f"ID3v2: reserved text encoding {enc}")
    text = body.decode(codec, "replace")
    # v2.4 multi-value strings are \x00-separated; trailing
    # terminators are padding either way.
    return "/".join(p for p in text.split("\x00") if p)


def _id3_split_terminated(body: bytes, enc: int) -> tuple[bytes, bytes]:
    """Split at the encoding-aware string terminator: \\x00 for
    byte encodings, \\x00\\x00 on a 16-bit boundary for UTF-16."""
    if enc in (1, 2):
        i = 0
        while i + 1 < len(body):
            if body[i] == 0 and body[i + 1] == 0:
                return body[:i], body[i + 2:]
            i += 2
        return body, b""
    i = body.find(b"\x00")
    if i < 0:
        return body, b""
    return body[:i], body[i + 1:]


def _syncsafe(data: bytes) -> int:
    size = 0
    for b in data:
        if b & 0x80:
            raise ValueError("ID3v2: size bytes must be synchsafe")
        size = (size << 7) | b
    return size


def parse_id3v2_frames(data: bytes) -> dict:
    """Parse a leading ID3v2.3/2.4 tag into its frames:
    ``{version, frames: [{frame_id, kind, text, description, mime,
    n_bytes}]}``. Text frames (T***/TXXX), URL frames (W***/WXXX),
    comments/lyrics (COMM/USLT) decode through the four standard
    encodings with encoding-aware terminators; APIC/GEOB/PRIV/UFID
    surface as binary rows with mime/owner in ``description`` and
    their payload size — the privacy-audit bits. Raises ValueError
    on no tag, v2.2, unsynchronised tags, or torn frames."""
    if data[:3] != b"ID3":
        raise ValueError("ID3v2: no tag")
    if len(data) < 10:
        raise ValueError("ID3v2: truncated tag header")
    vmaj = data[3]
    if vmaj not in (3, 4):
        raise ValueError(f"ID3v2.{vmaj}: unsupported version")
    flags = data[5]
    if flags & 0x80:
        raise ValueError("ID3v2: unsynchronised tags not supported")
    body_size = _syncsafe(data[6:10])
    end = 10 + body_size
    if end > len(data):
        raise ValueError("ID3v2: tag size overruns payload")
    pos = 10
    if flags & 0x40:  # extended header
        if vmaj == 4:
            pos += _syncsafe(data[pos : pos + 4])  # includes itself
        else:
            pos += 4 + struct.unpack(">I", data[pos : pos + 4])[0]
    frames = []
    while pos + 10 <= end:
        fid = data[pos : pos + 4]
        if fid[0] == 0:
            break  # padding
        if not all(0x30 <= c <= 0x5A for c in fid):
            raise ValueError(f"ID3v2: bad frame id {fid!r}")
        if vmaj == 4:
            fsize = _syncsafe(data[pos + 4 : pos + 8])
        else:
            fsize = struct.unpack(">I", data[pos + 4 : pos + 8])[0]
        fflags = struct.unpack(">H", data[pos + 8 : pos + 10])[0]
        # Format-description flags mean the body is TRANSFORMED
        # (compressed/encrypted/per-frame unsync, §4.1): decoding it
        # as-is would silently return garbage — refuse instead (the
        # quarantine contract). v2.3 keeps them in the high bits of
        # byte 2; v2.4 in the low nibble area.
        transform = 0x00C0 if vmaj == 3 else 0x000E
        if fflags & transform:
            raise ValueError(
                f"ID3v2: frame {fid!r} uses transformed-body flags "
                f"{fflags:#06x} (compression/encryption/unsync)"
            )
        body = data[pos + 10 : pos + 10 + fsize]
        if len(body) != fsize or pos + 10 + fsize > end:
            raise ValueError(f"ID3v2: frame {fid!r} overruns tag")
        pos += 10 + fsize
        frame_id = fid.decode("ascii")
        row = {"frame_id": frame_id, "kind": "binary", "text": None,
               "description": None, "mime": None, "n_bytes": fsize}
        if frame_id == "TXXX":
            enc = body[0]
            desc, rest = _id3_split_terminated(body[1:], enc)
            row.update(kind="user_text",
                       description=_id3_text(desc, enc),
                       text=_id3_text(rest, enc))
        elif frame_id.startswith("T"):
            row.update(kind="text", text=_id3_text(body[1:], body[0]))
        elif frame_id == "WXXX":
            enc = body[0]
            desc, rest = _id3_split_terminated(body[1:], enc)
            row.update(kind="url", description=_id3_text(desc, enc),
                       text=rest.decode("latin-1", "replace")
                       .rstrip("\x00"))
        elif frame_id.startswith("W"):
            row.update(kind="url",
                       text=body.decode("latin-1", "replace")
                       .rstrip("\x00"))
        elif frame_id in ("COMM", "USLT"):
            enc = body[0]
            lang = body[1:4].decode("latin-1", "replace")
            desc, rest = _id3_split_terminated(body[4:], enc)
            row.update(kind="comment" if frame_id == "COMM"
                       else "lyrics",
                       description=f"{lang}:{_id3_text(desc, enc)}",
                       text=_id3_text(rest, enc))
        elif frame_id == "APIC":
            enc = body[0]
            mime, rest = _id3_split_terminated(body[1:], 0)
            desc, payload = _id3_split_terminated(rest[1:], enc)
            row.update(kind="picture",
                       mime=mime.decode("latin-1", "replace"),
                       description=_id3_text(desc, enc),
                       n_bytes=len(payload))
        elif frame_id == "GEOB":
            enc = body[0]
            mime, rest = _id3_split_terminated(body[1:], 0)
            fname, rest = _id3_split_terminated(rest, enc)
            desc, payload = _id3_split_terminated(rest, enc)
            row.update(kind="object",
                       mime=mime.decode("latin-1", "replace"),
                       description=_id3_text(desc, enc),
                       n_bytes=len(payload))
        elif frame_id in ("PRIV", "UFID"):
            owner, payload = _id3_split_terminated(body, 0)
            row.update(kind="private",
                       description=owner.decode("latin-1", "replace"),
                       n_bytes=len(payload))
        frames.append(row)
    return {"version": f"2.{vmaj}", "frames": frames}


def encode_id3v2(
    frames: list[tuple], *, version: int = 4, padding: int = 0
) -> bytes:
    """Deterministic ID3v2.3/2.4 tag for fixtures. Each frame is
    (frame_id, spec) where spec depends on the id: T*** → (enc,
    text); TXXX → (enc, desc, text); COMM/USLT → (enc, lang, desc,
    text); W*** → url; APIC → (enc, mime, desc, payload);
    GEOB → (enc, mime, filename, desc, payload); PRIV/UFID →
    (owner, payload)."""
    def encoded(text: str, enc: int) -> bytes:
        return text.encode(_ID3_ENCODINGS[enc])

    def term(enc: int) -> bytes:
        return b"\x00\x00" if enc in (1, 2) else b"\x00"

    out = bytearray()
    for frame_id, spec in frames:
        if frame_id == "TXXX":
            enc, desc, text = spec
            body = bytes([enc]) + encoded(desc, enc) + term(enc) \
                + encoded(text, enc)
        elif frame_id.startswith("T"):
            enc, text = spec
            body = bytes([enc]) + encoded(text, enc)
        elif frame_id in ("COMM", "USLT"):
            enc, lang, desc, text = spec
            body = (bytes([enc]) + lang.encode("latin-1")
                    + encoded(desc, enc) + term(enc)
                    + encoded(text, enc))
        elif frame_id.startswith("W"):
            body = spec.encode("latin-1")
        elif frame_id == "APIC":
            enc, mime, desc, payload = spec
            body = (bytes([enc]) + mime.encode("latin-1") + b"\x00"
                    + bytes([3])  # picture type: front cover
                    + encoded(desc, enc) + term(enc) + payload)
        elif frame_id == "GEOB":
            enc, mime, fname, desc, payload = spec
            body = (bytes([enc]) + mime.encode("latin-1") + b"\x00"
                    + encoded(fname, enc) + term(enc)
                    + encoded(desc, enc) + term(enc) + payload)
        elif frame_id in ("PRIV", "UFID"):
            owner, payload = spec
            body = owner.encode("latin-1") + b"\x00" + payload
        else:
            raise ValueError(f"unsupported fixture frame {frame_id}")
        if version == 4:
            size = bytes((len(body) >> s) & 0x7F for s in (21, 14, 7, 0))
        else:
            size = struct.pack(">I", len(body))
        out += frame_id.encode("ascii") + size + b"\x00\x00" + body
    out += bytes(padding)
    head = b"ID3" + bytes([version, 0, 0]) + bytes(
        (len(out) >> s) & 0x7F for s in (21, 14, 7, 0)
    )
    return bytes(head) + bytes(out)
