"""Native FLAC container metadata — the lossless-audio sibling of the
MP3/ADTS (operators/mpegaudio) and Ogg (operators/ogg) stream walks:
archival music/speech corpora ship as bare .flac files whose identity
lives entirely in the metadata-block prologue.

Built against the public format specification (xiph.org FLAC format
/ RFC 9639):

* Stream prologue: ``fLaC`` marker, then METADATA_BLOCK_HEADERs —
  1 byte (is-last flag << 7 | block type) + 24-bit big-endian length.
  Block types: 0 STREAMINFO, 1 PADDING, 2 APPLICATION, 3 SEEKTABLE,
  4 VORBIS_COMMENT, 5 CUESHEET, 6 PICTURE; 127 is forbidden.
* STREAMINFO (34 bytes, mandatory FIRST block): min/max block size
  u16be, min/max frame size u24be, then a packed 64-bit group —
  sample rate 20 bits, (channels−1) 3 bits, (bits-per-sample−1)
  5 bits, total samples 36 bits — then the 16-byte unencoded-PCM
  MD5. A zero sample rate is invalid per spec.
* VORBIS_COMMENT is LITTLE-endian inside a big-endian container
  (the one Vorbis inheritance): u32le vendor length + vendor string,
  u32le comment count, then u32le-length ``KEY=value`` UTF-8 pairs.
* PICTURE: u32be picture type, length-prefixed MIME + description,
  width/height/depth/colors u32be, length-prefixed image payload —
  embedded cover art is the same metadata-risk bit as ID3 APIC
  (tracker payloads and geotagged art travel in it).

Malformed structure (missing marker, STREAMINFO not first or wrong
size, block overrunning the file, forbidden type, zero sample rate)
raises ValueError per the module contract; triage quarantines. The
audio FRAMES after the last metadata block are never decoded — the
audit is header arithmetic only, so it reads a bounded prefix of
even multi-GB files.

Reference: n/a (extension surface).
"""

from __future__ import annotations

import struct

BLOCK_NAMES = {
    0: "streaminfo", 1: "padding", 2: "application", 3: "seektable",
    4: "vorbis_comment", 5: "cuesheet", 6: "picture",
}


def parse_flac(data: bytes) -> dict:
    """Parse a native FLAC file's metadata prologue:

    ``{sample_rate, channels, bits_per_sample, total_samples,
    duration_ms, md5, blocks: [{type, name, length}], tags: {KEY:
    value}, vendor, has_picture, picture_mime, picture_dims,
    padding_bytes, has_seektable, audio_offset}``.
    """
    if data[:4] != b"fLaC":
        raise ValueError("flac: missing fLaC marker")
    pos = 4
    n = len(data)
    blocks: list[dict] = []
    info: dict | None = None
    tags: dict[str, str] = {}
    vendor: str | None = None
    has_picture = False
    picture_mime: str | None = None
    picture_dims: str | None = None
    padding_bytes = 0
    has_seektable = False
    last = False
    while not last:
        if pos + 4 > n:
            raise ValueError("flac: truncated metadata block header")
        head = data[pos]
        last = bool(head & 0x80)
        btype = head & 0x7F
        if btype == 127:
            raise ValueError("flac: forbidden metadata block type 127")
        length = int.from_bytes(data[pos + 1:pos + 4], "big")
        body_start = pos + 4
        body_end = body_start + length
        if body_end > n:
            raise ValueError("flac: metadata block overruns file")
        body = data[body_start:body_end]
        blocks.append({
            "type": btype,
            "name": BLOCK_NAMES.get(btype, f"reserved-{btype}"),
            "length": length,
        })
        if not blocks[:-1] and btype != 0:
            raise ValueError("flac: first block is not STREAMINFO")
        if btype == 0:
            if length != 34:
                raise ValueError(
                    f"flac: STREAMINFO length {length} != 34")
            info = _parse_streaminfo(body)
        elif btype == 1:
            padding_bytes += length
        elif btype == 3:
            if length % 18:
                raise ValueError("flac: SEEKTABLE not 18-byte points")
            has_seektable = True
        elif btype == 4:
            vendor, tags = _parse_vorbis_comment(body)
        elif btype == 6:
            has_picture = True
            mime, w, h = _parse_picture(body)
            picture_mime = picture_mime or mime
            picture_dims = picture_dims or f"{w}x{h}"
        pos = body_end
    if info is None:
        raise ValueError("flac: no STREAMINFO block")
    duration_ms = None
    if info["total_samples"]:
        duration_ms = (info["total_samples"] * 1000
                       // info["sample_rate"])
    return {
        **info,
        "duration_ms": duration_ms,
        "blocks": blocks,
        "tags": tags,
        "vendor": vendor,
        "has_picture": has_picture,
        "picture_mime": picture_mime,
        "picture_dims": picture_dims,
        "padding_bytes": padding_bytes,
        "has_seektable": has_seektable,
        "audio_offset": pos,
    }


def _parse_streaminfo(b: bytes) -> dict:
    packed = int.from_bytes(b[10:18], "big")
    sample_rate = packed >> 44
    channels = ((packed >> 41) & 0x7) + 1
    bits = ((packed >> 36) & 0x1F) + 1
    total = packed & ((1 << 36) - 1)
    if sample_rate == 0:
        raise ValueError("flac: STREAMINFO declares a zero sample rate")
    return {
        "min_block_size": struct.unpack(">H", b[0:2])[0],
        "max_block_size": struct.unpack(">H", b[2:4])[0],
        "sample_rate": sample_rate,
        "channels": channels,
        "bits_per_sample": bits,
        "total_samples": total,
        "md5": b[18:34].hex(),
    }


def _parse_vorbis_comment(b: bytes) -> tuple[str, dict[str, str]]:
    # little-endian framing inside the big-endian container
    if len(b) < 8:
        raise ValueError("flac: truncated VORBIS_COMMENT")
    vlen = struct.unpack_from("<I", b, 0)[0]
    p = 4 + vlen
    if p + 4 > len(b):
        raise ValueError("flac: VORBIS_COMMENT vendor overruns block")
    vendor = b[4:p].decode("utf-8", "replace")
    count = struct.unpack_from("<I", b, p)[0]
    p += 4
    tags: dict[str, str] = {}
    for _ in range(count):
        if p + 4 > len(b):
            raise ValueError("flac: VORBIS_COMMENT count overruns")
        ln = struct.unpack_from("<I", b, p)[0]
        p += 4
        if p + ln > len(b):
            raise ValueError("flac: comment overruns block")
        entry = b[p:p + ln].decode("utf-8", "replace")
        p += ln
        key, sep, val = entry.partition("=")
        if not sep:
            raise ValueError("flac: comment without '='")
        # spec: field names are case-insensitive; last wins
        tags[key.upper()] = val
    return vendor, tags


def _parse_picture(b: bytes) -> tuple[str, int, int]:
    if len(b) < 8:
        raise ValueError("flac: truncated PICTURE block")
    p = 4  # picture type
    mlen = struct.unpack_from(">I", b, p)[0]
    p += 4
    if p + mlen + 4 > len(b):
        raise ValueError("flac: PICTURE mime overruns block")
    mime = b[p:p + mlen].decode("ascii", "replace")
    p += mlen
    dlen = struct.unpack_from(">I", b, p)[0]
    p += 4 + dlen
    if p + 16 > len(b):
        raise ValueError("flac: PICTURE header overruns block")
    w, h = struct.unpack_from(">II", b, p)
    return mime, w, h


# ---------------------------------------------------------------------------
# Fixture encoder — the test/codebook twin of parse_flac
# ---------------------------------------------------------------------------


def encode_flac(
    *,
    sample_rate: int = 44100,
    channels: int = 2,
    bits_per_sample: int = 16,
    total_samples: int = 441000,
    md5: bytes = b"\x00" * 16,
    tags: dict[str, str] | None = None,
    vendor: str = "bigdata-invoice-stream-analysis-spark",
    picture: tuple[str, int, int, bytes] | None = None,
    padding: int = 0,
    seekpoints: int = 0,
    frames: bytes = b"\xff\xf8\x00\x00",
) -> bytes:
    """Encode a FLAC metadata prologue (+ placeholder frame bytes):
    STREAMINFO, optional VORBIS_COMMENT / PICTURE (mime, w, h,
    payload) / SEEKTABLE / PADDING, in spec order."""
    packed = (sample_rate << 44) | ((channels - 1) << 41) \
        | ((bits_per_sample - 1) << 36) | total_samples
    streaminfo = (struct.pack(">HH", 4096, 4096)
                  + b"\x00\x00\x10" + b"\x00\xff\xff"
                  + packed.to_bytes(8, "big") + md5)
    bodies: list[tuple[int, bytes]] = [(0, streaminfo)]
    if seekpoints:
        bodies.append((3, b"\x00" * (18 * seekpoints)))
    if tags is not None:
        v = vendor.encode()
        body = struct.pack("<I", len(v)) + v \
            + struct.pack("<I", len(tags))
        for k, val in tags.items():
            entry = f"{k}={val}".encode()
            body += struct.pack("<I", len(entry)) + entry
        bodies.append((4, body))
    if picture is not None:
        mime, w, h, payload = picture
        m = mime.encode()
        body = (struct.pack(">I", 3)  # front cover
                + struct.pack(">I", len(m)) + m
                + struct.pack(">I", 0)
                + struct.pack(">IIII", w, h, 24, 0)
                + struct.pack(">I", len(payload)) + payload)
        bodies.append((6, body))
    if padding:
        bodies.append((1, b"\x00" * padding))
    out = bytearray(b"fLaC")
    for i, (btype, body) in enumerate(bodies):
        head = btype | (0x80 if i == len(bodies) - 1 else 0)
        out.append(head)
        out += len(body).to_bytes(3, "big")
        out += body
    return bytes(out) + frames
