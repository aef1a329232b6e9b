"""WebP structure parsing (RIFF + VP8/VP8L/VP8X) — the other half of
a modern scraped-image corpus.

The contemporary web serves WebP at volume, in three layouts this
walks from the public container/bitstream specs: simple lossy (a RIFF
``VP8 `` chunk whose VP8 key-frame header carries the true dimensions
— RFC 6386 §9.1: frame tag, ``9D 01 2A`` start code, 14-bit
width/height), simple lossless (``VP8L``: the 0x2F signature byte and
14-bit-minus-one packed dimensions plus the alpha-hint bit), and
extended (``VP8X``: feature flags for ICC/alpha/EXIF/XMP/animation,
24-bit canvas-minus-one dimensions, with ``ANIM``/``ANMF`` chunks for
frame count and durations). Pixel decode (VP8 DCT / VP8L Huffman)
stays honestly out of scope — this is the triage metadata: real
dimensions, animation, alpha, and whether EXIF/XMP metadata chunks
are present (the privacy-audit pointer operators/exif.py consumes).

Scale posture: linear chunk walk, map-side inside content triage
(operators/sniff.py).

Reference: n/a (extension surface).
"""

from __future__ import annotations

import struct


def parse_webp(payload: bytes) -> dict:
    """One summary dict per WebP: ``{variant, width, height, alpha,
    animated, n_frames, duration_ms, has_exif, has_xmp, has_icc}``.
    Raises ValueError on bad signatures or malformed chunk layout."""
    data = bytes(payload)
    if data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP (RIFF/WEBP signature)")
    riff_size = struct.unpack("<I", data[4:8])[0]
    end = min(8 + riff_size, len(data))
    out = {
        "variant": None, "width": None, "height": None,
        "alpha": False, "animated": False, "n_frames": 0,
        "duration_ms": 0, "has_exif": False, "has_xmp": False,
        "has_icc": False,
    }
    pos = 12
    while pos + 8 <= end:
        fourcc = data[pos : pos + 4]
        size = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        body = data[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError(f"WebP chunk {fourcc!r} overruns file")
        if fourcc == b"VP8 ":
            if out["variant"] is None:
                out["variant"] = "lossy"
                out.update(_vp8_dims(body))
        elif fourcc == b"VP8L":
            if out["variant"] is None:
                out["variant"] = "lossless"
                out.update(_vp8l_dims(body))
        elif fourcc == b"VP8X":
            if size < 10:
                raise ValueError("VP8X chunk too short")
            out["variant"] = "extended"
            flags = body[0]
            out["has_icc"] = bool(flags & 0x20)
            out["alpha"] = bool(flags & 0x10)
            out["has_exif"] = bool(flags & 0x08)
            out["has_xmp"] = bool(flags & 0x04)
            out["animated"] = bool(flags & 0x02)
            out["width"] = 1 + int.from_bytes(body[4:7], "little")
            out["height"] = 1 + int.from_bytes(body[7:10], "little")
        elif fourcc == b"ANMF":
            out["n_frames"] += 1
            if size >= 15:
                out["duration_ms"] += int.from_bytes(
                    body[12:15], "little"
                )
        elif fourcc == b"ALPH":
            out["alpha"] = True
        # chunks are 2-byte aligned (RIFF padding)
        pos += 8 + size + (size & 1)
    if out["variant"] is None:
        raise ValueError("WebP carries no VP8/VP8L/VP8X chunk")
    if out["variant"] != "extended":
        out["n_frames"] = 1
    elif not out["animated"]:
        out["n_frames"] = max(out["n_frames"], 1)
    return out


def _vp8_dims(body: bytes) -> dict:
    """RFC 6386 §9.1: 3-byte frame tag (keyframe bit 0 = 0), then the
    start code 9D 01 2A, then 16-bit LE width/height with the top 2
    bits as scaling hints — 14 bits of real dimension each."""
    if len(body) < 10:
        raise ValueError("VP8 chunk too short for a key frame header")
    tag = int.from_bytes(body[0:3], "little")
    if tag & 0x1:
        raise ValueError("VP8 chunk starts with an interframe")
    if body[3:6] != b"\x9d\x01\x2a":
        raise ValueError("bad VP8 key-frame start code")
    w = struct.unpack("<H", body[6:8])[0] & 0x3FFF
    h = struct.unpack("<H", body[8:10])[0] & 0x3FFF
    return {"width": w, "height": h}


def _vp8l_dims(body: bytes) -> dict:
    """VP8L header: signature 0x2F, then a little-endian bit stream —
    14 bits (width-1), 14 bits (height-1), 1 alpha-hint bit."""
    if len(body) < 5 or body[0] != 0x2F:
        raise ValueError("bad VP8L signature")
    bits = int.from_bytes(body[1:5], "little")
    return {
        "width": (bits & 0x3FFF) + 1,
        "height": ((bits >> 14) & 0x3FFF) + 1,
        "alpha": bool((bits >> 28) & 0x1),
    }


# ---------------------------------------------------------------------------
# Fixture encoders
# ---------------------------------------------------------------------------


def _chunk(fourcc: bytes, body: bytes) -> bytes:
    return (
        fourcc + struct.pack("<I", len(body)) + body
        + (b"\x00" if len(body) & 1 else b"")
    )


def encode_webp(
    width: int,
    height: int,
    *,
    variant: str = "lossy",
    alpha: bool = False,
    frames: list[int] | None = None,
    has_exif: bool = False,
    has_xmp: bool = False,
    payload_len: int = 24,
) -> bytes:
    """Deterministic WebP fixture: ``variant`` picks simple lossy /
    simple lossless / extended; ``frames`` (per-frame durations in
    ms) makes an animated extended file; EXIF/XMP flags add the
    matching metadata chunks."""
    def vp8_body() -> bytes:
        tag = (0 | (1 << 1) | (1 << 4)).to_bytes(3, "little")
        return (
            tag + b"\x9d\x01\x2a"
            + struct.pack("<HH", width, height)
            + bytes([(width + i) % 251 for i in range(payload_len)])
        )

    def vp8l_body() -> bytes:
        bits = (width - 1) | ((height - 1) << 14) | (
            (1 if alpha else 0) << 28
        )
        return (
            b"\x2f" + struct.pack("<I", bits)
            + bytes([(height + i) % 251 for i in range(payload_len)])
        )

    chunks = b""
    if variant == "lossy":
        chunks = _chunk(b"VP8 ", vp8_body())
        if alpha:
            chunks = _chunk(b"ALPH", b"\x00" * 6) + chunks
            # alpha on a simple-lossy file requires the extended form
            variant = "extended"
            frames = frames or None
    elif variant == "lossless":
        chunks = _chunk(b"VP8L", vp8l_body())
    if variant == "extended" or frames or has_exif or has_xmp:
        flags = 0
        if alpha:
            flags |= 0x10
        if has_exif:
            flags |= 0x08
        if has_xmp:
            flags |= 0x04
        if frames:
            flags |= 0x02
        vp8x = _chunk(
            b"VP8X",
            bytes([flags, 0, 0, 0])
            + (width - 1).to_bytes(3, "little")
            + (height - 1).to_bytes(3, "little"),
        )
        inner = chunks or _chunk(b"VP8 ", vp8_body())
        if frames:
            anim = _chunk(b"ANIM", b"\x00" * 6)
            anmf = b""
            for i, dur in enumerate(frames):
                anmf_body = (
                    (0).to_bytes(3, "little") * 2
                    + (width - 1).to_bytes(3, "little")
                    + (height - 1).to_bytes(3, "little")
                    + dur.to_bytes(3, "little")
                    + bytes([0])
                    + _chunk(b"VP8 ", vp8_body())
                )
                anmf += _chunk(b"ANMF", anmf_body)
            inner = anim + anmf
        chunks = vp8x + inner
        if has_exif:
            chunks += _chunk(b"EXIF", b"II*\x00\x08\x00\x00\x00\x00\x00")
        if has_xmp:
            chunks += _chunk(b"XMP ", b"<x:xmpmeta/>")
    body = b"WEBP" + chunks
    return b"RIFF" + struct.pack("<I", len(body)) + body
