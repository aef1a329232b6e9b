"""GIF structure parsing (GIF87a/GIF89a) — animated-image metadata
for an image-corpus triage pass.

Scraped image corpora are full of GIFs, and the curation decisions —
is it animated, how many frames, how long, does it loop, what are the
real canvas dimensions — live entirely in the block structure, not in
the pixels. This walks the public GIF grammar: header + logical
screen descriptor, global/local color tables, image descriptors,
extension blocks (graphic control with per-frame delay and
transparency, the NETSCAPE2.0 application loop extension, comments,
plain text) and the trailer, WITHOUT LZW pixel decode (the same
honest metadata/decode boundary as the video work; the in-repo PNG/
PNM/JPEG codecs cover actual pixel needs).

Scale posture: the block walk is a single linear pass over the
bytes, map-side inside content triage (operators/sniff.py).

Reference: n/a (extension surface).
"""

from __future__ import annotations

import struct

_TRAILER = 0x3B
_IMAGE = 0x2C
_EXTENSION = 0x21
_EXT_GRAPHIC_CONTROL = 0xF9
_EXT_APPLICATION = 0xFF


def _skip_subblocks(data: bytes, pos: int) -> int:
    """Data sub-blocks: length-prefixed chains terminated by 0x00."""
    while True:
        if pos >= len(data):
            raise ValueError("truncated GIF sub-block chain")
        n = data[pos]
        pos += 1
        if n == 0:
            return pos
        pos += n
        if pos > len(data):
            raise ValueError("GIF sub-block overruns payload")


def parse_gif(payload: bytes) -> dict:
    """One summary dict per GIF: version, canvas width/height, frame
    count, total duration (graphic-control delays, centiseconds→ms),
    loop count (None = no NETSCAPE extension = play once, 0 = loop
    forever), transparency and interlace flags, global-palette size.
    Raises ValueError on a bad signature or a malformed block walk."""
    data = bytes(payload)
    if data[:3] != b"GIF" or data[3:6] not in (b"87a", b"89a"):
        raise ValueError(f"not a GIF: {data[:6]!r}")
    version = data[3:6].decode("ascii")
    if len(data) < 13:
        raise ValueError("truncated GIF screen descriptor")
    width, height = struct.unpack("<HH", data[6:10])
    packed = data[10]
    pos = 13
    gct_size = 0
    if packed & 0x80:
        gct_size = 2 << (packed & 0x07)
        pos += 3 * gct_size
    n_frames = 0
    duration_cs = 0
    loop_count = None
    transparent = False
    interlaced = False
    while True:
        if pos >= len(data):
            raise ValueError("GIF ended without trailer")
        block = data[pos]
        pos += 1
        if block == _TRAILER:
            break
        if block == _IMAGE:
            if pos + 9 > len(data):
                raise ValueError("truncated image descriptor")
            ipacked = data[pos + 8]
            if ipacked & 0x40:
                interlaced = True
            pos += 9
            if ipacked & 0x80:  # local color table
                pos += 3 * (2 << (ipacked & 0x07))
            pos += 1  # LZW minimum code size
            pos = _skip_subblocks(data, pos)
            n_frames += 1
        elif block == _EXTENSION:
            if pos >= len(data):
                raise ValueError("truncated extension block")
            label = data[pos]
            pos += 1
            if label == _EXT_GRAPHIC_CONTROL:
                if pos + 6 > len(data) or data[pos] != 4:
                    raise ValueError("bad graphic control extension")
                gpacked = data[pos + 1]
                delay = struct.unpack("<H", data[pos + 2 : pos + 4])[0]
                duration_cs += delay
                if gpacked & 0x01:
                    transparent = True
                pos += 5
                pos = _skip_subblocks(data, pos)
            elif label == _EXT_APPLICATION:
                if pos >= len(data) or data[pos] != 11:
                    raise ValueError("bad application extension header")
                app = data[pos + 1 : pos + 12]
                pos += 12
                start = pos
                pos = _skip_subblocks(data, pos)
                if app == b"NETSCAPE2.0":
                    # one sub-block: 0x03 0x01 <u16le loop count>
                    if data[start] >= 3 and data[start + 1] == 1:
                        loop_count = struct.unpack(
                            "<H", data[start + 2 : start + 4]
                        )[0]
            else:  # comment / plain text / unknown label
                pos = _skip_subblocks(data, pos)
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x} at {pos - 1}")
    return {
        "version": version,
        "width": width,
        "height": height,
        "n_frames": n_frames,
        "animated": n_frames > 1,
        "duration_ms": duration_cs * 10,
        "loop_count": loop_count,
        "transparent": transparent,
        "interlaced": interlaced,
        "palette_size": gct_size,
    }


def encode_minimal_gif(
    frame_delays_cs: list[int],
    *,
    width: int = 32,
    height: int = 24,
    loop_count: int | None = 0,
    transparent: bool = False,
    interlaced: bool = False,
    version: bytes = b"89a",
    payload_len: int = 8,
) -> bytes:
    """Deterministic GIF fixture: global 4-color table, a NETSCAPE
    loop extension when ``loop_count`` is not None, and one image
    descriptor per delay with ``payload_len`` opaque LZW bytes (the
    parser never decodes them)."""
    out = bytearray()
    out += b"GIF" + version
    out += struct.pack("<HH", width, height)
    out += bytes([0x80 | 0x01, 0, 0])  # GCT, size 2<<1 = 4 entries
    out += bytes(3 * 4)                # the table itself
    if loop_count is not None:
        out += bytes([_EXTENSION, _EXT_APPLICATION, 11])
        out += b"NETSCAPE2.0"
        out += bytes([3, 1]) + struct.pack("<H", loop_count)
        out += bytes([0])
    for i, delay in enumerate(frame_delays_cs):
        out += bytes([_EXTENSION, _EXT_GRAPHIC_CONTROL, 4])
        out += bytes([0x01 if transparent else 0x00])
        out += struct.pack("<H", delay)
        out += bytes([0, 0])           # transparent index, terminator
        out += bytes([_IMAGE])
        out += struct.pack("<HHHH", 0, 0, width, height)
        out += bytes([0x40 if interlaced else 0x00])
        out += bytes([2])              # LZW minimum code size
        out += bytes([payload_len]) + bytes(
            [(0x60 + i + j) & 0xFF for j in range(payload_len)]
        )
        out += bytes([0])              # sub-block terminator
    out += bytes([_TRAILER])
    return bytes(out)
