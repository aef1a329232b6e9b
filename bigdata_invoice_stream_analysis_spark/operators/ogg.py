"""Ogg container parsing — the scraped-audio container MP4/WebM
don't cover (.ogg / .opus podcast and speech corpora).

Built against the public specs:

* RFC 3533 framing: ``OggS`` capture pattern, version 0, header-type
  flags (continued / BOS / EOS), u64le granule position, u32le
  bitstream serial, page sequence, CRC, and the lacing table (255
  means continuation — packet boundaries are lacing values < 255).
  Page CRCs are REAL: CRC-32 with polynomial 0x04C11DB7,
  non-reflected, zero init and zero final XOR, computed with the
  CRC field zeroed — table-driven here, and verified per page.
* Stream identification from each BOS page's first packet:
  ``OpusHead`` (RFC 7845 §5.1 — channels, pre-skip, input rate;
  granules always tick at 48 kHz), ``\\x01vorbis`` (Vorbis I §4.2.1
  — channels, rate), ``\\x80theora`` and Ogg-FLAC (``\\x7fFLAC``)
  recognized by magic.
* Duration from the last page's granule position per stream: PCM
  samples (Vorbis) or 48 kHz samples minus pre-skip (Opus).

Malformed framing raises ValueError; per-page CRC mismatches are
DATA (counted, not fatal) because one damaged page must not cost
the whole file's audit row.

Reference: n/a (extension surface).
"""

from __future__ import annotations

import struct

_CRC_TABLE: list[int] = []


def _build_table() -> None:
    poly = 0x04C11DB7
    for i in range(256):
        c = i << 24
        for _ in range(8):
            c = ((c << 1) ^ poly if c & 0x80000000 else c << 1)
            c &= 0xFFFFFFFF
        _CRC_TABLE.append(c)


_build_table()


def ogg_crc(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _CRC_TABLE[
            ((crc >> 24) ^ b) & 0xFF]
    return crc


def parse_ogg(data: bytes) -> dict:
    """Parse an Ogg physical stream: ``{streams: {serial: {codec,
    channels, sample_rate, pre_skip, n_pages, n_packets,
    last_granule, duration_ms}}, n_pages, n_crc_bad}``."""
    if data[:4] != b"OggS":
        raise ValueError("ogg: missing OggS capture pattern")
    streams: dict[int, dict] = {}
    pos = 0
    n = len(data)
    n_pages = 0
    n_crc_bad = 0
    while pos < n:
        if data[pos : pos + 4] != b"OggS":
            raise ValueError(f"ogg: lost sync at offset {pos}")
        if pos + 27 > n:
            raise ValueError("ogg: truncated page header")
        version = data[pos + 4]
        if version != 0:
            raise ValueError(f"ogg: unsupported version {version}")
        htype = data[pos + 5]
        (granule,) = struct.unpack_from("<q", data, pos + 6)
        (serial,) = struct.unpack_from("<I", data, pos + 14)
        (crc,) = struct.unpack_from("<I", data, pos + 22)
        nseg = data[pos + 26]
        seg_end = pos + 27 + nseg
        if seg_end > n:
            raise ValueError("ogg: truncated lacing table")
        lacing = data[pos + 27 : seg_end]
        body_len = sum(lacing)
        page_end = seg_end + body_len
        if page_end > n:
            raise ValueError("ogg: truncated page body")
        page = bytearray(data[pos:page_end])
        page[22:26] = b"\x00\x00\x00\x00"
        if ogg_crc(bytes(page)) != crc:
            n_crc_bad += 1
        body = data[seg_end:page_end]
        st = streams.get(serial)
        if st is None:
            st = streams[serial] = {
                "codec": "unknown", "channels": None,
                "sample_rate": None, "pre_skip": 0,
                "n_pages": 0, "n_packets": 0,
                "last_granule": None, "duration_ms": None,
            }
        if htype & 0x2:  # BOS: identify the codec from packet 1
            _identify(st, body)
        st["n_pages"] += 1
        st["n_packets"] += sum(1 for v in lacing if v < 255)
        if granule >= 0:
            st["last_granule"] = granule
        n_pages += 1
        pos = page_end
    for st in streams.values():
        g = st["last_granule"]
        if g is None:
            continue
        if st["codec"] == "opus":
            # granules tick at 48 kHz regardless of input rate
            st["duration_ms"] = max(
                0, (g - st["pre_skip"])) * 1000 // 48000
        elif st["codec"] == "vorbis" and st["sample_rate"]:
            st["duration_ms"] = g * 1000 // st["sample_rate"]
    return {"streams": streams, "n_pages": n_pages,
            "n_crc_bad": n_crc_bad}


def _identify(st: dict, body: bytes) -> None:
    if body[:8] == b"OpusHead":
        if len(body) < 19:
            raise ValueError("ogg: truncated OpusHead")
        st["codec"] = "opus"
        st["channels"] = body[9]
        (st["pre_skip"],) = struct.unpack_from("<H", body, 10)
        (st["sample_rate"],) = struct.unpack_from("<I", body, 12)
    elif body[:7] == b"\x01vorbis":
        if len(body) < 30:
            raise ValueError("ogg: truncated vorbis id header")
        st["codec"] = "vorbis"
        st["channels"] = body[11]
        (st["sample_rate"],) = struct.unpack_from("<I", body, 12)
    elif body[:7] == b"\x80theora":
        st["codec"] = "theora"
    elif body[:5] == b"\x7fFLAC":
        st["codec"] = "flac"


# --- fixture encoder --------------------------------------------------------


def encode_ogg_page(
    serial: int,
    seq: int,
    granule: int,
    packets: list[bytes],
    *,
    bos: bool = False,
    eos: bool = False,
) -> bytes:
    """One spec-correct page (lacing + real CRC).  Packets over 255
    bytes produce the 255-continuation lacing runs."""
    lacing = bytearray()
    body = bytearray()
    for p in packets:
        q, r = divmod(len(p), 255)
        lacing += b"\xff" * q
        lacing.append(r)
        body += p
    if len(lacing) > 255:
        raise ValueError("ogg: too many lacing segments for one page")
    htype = (0x2 if bos else 0) | (0x4 if eos else 0)
    head = bytearray(b"OggS")
    head.append(0)
    head.append(htype)
    head += struct.pack("<q", granule)
    head += struct.pack("<I", serial)
    head += struct.pack("<I", seq)
    head += b"\x00\x00\x00\x00"
    head.append(len(lacing))
    head += lacing
    page = bytes(head) + bytes(body)
    crc = ogg_crc(page)
    return page[:22] + struct.pack("<I", crc) + page[26:]


def encode_minimal_opus(
    *,
    serial: int = 0x1234,
    channels: int = 2,
    pre_skip: int = 312,
    input_rate: int = 48000,
    n_audio_packets: int = 5,
    samples_per_packet: int = 960,
) -> bytes:
    """A framing-valid Ogg-Opus file: OpusHead BOS page, OpusTags
    page, then audio pages (opaque packet bytes) with correct
    48 kHz granule accounting."""
    head = (b"OpusHead" + bytes([1, channels])
            + struct.pack("<H", pre_skip)
            + struct.pack("<I", input_rate)
            + struct.pack("<h", 0) + bytes([0]))
    tags = (b"OpusTags" + struct.pack("<I", 4) + b"test"
            + struct.pack("<I", 0))
    out = encode_ogg_page(serial, 0, 0, [head], bos=True)
    out += encode_ogg_page(serial, 1, 0, [tags])
    granule = pre_skip
    for i in range(n_audio_packets):
        granule += samples_per_packet
        out += encode_ogg_page(
            serial, 2 + i, granule,
            [bytes((i + j) % 256 for j in range(20 + i))],
            eos=(i == n_audio_packets - 1),
        )
    return out
