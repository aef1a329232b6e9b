"""Zstandard / LZ4 frame-structure profiling — the compression
formats large text corpora actually ship in (.jsonl.zst dumps,
.lz4-framed shards), walked at header level.

Neither codec's DECODER ships in the Python stdlib, so this module
draws the honest boundary the media parsers draw for inter-frame
video: the FRAMING is parsed completely from the public specs
(RFC 8878 for zstd frames; the LZ4 frame format spec), payloads are
never decompressed.  That is enough for the audit jobs a corpus
pipeline runs: is the blob a valid frame sequence, how many frames/
blocks, what window sizes (memory planning for the real decoder
fleet), are content sizes declared (splittability planning), is
there a dictionary dependency (provisioning), how much skippable-
frame metadata is embedded.

* zstd (RFC 8878): magic ``0xFD2FB528``; frame header descriptor →
  dictionary-ID / content-size field sizes, single-segment flag,
  window descriptor (exponent+mantissa), optional content checksum;
  block headers (3-byte LE: last-block bit, type raw/RLE/compressed,
  size) walked to the end of each frame — sizes make every block
  skippable without decoding, which is exactly how this walk works.
  Skippable frames (``0x184D2A5?``) are sized and skipped.
* lz4 frame: magic ``0x184D2204``; FLG/BD bytes (version, block
  independence, checksums, content size, dict ID), optional u64
  content size, header checksum byte; data blocks as u32 LE sizes
  with the high bit marking uncompressed blocks; ``0`` EndMark and
  optional content checksum.

Malformed framing raises ValueError (shared parser contract).

Reference: n/a (extension surface).
"""

from __future__ import annotations

import struct

ZSTD_MAGIC = 0xFD2FB528
ZSTD_SKIPPABLE_LO = 0x184D2A50
LZ4_MAGIC = 0x184D2204


def parse_zstd_frames(data: bytes) -> list[dict]:
    """Walk every frame in a zstd stream: ``[{kind, offset,
    compressed_bytes, content_size, window_size, has_checksum,
    dict_id, n_blocks}]`` (kind ``frame`` or ``skippable``)."""
    out = []
    pos = 0
    n = len(data)
    while pos < n:
        if pos + 4 > n:
            raise ValueError("zstd: truncated magic")
        (magic,) = struct.unpack_from("<I", data, pos)
        if (magic & 0xFFFFFFF0) == ZSTD_SKIPPABLE_LO:
            if pos + 8 > n:
                raise ValueError("zstd: truncated skippable header")
            (size,) = struct.unpack_from("<I", data, pos + 4)
            if pos + 8 + size > n:
                raise ValueError("zstd: skippable frame exceeds data")
            out.append({
                "kind": "skippable", "offset": pos,
                "compressed_bytes": 8 + size, "content_size": size,
                "window_size": None, "has_checksum": False,
                "dict_id": None, "n_blocks": 0,
            })
            pos += 8 + size
            continue
        if magic != ZSTD_MAGIC:
            raise ValueError(f"zstd: bad magic at offset {pos}")
        start = pos
        pos += 4
        if pos >= n:
            raise ValueError("zstd: truncated frame header")
        fhd = data[pos]
        pos += 1
        dict_flag = fhd & 0x3
        checksum = bool(fhd & 0x4)
        if fhd & 0x8:
            raise ValueError("zstd: reserved FHD bit set")
        single_segment = bool(fhd & 0x20)
        fcs_flag = fhd >> 6
        window_size = None
        if not single_segment:
            if pos >= n:
                raise ValueError("zstd: truncated window descriptor")
            wd = data[pos]
            pos += 1
            exponent = wd >> 3
            mantissa = wd & 0x7
            base = 1 << (10 + exponent)
            window_size = base + (base // 8) * mantissa
        dict_id = None
        dsize = (0, 1, 2, 4)[dict_flag]
        if dsize:
            if pos + dsize > n:
                raise ValueError("zstd: truncated dictionary ID")
            dict_id = int.from_bytes(
                data[pos : pos + dsize], "little")
            pos += dsize
        fcs_size = (1 if single_segment else 0, 2, 4, 8)[fcs_flag]
        content_size = None
        if fcs_size:
            if pos + fcs_size > n:
                raise ValueError("zstd: truncated content size")
            content_size = int.from_bytes(
                data[pos : pos + fcs_size], "little")
            if fcs_size == 2:
                content_size += 256
            pos += fcs_size
        if single_segment and window_size is None:
            window_size = content_size
        n_blocks = 0
        while True:
            if pos + 3 > n:
                raise ValueError("zstd: truncated block header")
            head = (data[pos] | (data[pos + 1] << 8)
                    | (data[pos + 2] << 16))
            pos += 3
            last = head & 1
            btype = (head >> 1) & 0x3
            bsize = head >> 3
            if btype == 3:
                raise ValueError("zstd: reserved block type")
            length = 1 if btype == 1 else bsize  # RLE stores 1 byte
            if pos + length > n:
                raise ValueError("zstd: block exceeds data")
            pos += length
            n_blocks += 1
            if last:
                break
        if checksum:
            if pos + 4 > n:
                raise ValueError("zstd: truncated content checksum")
            pos += 4
        out.append({
            "kind": "frame", "offset": start,
            "compressed_bytes": pos - start,
            "content_size": content_size,
            "window_size": window_size, "has_checksum": checksum,
            "dict_id": dict_id, "n_blocks": n_blocks,
        })
    return out


def parse_lz4_frames(data: bytes) -> list[dict]:
    """Walk every LZ4 frame: ``[{offset, compressed_bytes,
    content_size, block_max, independent_blocks, has_checksum,
    dict_id, n_blocks}]``."""
    out = []
    pos = 0
    n = len(data)
    while pos < n:
        if pos + 4 > n:
            raise ValueError("lz4: truncated magic")
        (magic,) = struct.unpack_from("<I", data, pos)
        if (magic & 0xFFFFFFF0) == ZSTD_SKIPPABLE_LO:
            if pos + 8 > n:
                raise ValueError("lz4: truncated skippable header")
            (size,) = struct.unpack_from("<I", data, pos + 4)
            if pos + 8 + size > n:
                raise ValueError("lz4: skippable frame exceeds data")
            pos += 8 + size
            continue
        if magic != LZ4_MAGIC:
            raise ValueError(f"lz4: bad magic at offset {pos}")
        start = pos
        pos += 4
        if pos + 2 > n:
            raise ValueError("lz4: truncated frame descriptor")
        flg = data[pos]
        bd = data[pos + 1]
        pos += 2
        if (flg >> 6) != 1:
            raise ValueError("lz4: unsupported frame version")
        independent = bool(flg & 0x20)
        block_checksum = bool(flg & 0x10)
        has_content_size = bool(flg & 0x08)
        content_checksum = bool(flg & 0x04)
        has_dict_id = bool(flg & 0x01)
        bmax_id = (bd >> 4) & 0x7
        if bmax_id < 4:
            raise ValueError("lz4: reserved block max size")
        block_max = 1 << (2 * bmax_id + 8)  # 4:64KB … 7:4MB
        content_size = None
        if has_content_size:
            if pos + 8 > n:
                raise ValueError("lz4: truncated content size")
            (content_size,) = struct.unpack_from("<Q", data, pos)
            pos += 8
        dict_id = None
        if has_dict_id:
            if pos + 4 > n:
                raise ValueError("lz4: truncated dictionary ID")
            (dict_id,) = struct.unpack_from("<I", data, pos)
            pos += 4
        pos += 1  # header checksum byte
        if pos > n:
            raise ValueError("lz4: truncated header checksum")
        n_blocks = 0
        while True:
            if pos + 4 > n:
                raise ValueError("lz4: truncated block size")
            (bsize,) = struct.unpack_from("<I", data, pos)
            pos += 4
            if bsize == 0:  # EndMark
                break
            length = bsize & 0x7FFFFFFF
            if length > block_max:
                raise ValueError("lz4: block exceeds declared max")
            if pos + length > n:
                raise ValueError("lz4: block exceeds data")
            pos += length
            if block_checksum:
                if pos + 4 > n:
                    raise ValueError("lz4: truncated block checksum")
                pos += 4
            n_blocks += 1
        if content_checksum:
            if pos + 4 > n:
                raise ValueError("lz4: truncated content checksum")
            pos += 4
        out.append({
            "offset": start, "compressed_bytes": pos - start,
            "content_size": content_size, "block_max": block_max,
            "independent_blocks": independent,
            "has_checksum": content_checksum, "dict_id": dict_id,
            "n_blocks": n_blocks,
        })
    return out


# --- fixture encoders (framing-valid; payload bytes are opaque) ------------
