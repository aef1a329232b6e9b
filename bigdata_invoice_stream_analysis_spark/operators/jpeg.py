"""Baseline JPEG codec, pure Python + numpy, written against the
public ITU-T T.81 specification (Annex F sequential DCT, Annex K
reference tables). No media library in the container — this closes the
last image-format stub honestly: decode supports baseline (SOF0)
grayscale and YCbCr 4:4:4 / 4:2:2 / 4:2:0 with restart markers; encode
(fixtures + round-trip tests) emits grayscale or YCbCr 4:4:4 with the
Annex K quantization/Huffman tables.

Nothing here is copied: the DCT is the textbook orthonormal DCT-II
matrix, Huffman tables are built canonically from (BITS, HUFFVAL) as
Annex C prescribes, and the Annex K table CONTENTS are normative spec
constants (the same numbers every JPEG implementation ships).

Scale posture: decode runs inside Arrow mapInPandas on executors like
the PNM/PNG/WAV codecs (operators/multimodal) —
payload bytes never reach the driver. numpy does the per-block
8x8 matmuls, so a 1-megapixel image is ~16k small GEMMs per component,
vectorized as one (n_blocks, 8, 8) einsum.
"""

from __future__ import annotations

import struct

import numpy as np

# --------------------------------------------------------------------------
# Constants from the public JPEG spec
# --------------------------------------------------------------------------

# Zigzag order (spec Figure 5 / Table: index i holds the raster position
# of the i-th zigzag coefficient).
ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Annex K.1 quantization tables (luminance, chrominance).
QT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
QT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# Annex K.3 typical Huffman tables as (BITS[1..16], HUFFVAL) pairs.
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

# Orthonormal 8x8 DCT-II matrix: block_dct = C @ block @ C.T
_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _C[_k, _n] = np.cos(np.pi * (2 * _n + 1) * _k / 16.0)
_C[0, :] *= np.sqrt(1.0 / 8.0)
_C[1:, :] *= np.sqrt(2.0 / 8.0)


def idct2(coeffs: np.ndarray) -> np.ndarray:
    return _C.T @ coeffs @ _C


# --------------------------------------------------------------------------
# Canonical Huffman tables (Annex C)
# --------------------------------------------------------------------------


def build_huffman(bits: list[int], vals: list[int]):
    """(BITS, HUFFVAL) → encode map {symbol: (code, length)} and decode
    map {(length, code): symbol}, canonical code assignment."""
    encode: dict[int, tuple[int, int]] = {}
    decode: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            sym = vals[k]
            encode[sym] = (code, length)
            decode[(length, code)] = sym
            code += 1
            k += 1
        code <<= 1
    return encode, decode


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.out)


class _BitReader:
    """Entropy-segment bit reader with 0xFF00 unstuffing; RSTn markers
    reset the stream (handled by the caller via `sync_restart`)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("truncated JPEG entropy data")
        b = self.data[self.pos]
        if b == 0xFF:
            if self.pos + 1 >= len(self.data):
                raise ValueError("truncated JPEG entropy data")
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:
                raise _RestartMarker(nxt)
            else:
                raise ValueError(f"unexpected marker 0xFF{nxt:02X} in scan")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def sync_restart(self) -> None:
        """Consume an RSTn marker at the current byte position."""
        self.acc = 0
        self.nbits = 0
        if (
            self.data[self.pos] == 0xFF
            and 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            self.pos += 2
        else:
            raise ValueError("expected restart marker")


class _RestartMarker(Exception):
    def __init__(self, marker: int) -> None:
        self.marker = marker


def _decode_huff(reader: _BitReader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _extend(v: int, t: int) -> int:
    """Spec EXTEND: map t-bit magnitude to signed value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _magnitude(v: int) -> tuple[int, int]:
    """Signed value → (category t, t-bit code)."""
    if v == 0:
        return 0, 0
    a = abs(v)
    t = a.bit_length()
    return t, (v if v > 0 else v + (1 << t) - 1)


# --------------------------------------------------------------------------
# Encoder (grayscale / YCbCr 4:4:4, Annex K tables)
# --------------------------------------------------------------------------


def _quality_scale(table: np.ndarray, quality: int) -> np.ndarray:
    quality = max(1, min(100, quality))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (table * s + 50) // 100
    return np.clip(q, 1, 255)


def _encode_blocks(pixels: np.ndarray, qt: np.ndarray) -> np.ndarray:
    """HxW uint8 plane → (n_blocks, 64) quantized zigzag coeffs,
    blocks in raster order, edge blocks replicated-padded."""
    h, w = pixels.shape
    bh, bw = (h + 7) // 8, (w + 7) // 8
    padded = np.empty((bh * 8, bw * 8), dtype=np.float64)
    padded[:h, :w] = pixels
    padded[h:, :w] = pixels[-1:, :]
    padded[:h, w:] = padded[:h, w - 1 : w]
    padded[h:, w:] = padded[h - 1, w - 1]
    blocks = (
        padded.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
        - 128.0
    )
    coeffs = np.einsum("ij,bjk,lk->bil", _C, blocks, _C)
    qtab = qt.reshape(8, 8).astype(np.float64)
    quant = np.round(coeffs / qtab).astype(np.int64)
    return quant.reshape(-1, 64)[:, ZIGZAG]


def _entropy_encode(
    writer: _BitWriter, zz: np.ndarray, pred: int, dc_enc, ac_enc
) -> int:
    dc = int(zz[0])
    t, bitsv = _magnitude(dc - pred)
    code, ln = dc_enc[t]
    writer.write(code, ln)
    if t:
        writer.write(bitsv, t)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_enc[0xF0]  # ZRL
            writer.write(code, ln)
            run -= 16
        t, bitsv = _magnitude(v)
        code, ln = ac_enc[(run << 4) | t]
        writer.write(code, ln)
        writer.write(bitsv, t)
        run = 0
        if k == last_nz:
            break
    if last_nz < 63:
        code, ln = ac_enc[0x00]  # EOB
        writer.write(code, ln)
    return dc


def _marker(tag: int, payload: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, tag, len(payload) + 2) + payload


def encode_jpeg(
    pixels: bytes, width: int, height: int, channels: int = 1, quality: int = 75
) -> bytes:
    """Baseline JFIF encode: grayscale (channels=1) or interleaved RGB
    (channels=3, converted to YCbCr 4:4:4). Annex K tables scaled by
    the libjpeg-compatible quality formula."""
    arr = np.frombuffer(bytes(pixels), dtype=np.uint8)
    if channels == 1:
        planes = [arr.reshape(height, width).astype(np.float64)]
    elif channels == 3:
        rgb = arr.reshape(height, width, 3).astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        planes = [y, np.clip(cb, 0, 255), np.clip(cr, 0, 255)]
    else:
        raise ValueError("channels must be 1 or 3")

    qt_l = _quality_scale(QT_LUMA, quality)
    qt_c = _quality_scale(QT_CHROMA, quality)
    qts = [qt_l] + ([qt_c] if channels == 3 else [])
    dc_l_enc, _ = build_huffman(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_l_enc, _ = build_huffman(AC_LUMA_BITS, AC_LUMA_VALS)
    dc_c_enc, _ = build_huffman(DC_CHROMA_BITS, DC_CHROMA_VALS)
    ac_c_enc, _ = build_huffman(AC_CHROMA_BITS, AC_CHROMA_VALS)

    out = bytearray(b"\xff\xd8")  # SOI
    out += _marker(
        0xE0, b"JFIF\x00" + struct.pack(">BBBHHBB", 1, 1, 0, 72, 72, 0, 0)
    )
    for i, qt in enumerate(qts):
        out += _marker(
            0xDB, bytes([i]) + bytes(int(x) for x in qt[ZIGZAG])
        )
    comp = bytearray()
    for ci in range(channels):
        comp += bytes([ci + 1, 0x11, 0 if ci == 0 else 1])
    out += _marker(
        0xC0, struct.pack(">BHHB", 8, height, width, channels) + bytes(comp)
    )
    for cls, tid, bits, vals in [
        (0, 0, DC_LUMA_BITS, DC_LUMA_VALS),
        (1, 0, AC_LUMA_BITS, AC_LUMA_VALS),
    ] + (
        [
            (0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS),
            (1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS),
        ]
        if channels == 3
        else []
    ):
        out += _marker(
            0xC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)
        )
    scomp = bytearray()
    for ci in range(channels):
        tid = 0 if ci == 0 else 1
        scomp += bytes([ci + 1, (tid << 4) | tid])
    out += _marker(0xDA, bytes([channels]) + bytes(scomp) + b"\x00\x3f\x00")

    # Interleaved MCU = one 8x8 block per component (4:4:4 / grayscale).
    all_zz = [
        _encode_blocks(p, qts[0 if i == 0 else -1]) for i, p in enumerate(planes)
    ]
    writer = _BitWriter()
    preds = [0] * channels
    n_mcus = all_zz[0].shape[0]
    for m in range(n_mcus):
        for ci in range(channels):
            dc_enc = dc_l_enc if ci == 0 else dc_c_enc
            ac_enc = ac_l_enc if ci == 0 else ac_c_enc
            preds[ci] = _entropy_encode(
                writer, all_zz[ci][m], preds[ci], dc_enc, ac_enc
            )
    out += writer.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --------------------------------------------------------------------------
# Decoder (baseline SOF0; grayscale + YCbCr with subsampling; DRI/RST)
# --------------------------------------------------------------------------


def decode_jpeg(payload: bytes) -> dict:
    """Decode a baseline JPEG. Returns {kind, width, height, channels,
    pixels: bytes} — grayscale bytes for 1 component, interleaved RGB
    for 3 (same contract as decode_pnm/decode_png)."""
    data = bytes(payload)
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None
    restart_interval = 0
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a
        # marker code — skip them so real-world files parse
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1
        tag = data[pos + 1]
        if tag == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        seg = data[pos + 4 : pos + 2 + seglen]
        if tag == 0xDB:  # DQT (possibly multiple tables per segment)
            i = 0
            while i < len(seg):
                prec, tid = seg[i] >> 4, seg[i] & 0x0F
                i += 1
                n = 64 * (2 if prec else 1)
                raw = seg[i : i + n]
                i += n
                vals = (
                    np.frombuffer(raw, dtype=">u2").astype(np.int64)
                    if prec
                    else np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
                )
                qt = np.zeros(64, dtype=np.int64)
                qt[ZIGZAG] = vals
                qtables[tid] = qt
        elif tag == 0xC4:  # DHT (possibly multiple tables)
            i = 0
            while i < len(seg):
                cls, tid = seg[i] >> 4, seg[i] & 0x0F
                bits = list(seg[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(seg[i + 17 : i + 17 + nv])
                i += 17 + nv
                _, dec = build_huffman(bits, vals)
                (huff_ac if cls else huff_dc)[tid] = dec
        elif tag == 0xC0 or tag == 0xC1:  # baseline / extended sequential
            precision, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if precision != 8:
                raise ValueError("only 8-bit precision supported")
            comps = []
            for ci in range(nc):
                cid, samp, qid = seg[6 + 3 * ci : 9 + 3 * ci]
                comps.append(
                    {"id": cid, "h": samp >> 4, "v": samp & 0x0F, "qid": qid}
                )
            frame = {"w": w, "h": h, "comps": comps}
        elif tag in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError("only baseline (SOF0/SOF1) JPEG supported")
        elif tag == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif tag == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            sel = {}
            for ci in range(ns):
                cid, tids = seg[1 + 2 * ci], seg[2 + 2 * ci]
                sel[cid] = (tids >> 4, tids & 0x0F)
            scan_pos = pos + 2 + seglen
            return _decode_scan(
                data, scan_pos, frame, sel, qtables, huff_dc, huff_ac,
                restart_interval,
            )
        pos += 2 + seglen
    raise ValueError("no SOS marker found")


def _decode_scan(
    data, pos, frame, sel, qtables, huff_dc, huff_ac, restart_interval
):
    w, h, comps = frame["w"], frame["h"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    planes = []
    for c in comps:
        pw, ph = mcux * 8 * c["h"], mcuy * 8 * c["v"]
        planes.append(np.zeros((ph, pw), dtype=np.float64))

    reader = _BitReader(data, pos)
    preds = [0] * len(comps)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                reader.sync_restart()
                preds = [0] * len(comps)
            try:
                for ci, c in enumerate(comps):
                    dc_t, ac_t = sel[c["id"]]
                    qt = qtables[c["qid"]].reshape(8, 8)
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            zz = _decode_block(
                                reader, huff_dc[dc_t], huff_ac[ac_t], preds, ci
                            )
                            coeffs = np.zeros(64, dtype=np.float64)
                            coeffs[ZIGZAG] = zz
                            block = idct2(coeffs.reshape(8, 8) * qt) + 128.0
                            y0 = (my * c["v"] + by) * 8
                            x0 = (mx * c["h"] + bx) * 8
                            planes[ci][y0 : y0 + 8, x0 : x0 + 8] = block
            except _RestartMarker:
                raise ValueError("restart marker inside MCU")
            mcu_count += 1

    out_planes = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        # upsample subsampled components to full resolution (nearest)
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        out_planes.append(p[:h, :w])

    if len(comps) == 1:
        pix = np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)
        return {
            "kind": "image", "width": w, "height": h, "channels": 1,
            "pixels": pix.tobytes(),
        }
    y, cb, cr = out_planes[0], out_planes[1] - 128.0, out_planes[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack(
        [np.clip(np.round(x), 0, 255) for x in (r, g, b)], axis=-1
    ).astype(np.uint8)
    return {
        "kind": "image", "width": w, "height": h, "channels": 3,
        "pixels": rgb.tobytes(),
    }


def _decode_block(reader, dc_table, ac_table, preds, ci):
    zz = np.zeros(64, dtype=np.int64)
    t = _decode_huff(reader, dc_table)
    diff = _extend(reader.read_bits(t), t) if t else 0
    preds[ci] += diff
    zz[0] = preds[ci]
    k = 1
    while k < 64:
        rs = _decode_huff(reader, ac_table)
        run, t = rs >> 4, rs & 0x0F
        if t == 0:
            if run == 15:  # ZRL
                k += 16
                continue
            break  # EOB
        k += run
        if k > 63:
            raise ValueError("AC run past block end")
        zz[k] = _extend(reader.read_bits(t), t)
        k += 1
    return zz
