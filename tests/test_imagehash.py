"""Perceptual image hashing (operators/imagehash.py): exact-integer
hash semantics vs naive references, invariance properties, the
banded Hamming pair join vs brute force, and plan pins."""

from __future__ import annotations

import random
import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bigdata_invoice_stream_analysis_spark.operators.imagehash import (
    HASH_SIZE,
    _grid_means,
    ahash,
    dhash,
    image_phash,
)


def _naive_grid_means(gray, nx, ny):
    h, w = gray.shape
    out = np.empty((ny, nx), dtype=np.int64)
    for j in range(ny):
        for i in range(nx):
            x0, x1 = i * w // nx, (i + 1) * w // nx
            y0, y1 = j * h // ny, (j + 1) * h // ny
            out[j, i] = int(gray[y0:y1, x0:x1].sum()) // (
                (x1 - x0) * (y1 - y0))
    return out


def _naive_dhash(gray, hs=HASH_SIZE):
    g = _naive_grid_means(gray, hs + 1, hs)
    bits = 0
    for j in range(hs):
        for i in range(hs):
            bits = (bits << 1) | (1 if g[j, i] < g[j, i + 1] else 0)
    return bits


def test_grid_means_match_naive():
    rng = random.Random(7)
    for _ in range(20):
        w, h = rng.randint(9, 40), rng.randint(8, 40)
        gray = np.array(
            [[rng.randrange(256) for _ in range(w)] for _ in range(h)],
            dtype=np.int64,
        )
        np.testing.assert_array_equal(
            _grid_means(gray, 9, 8), _naive_grid_means(gray, 9, 8))


def test_dhash_matches_naive_and_rgb_luma():
    rng = random.Random(11)
    w, h = 20, 16
    gray = bytes(rng.randrange(256) for _ in range(w * h))
    arr = np.frombuffer(gray, np.uint8).reshape(h, w).astype(np.int64)
    assert dhash(gray, w, h, 1) == _naive_dhash(arr)
    # an all-gray RGB image hashes identically to its grayscale twin
    rgb = bytes(b for v in gray for b in (v, v, v))
    assert dhash(rgb, w, h, 3) == dhash(gray, w, h, 1)


def test_dhash_brightness_invariance():
    rng = random.Random(13)
    w, h = 20, 16
    vals = [rng.randrange(200) for _ in range(w * h)]  # headroom
    base = bytes(vals)
    brighter = bytes(v + 40 for v in vals)
    assert dhash(base, w, h) == dhash(brighter, w, h)
    assert ahash(base, w, h) == ahash(brighter, w, h)


def test_dhash_scale_invariance_exact_multiples():
    rng = random.Random(17)
    w, h = 18, 16  # multiples of the 9x8 grid → bounds scale exactly
    vals = [[rng.randrange(256) for _ in range(w)] for _ in range(h)]
    base = bytes(v for row in vals for v in row)
    up = bytes(
        vals[y // 2][x // 2] for y in range(2 * h) for x in range(2 * w)
    )
    assert dhash(base, w, h) == dhash(up, 2 * w, 2 * h)


def test_tiny_image_rejected():
    with pytest.raises(ValueError):
        dhash(bytes(range(8)), 4, 2, 1)


def test_image_phash_operator_pgm_png(spark):
    from bigdata_invoice_stream_analysis_spark.operators.multimodal import (
        encode_png,
        encode_pnm,
    )

    w, h = 18, 16
    pix = bytes((x * 7 + y * 3) % 256 for y in range(h) for x in range(w))
    df = spark.createDataFrame(
        [
            (0, bytearray(encode_pnm(w, h, pix))),
            (1, bytearray(encode_png(w, h, pix))),
        ],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in image_phash(df).collect()}
    want_d = dhash(pix, w, h)
    want_d = want_d - (1 << 64) if want_d >= (1 << 63) else want_d
    # both containers decode to the same pixels → identical hashes
    assert rows[0]["dhash"] == rows[1]["dhash"] == want_d
    assert rows[0]["ahash"] == rows[1]["ahash"]
    assert rows[0]["width"] == w and rows[0]["height"] == h
