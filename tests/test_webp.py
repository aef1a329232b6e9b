"""WebP: simple lossy (RFC 6386 key-frame header), simple lossless
(VP8L packed dims), extended (VP8X flags + canvas), animation frames
and durations, metadata presence bits, error surfacing, hypothesis
roundtrips, and the Spark operator."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bigdata_invoice_stream_analysis_spark.operators.webp import (
    encode_webp,
    parse_webp,
)


def test_simple_lossy():
    p = parse_webp(encode_webp(320, 240))
    assert (p["variant"], p["width"], p["height"]) == ("lossy", 320, 240)
    assert p["alpha"] is False
    assert p["animated"] is False
    assert p["n_frames"] == 1
    assert not (p["has_exif"] or p["has_xmp"] or p["has_icc"])


def test_simple_lossless_with_alpha_hint():
    p = parse_webp(encode_webp(100, 50, variant="lossless", alpha=True))
    assert (p["variant"], p["width"], p["height"]) == (
        "lossless", 100, 50,
    )
    assert p["alpha"] is True


def test_extended_animated_with_metadata():
    p = parse_webp(encode_webp(
        64, 48, frames=[100, 150, 250], has_exif=True, has_xmp=True,
    ))
    assert p["variant"] == "extended"
    assert (p["width"], p["height"]) == (64, 48)
    assert p["animated"] is True
    assert p["n_frames"] == 3
    assert p["duration_ms"] == 500
    assert p["has_exif"] is True
    assert p["has_xmp"] is True


def test_alpha_on_lossy_promotes_to_extended():
    p = parse_webp(encode_webp(16, 16, alpha=True))
    assert p["variant"] == "extended"
    assert p["alpha"] is True
    assert p["n_frames"] == 1


def test_webp_errors():
    with pytest.raises(ValueError, match="RIFF/WEBP"):
        parse_webp(b"GIF89a......")
    good = bytearray(encode_webp(32, 32))
    good[15] ^= 0xFF  # clobber the VP8 chunk size
    with pytest.raises(ValueError, match="overruns|no VP8"):
        parse_webp(bytes(good))
    # interframe where a key frame is required
    kf = bytearray(encode_webp(32, 32))
    i = kf.find(b"\x9d\x01\x2a")
    kf[i - 3] |= 0x01
    with pytest.raises(ValueError, match="interframe"):
        parse_webp(bytes(kf))


@given(
    st.integers(min_value=1, max_value=16383),
    st.integers(min_value=1, max_value=16383),
    st.sampled_from(["lossy", "lossless"]),
    st.booleans(),
)
@settings(max_examples=120, deadline=None)
def test_webp_dims_roundtrip_property(w, h, variant, alpha):
    p = parse_webp(encode_webp(w, h, variant=variant, alpha=alpha))
    assert (p["width"], p["height"]) == (w, h)
    if variant == "lossless":
        assert p["alpha"] is alpha


@given(st.lists(st.integers(min_value=0, max_value=10_000),
                min_size=1, max_size=6))
@settings(max_examples=60, deadline=None)
def test_webp_animation_roundtrip_property(frames):
    p = parse_webp(encode_webp(128, 96, frames=frames))
    assert p["n_frames"] == len(frames)
    assert p["duration_ms"] == sum(frames)
