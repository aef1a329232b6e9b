"""GIF block-structure parsing: signature/screen descriptor, frame
and delay accounting, NETSCAPE loop extension, transparency/interlace
flags, error surfacing, hypothesis roundtrips, and the Spark
operator."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bigdata_invoice_stream_analysis_spark.operators.gif import (
    encode_minimal_gif,
    parse_gif,
)


def test_animated_gif_roundtrip():
    p = parse_gif(encode_minimal_gif([10, 20, 30], width=64, height=48))
    assert p == {
        "version": "89a",
        "width": 64,
        "height": 48,
        "n_frames": 3,
        "animated": True,
        "duration_ms": 600,
        "loop_count": 0,
        "transparent": False,
        "interlaced": False,
        "palette_size": 4,
    }


def test_still_gif_and_flags():
    p = parse_gif(encode_minimal_gif(
        [0], loop_count=None, transparent=True, interlaced=True,
        version=b"87a",
    ))
    assert p["version"] == "87a"
    assert p["animated"] is False
    assert p["loop_count"] is None
    assert p["transparent"] is True
    assert p["interlaced"] is True


def test_finite_loop_count():
    p = parse_gif(encode_minimal_gif([5, 5], loop_count=7))
    assert p["loop_count"] == 7


def test_gif_errors():
    with pytest.raises(ValueError, match="not a GIF"):
        parse_gif(b"PNG\x0d\x0a")
    good = encode_minimal_gif([10])
    with pytest.raises(ValueError, match="without trailer|sub-block|truncated"):
        parse_gif(good[:-3])
    bad = bytearray(good)
    bad[-2] = 0x99  # clobber a block introducer
    with pytest.raises(ValueError):
        parse_gif(bytes(bad))


@given(
    st.lists(st.integers(min_value=0, max_value=600), min_size=1,
             max_size=10),
    st.integers(min_value=1, max_value=4096),
    st.integers(min_value=1, max_value=4096),
    st.one_of(st.none(), st.integers(min_value=0, max_value=500)),
    st.booleans(),
)
@settings(max_examples=100, deadline=None)
def test_gif_roundtrip_property(delays, w, h, loops, transparent):
    p = parse_gif(encode_minimal_gif(
        delays, width=w, height=h, loop_count=loops,
        transparent=transparent,
    ))
    assert (p["width"], p["height"]) == (w, h)
    assert p["n_frames"] == len(delays)
    assert p["duration_ms"] == sum(delays) * 10
    assert p["loop_count"] == loops
    assert p["transparent"] is transparent
