"""NPY headers parsed from scratch and cross-validated against
numpy's own writer."""

from __future__ import annotations

import io
import struct
import sys
from pathlib import Path

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bigdata_invoice_stream_analysis_spark.operators.tensorfile import (
    parse_npy,
)


def _npy_bytes(arr, version=None) -> bytes:
    buf = io.BytesIO()
    if version:
        np.lib.format.write_array(buf, arr, version=version)
    else:
        np.save(buf, arr)
    return buf.getvalue()


# --- npy: numpy writes, we parse -------------------------------------------

@pytest.mark.parametrize("arr", [
    np.arange(12, dtype=np.int64).reshape(3, 4),
    np.linspace(-1, 1, 7, dtype=np.float32),
    np.array([], dtype=np.float64),
    np.array(3.5),  # zero-dim
    np.ones((2, 3), dtype=np.uint8, order="F"),
    np.array([True, False, True]),
])
def test_parse_npy_matches_numpy(arr):
    blob = _npy_bytes(arr)
    meta = parse_npy(blob)
    assert meta["shape"] == arr.shape
    assert meta["n_elements"] == arr.size
    assert meta["fortran_order"] == (
        arr.flags["F_CONTIGUOUS"] and not arr.flags["C_CONTIGUOUS"])
    assert meta["data_nbytes"] == arr.nbytes
    # offset agrees with numpy's own reader position
    again = np.load(io.BytesIO(blob))
    np.testing.assert_array_equal(
        np.frombuffer(blob, dtype=arr.dtype, count=arr.size,
                      offset=meta["data_offset"]),
        again.reshape(-1, order="F" if meta["fortran_order"] else "C"),
    )


def test_parse_npy_v2_header():
    arr = np.arange(5, dtype=np.int32)
    blob = _npy_bytes(arr, version=(2, 0))
    meta = parse_npy(blob)
    assert meta["version"] == "2.0"
    assert meta["shape"] == (5,)
    assert meta["dtype"] == "i4"


def test_parse_npy_rejects_malformed():
    good = _npy_bytes(np.arange(4))
    with pytest.raises(ValueError, match="magic"):
        parse_npy(b"NOPE" + good[4:])
    with pytest.raises(ValueError, match="header length"):
        parse_npy(good[:8] + b"\xff\xff" + good[10:12])
    # header that is valid Python but not a dict
    blob = bytearray(good)
    hlen = struct.unpack_from("<H", blob, 8)[0]
    evil = b"[1,2,3]".ljust(hlen)
    blob[10 : 10 + hlen] = evil
    with pytest.raises(ValueError, match="header"):
        parse_npy(bytes(blob))
    # shape × itemsize beyond the file
    arr = np.arange(4, dtype=np.int64)
    blob = _npy_bytes(arr)
    with pytest.raises(ValueError, match="shorter"):
        parse_npy(blob[:-8])


@settings(max_examples=20, deadline=None)
@given(st.lists(st.integers(-1000, 1000), min_size=0, max_size=50),
       st.sampled_from(["int64", "float32", "uint8"]))
def test_property_npy_roundtrip(values, dtype):
    if dtype == "uint8":
        values = [v % 256 for v in values]
    arr = np.array(values, dtype=dtype)
    meta = parse_npy(_npy_bytes(arr))
    assert meta["n_elements"] == len(values)
    assert meta["data_nbytes"] == arr.nbytes
