"""NPY header parsing — the tensor format embedding dumps ship in,
reached through content triage (operators/sniff.py).

Built against numpy NEP-1 / ``numpy.lib.format``: ``\\x93NUMPY`` magic,
version, 2-byte (v1) or 4-byte (v2+) little-endian header length,
then a Python-literal header dict ``{'descr', 'fortran_order',
'shape'}`` — parsed here with ``ast.literal_eval`` (safe, no eval),
padded to 64-byte alignment, then raw array bytes. The header is read
without touching the tensor payload.

Reference: n/a (extension surface).
"""

from __future__ import annotations

import ast
import struct

NPY_MAGIC = b"\x93NUMPY"

# dtype descr → (struct-free numpy dtype string, bytes per element)
_NUMERIC = {
    "f2": 2, "f4": 4, "f8": 8,
    "i1": 1, "i2": 2, "i4": 4, "i8": 8,
    "u1": 1, "u2": 2, "u4": 4, "u8": 8,
    "b1": 1,
}


def _descr_info(descr) -> tuple[str, int | None]:
    """('<f4') → ('f4', 4); structured/object descrs → ('struct'/
    'object', None)."""
    if not isinstance(descr, str):
        return "struct", None
    body = descr.lstrip("<>|=")
    if body in _NUMERIC:
        return body, _NUMERIC[body]
    if body.startswith(("S", "U", "V")):
        return body, None
    if body.startswith("O"):
        return "object", None
    return body, None


def parse_npy(data: bytes) -> dict:
    """Parse one .npy: ``{dtype, shape, fortran_order, n_elements,
    data_offset, data_nbytes, version}``.  Malformed framing raises
    ValueError."""
    if data[:6] != NPY_MAGIC:
        raise ValueError("npy: missing \\x93NUMPY magic")
    if len(data) < 10:
        raise ValueError("npy: truncated preamble")
    major, minor = data[6], data[7]
    if major == 1:
        (hlen,) = struct.unpack_from("<H", data, 8)
        hstart = 10
    elif major in (2, 3):
        if len(data) < 12:
            raise ValueError("npy: truncated v2 preamble")
        (hlen,) = struct.unpack_from("<I", data, 8)
        hstart = 12
    else:
        raise ValueError(f"npy: unsupported version {major}.{minor}")
    if hstart + hlen > len(data):
        raise ValueError("npy: header length exceeds file")
    try:
        header = ast.literal_eval(
            data[hstart : hstart + hlen].decode("latin-1").strip())
    except (ValueError, SyntaxError) as exc:
        raise ValueError(f"npy: bad header literal ({exc})") from None
    if not isinstance(header, dict) or not {
        "descr", "fortran_order", "shape"
    } <= set(header):
        raise ValueError("npy: header missing required keys")
    if not isinstance(header["shape"], (tuple, list)):
        raise ValueError("npy: shape is not a sequence")
    shape = tuple(header["shape"])
    if not all(isinstance(d, int) and d >= 0 for d in shape):
        raise ValueError("npy: non-integer shape")
    n = 1
    for d in shape:
        n *= d
    kind, itemsize = _descr_info(header["descr"])
    data_offset = hstart + hlen
    nbytes = n * itemsize if itemsize else len(data) - data_offset
    if itemsize and data_offset + nbytes > len(data):
        raise ValueError("npy: data shorter than shape × itemsize")
    return {
        "dtype": kind,
        "descr": header["descr"] if isinstance(header["descr"], str)
        else "structured",
        "shape": shape,
        "fortran_order": bool(header["fortran_order"]),
        "n_elements": n,
        "data_offset": data_offset,
        "data_nbytes": nbytes,
        "version": f"{major}.{minor}",
    }
