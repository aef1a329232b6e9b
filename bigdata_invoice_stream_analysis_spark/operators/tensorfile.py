"""Tensor file ingestion — .npy / .npz / .safetensors, the formats
embedding dumps and model weights actually ship in.

Built against the public specs:

* NPY (numpy NEP-1 / ``numpy.lib.format``): ``\\x93NUMPY`` magic,
  version, 2-byte (v1) or 4-byte (v2+) little-endian header length,
  then a Python-literal header dict ``{'descr', 'fortran_order',
  'shape'}`` — parsed here with ``ast.literal_eval`` (safe, no
  eval), padded to 64-byte alignment, then raw array bytes.
* NPZ: a ZIP of .npy members — walked with our own central-directory
  reader (operators/zip.py), not a zipfile import, so one code path
  serves corpus bundles and tensor bundles alike.
* safetensors (huggingface format spec): ``u64le`` header length +
  JSON header ``{name: {dtype, shape, data_offsets}}`` (+ optional
  ``__metadata__``), then a flat data region; offsets are validated
  against the region (overlap/ragged claims raise — the format's
  whole point is that a reader can trust them).

Numeric payload stats (min/max/finite-ness) are computed with
``numpy.frombuffer`` — vectorized native decode, the appropriate
tool since Arrow batches already carry numpy arrays; this is not a
parser shortcut (framing/headers/offsets are all walked from
scratch), it is the same boundary as zlib in the ZIP path: the spec
machinery is ours, the byte-crunching primitive is the platform's.

Scale posture: Arrow mapInPandas, one file per row; NPZ/safetensors
headers are read without touching tensor payloads unless stats are
requested.

Reference: n/a (extension surface).
"""

from __future__ import annotations

import ast
import json
import struct
import zlib

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


def npy_stats(data: bytes, meta: dict | None = None) -> dict:
    """min/max/n_finite over a numeric .npy payload (numpy
    vectorized).  Non-numeric dtypes → all-None."""
    import numpy as np

    meta = meta or parse_npy(data)
    if meta["dtype"] not in _NUMERIC or meta["n_elements"] == 0:
        return {"vmin": None, "vmax": None, "n_finite": None}
    arr = np.frombuffer(
        data, dtype=meta["descr"], count=meta["n_elements"],
        offset=meta["data_offset"],
    )
    if arr.dtype.kind == "f":
        finite = arr[np.isfinite(arr)]
        return {
            "vmin": float(finite.min()) if finite.size else None,
            "vmax": float(finite.max()) if finite.size else None,
            "n_finite": int(finite.size),
        }
    return {"vmin": float(arr.min()), "vmax": float(arr.max()),
            "n_finite": int(arr.size)}


def parse_npz(data: bytes) -> list[dict]:
    """Walk an .npz (ZIP of .npy members) with our own
    central-directory reader: one dict per member (name + parse_npy
    fields).  Member decode errors are per-member data
    (``error`` set), not a dead archive."""
    from bigdata_invoice_stream_analysis_spark.operators.zip import (
        parse_zip,
        read_zip_member,
    )

    out = []
    for m in parse_zip(data):
        if m["is_dir"]:
            continue
        name = m["name"]
        name = name[:-4] if name.endswith(".npy") else name
        try:
            body = read_zip_member(data, m)
            meta = parse_npy(body)
            meta = dict(meta, name=name, error=None, _body=body)
        except (ValueError, zlib.error) as exc:
            # deflated members (savez_compressed) can fail inflate
            meta = {"name": name, "error": str(exc)[:120]}
        out.append(meta)
    return out


def parse_safetensors(data: bytes) -> dict:
    """Parse a .safetensors: ``{metadata, tensors: [{name, dtype,
    shape, nbytes, start, end}]}`` with offsets validated against the
    data region."""
    if len(data) < 8:
        raise ValueError("safetensors: truncated length prefix")
    (hlen,) = struct.unpack_from("<Q", data, 0)
    if hlen > len(data) - 8:
        raise ValueError("safetensors: header length exceeds file")
    try:
        header = json.loads(data[8 : 8 + hlen].decode("utf-8"))
    except (UnicodeDecodeError, json.JSONDecodeError) as exc:
        raise ValueError(f"safetensors: bad header ({exc})") from None
    if not isinstance(header, dict):
        raise ValueError("safetensors: header is not an object")
    region = len(data) - 8 - hlen
    tensors = []
    for name, spec in header.items():
        if name == "__metadata__":
            continue
        if not isinstance(spec, dict) or "data_offsets" not in spec:
            raise ValueError(f"safetensors: bad tensor spec {name!r}")
        start, end = spec["data_offsets"]
        if not (0 <= start <= end <= region):
            raise ValueError(
                f"safetensors: offsets out of range for {name!r}")
        shape = tuple(spec.get("shape", ()))
        tensors.append({
            "name": name,
            "dtype": spec.get("dtype"),
            "shape": shape,
            "nbytes": end - start,
            "start": 8 + hlen + start,
            "end": 8 + hlen + end,
        })
    tensors.sort(key=lambda t: (t["start"], t["name"]))
    for a, b in zip(tensors, tensors[1:]):
        if a["end"] > b["start"]:
            raise ValueError(
                f"safetensors: overlapping tensors {a['name']!r}/"
                f"{b['name']!r}")
    return {
        "metadata": header.get("__metadata__") or {},
        "tensors": tensors,
    }


# --- Spark operator --------------------------------------------------------


def tensor_file_profile(files, *, with_stats: bool = True):
    """Explode (file_id, payload) tensor files — npy, npz, or
    safetensors, dispatched by magic — into one row per tensor:
    format, name, dtype, shape, element/byte counts, and (numeric
    npy/npz, when requested) min/max/finite stats.  Map-side only."""
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("file_id", T.LongType(), False),
        T.StructField("format", T.StringType(), False),
        T.StructField("tensor", T.StringType(), True),
        T.StructField("dtype", T.StringType(), True),
        T.StructField("shape_json", T.StringType(), True),
        T.StructField("n_elements", T.LongType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("vmin", T.DoubleType(), True),
        T.StructField("vmax", T.DoubleType(), True),
        T.StructField("error", T.StringType(), True),
    ])
    cols = [f.name for f in out_schema.fields]

    def batches(it):
        import json as _json

        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.tensorfile import (
            NPY_MAGIC,
            npy_stats,
            parse_npy,
            parse_npz,
            parse_safetensors,
        )

        for pdf in it:
            out = {k: [] for k in cols}

            def emit(fid, fmt, **kw):
                row = dict.fromkeys(cols)
                row["file_id"] = fid
                row["format"] = fmt
                row.update(kw)
                for k in cols:
                    out[k].append(row[k])

            for fid, p in zip(pdf["file_id"], pdf["payload"]):
                raw = bytes(p)
                try:
                    if raw[:6] == NPY_MAGIC:
                        meta = parse_npy(raw)
                        st = (npy_stats(raw, meta) if with_stats
                              else {"vmin": None, "vmax": None})
                        emit(fid, "npy", tensor=None,
                             dtype=meta["dtype"],
                             shape_json=_json.dumps(
                                 list(meta["shape"])),
                             n_elements=meta["n_elements"],
                             n_bytes=meta["data_nbytes"],
                             vmin=st["vmin"], vmax=st["vmax"])
                    elif raw[:2] == b"PK":
                        for m in parse_npz(raw):
                            if m.get("error"):
                                emit(fid, "npz", tensor=m["name"],
                                     error=m["error"])
                                continue
                            st = (npy_stats(m.pop("_body"), m)
                                  if with_stats
                                  else {"vmin": None, "vmax": None})
                            emit(fid, "npz", tensor=m["name"],
                                 dtype=m["dtype"],
                                 shape_json=_json.dumps(
                                     list(m["shape"])),
                                 n_elements=m["n_elements"],
                                 n_bytes=m["data_nbytes"],
                                 vmin=st["vmin"], vmax=st["vmax"])
                    else:
                        meta = parse_safetensors(raw)
                        for t in meta["tensors"]:
                            n = 1
                            for d in t["shape"]:
                                n *= d
                            emit(fid, "safetensors",
                                 tensor=t["name"], dtype=t["dtype"],
                                 shape_json=_json.dumps(
                                     list(t["shape"])),
                                 n_elements=n, n_bytes=t["nbytes"])
                except ValueError as exc:
                    emit(fid, "error", error=str(exc)[:120])
            yield pd.DataFrame(out)

    return files.mapInPandas(batches, schema=out_schema)
