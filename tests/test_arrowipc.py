"""Arrow IPC (Feather v2) metadata: from-scratch flatbuffers reader
+ footer/message walk, cross-validated against pyarrow.ipc on files
pyarrow writes; corruption contract; Spark profile operator."""

from __future__ import annotations

import io
import random
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.ipc as ipc
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bigdata_invoice_stream_analysis_spark.operators.arrowipc import (
    parse_arrow_file,
)


def _ipc_bytes(table, max_chunksize=None) -> bytes:
    buf = io.BytesIO()
    with ipc.new_file(buf, table.schema) as w:
        w.write_table(table, max_chunksize=max_chunksize)
    return buf.getvalue()


TABLE = pa.table({
    "a": [1, 2, None, 4, 5],
    "s": ["x", None, "z", "w", None],
    "f": pa.array([0.5, 1.5, 2.5, 3.5, 4.5], type=pa.float32()),
    "b": [True, False, True, None, False],
    "u": pa.array([7, 8, 9, 10, 11], type=pa.uint16()),
})


def test_schema_and_batches_match_pyarrow():
    blob = _ipc_bytes(TABLE, max_chunksize=2)
    meta = parse_arrow_file(blob)
    ref = ipc.open_file(io.BytesIO(blob))
    assert meta["num_rows"] == 5
    assert meta["n_batches"] == ref.num_record_batches == 3
    assert [f["name"] for f in meta["schema"]] == TABLE.column_names
    assert [f["type"] for f in meta["schema"]] == [
        "int64", "utf8", "float", "bool", "uint16"]
    assert all(f["nullable"] for f in meta["schema"])
    for bi, b in enumerate(meta["batches"]):
        rb = ref.get_batch(bi)
        assert b["rows"] == rb.num_rows
        for ci, node in enumerate(b["nodes"]):
            assert node["null_count"] == rb.column(ci).null_count


def test_total_null_counts():
    meta = parse_arrow_file(_ipc_bytes(TABLE))
    total = sum(n["null_count"] for b in meta["batches"]
                for n in b["nodes"])
    assert total == sum(
        TABLE.column(c).null_count for c in TABLE.column_names) == 4


def test_nested_and_dictionary_fields():
    t = pa.table({
        "lst": pa.array([[1, 2], [], [3]],
                        type=pa.list_(pa.int32())),
        "st": pa.array([{"x": 1}, {"x": 2}, None],
                       type=pa.struct([("x", pa.int64())])),
        "d": pa.array(["a", "b", "a"]).dictionary_encode(),
    })
    meta = parse_arrow_file(_ipc_bytes(t))
    by_name = {f["name"]: f for f in meta["schema"]}
    assert by_name["lst"]["type"] == "list"
    assert by_name["lst"]["n_children"] == 1
    assert by_name["st"]["type"] == "struct"
    assert by_name["st"]["n_children"] == 1
    assert meta["n_dictionaries"] == 1
    assert meta["num_rows"] == 3


def test_empty_table():
    t = pa.table({"a": pa.array([], type=pa.int64())})
    meta = parse_arrow_file(_ipc_bytes(t))
    assert meta["num_rows"] == 0
    assert [f["type"] for f in meta["schema"]] == ["int64"]


def test_corruption_contract():
    blob = _ipc_bytes(TABLE, max_chunksize=2)
    rng = random.Random(11)
    for _ in range(400):
        b = bytearray(blob)
        op = rng.random()
        if op < 0.5:
            for _ in range(rng.randint(1, 4)):
                i = rng.randrange(len(b))
                b[i] = rng.randrange(256)
        elif op < 0.85:
            b = b[: rng.randrange(len(b))]
        else:
            b = bytes(rng.randrange(256)
                      for _ in range(rng.randrange(120)))
        try:
            parse_arrow_file(bytes(b))
        except ValueError:
            pass
    with pytest.raises(ValueError, match="magic"):
        parse_arrow_file(b"NOTARROW" + blob[8:])
    with pytest.raises(ValueError, match="magic"):
        parse_arrow_file(blob[:-6] + b"XXXXXX")
