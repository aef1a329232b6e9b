"""Avro object-container parsing: binary encoding (zigzag varlongs,
blocks, unions, named types), container framing with sync-marker
verification, all stdlib codecs, fixture roundtrips, and the Spark
profile operator.  Spec anchors: Apache Avro 1.11 specification
(binary encoding + object container files)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bigdata_invoice_stream_analysis_spark.operators.avro import (
    _Cursor,
    parse_avro,
    read_datum,
)
from fixture_writers import encode_avro, write_datum

RECORD_SCHEMA = {
    "type": "record",
    "name": "Doc",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "title", "type": "string"},
        {"name": "score", "type": "double"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "props", "type": {"type": "map", "values": "int"}},
        {"name": "body", "type": ["null", "bytes"]},
        {"name": "kind", "type": {"type": "enum", "name": "Kind",
                                  "symbols": ["A", "B", "C"]}},
        {"name": "digest", "type": {"type": "fixed", "name": "D16",
                                    "size": 4}},
    ],
}

RECORDS = [
    {"id": 1, "title": "first", "score": 0.5, "tags": ["x", "y"],
     "props": {"a": 1, "b": -2}, "body": b"\x01\x02", "kind": "B",
     "digest": b"\xde\xad\xbe\xef"},
    {"id": -300, "title": "unicode é", "score": -2.25, "tags": [],
     "props": {}, "body": None, "kind": "A",
     "digest": b"\x00\x00\x00\x00"},
]


# --- binary encoding primitives --------------------------------------------

def test_zigzag_varlong_spec_vectors():
    # spec: 0→00, -1→01, 1→02, -2→03, 2→04; -64→7f, 64→80 01
    for value, wire in [(0, b"\x00"), (-1, b"\x01"), (1, b"\x02"),
                        (-2, b"\x03"), (2, b"\x04"), (-64, b"\x7f"),
                        (64, b"\x80\x01")]:
        assert write_datum("long", value) == wire
        assert read_datum(_Cursor(wire), "long") == value


def test_primitive_roundtrips():
    for schema, value in [
        ("null", None), ("boolean", True), ("boolean", False),
        ("int", 42), ("long", -(2**62)), ("float", 1.5),
        ("double", -3.25), ("bytes", b"\x00\xff"), ("string", "héllo"),
    ]:
        wire = write_datum(schema, value)
        assert read_datum(_Cursor(wire), schema) == value


def test_union_branch_selection():
    schema = ["null", "long", "string"]
    assert write_datum(schema, None) == b"\x00"
    assert write_datum(schema, 5) == b"\x02\x0a"
    assert write_datum(schema, "s")[0:1] == b"\x04"
    for v in (None, 7, "text"):
        assert read_datum(_Cursor(write_datum(schema, v)), schema) == v


def test_negative_array_block_count_with_size():
    """The spec's alternative block form: negative count followed by
    a byte size (lets readers skip blocks without decoding)."""
    # array<long> [7, 8] as one negative-count block then terminator
    body = (write_datum("long", -2) + write_datum("long", 2)
            + write_datum("long", 7) + write_datum("long", 8)
            + write_datum("long", 0))
    assert read_datum(_Cursor(body),
                      {"type": "array", "items": "long"}) == [7, 8]


def test_named_type_reference_reuse():
    schema = {
        "type": "record", "name": "Pair",
        "fields": [
            {"name": "a", "type": {"type": "fixed", "name": "F2",
                                   "size": 2}},
            {"name": "b", "type": "F2"},  # by-name reference
        ],
    }
    value = {"a": b"xy", "b": b"zw"}
    wire = write_datum(schema, value, {})
    assert read_datum(_Cursor(wire), schema, {}) == value


# --- container files --------------------------------------------------------

@pytest.mark.parametrize("codec", ["null", "deflate", "bzip2", "xz"])
def test_container_roundtrip_all_codecs(codec):
    blob = encode_avro(RECORD_SCHEMA, RECORDS, codec=codec)
    meta = parse_avro(blob)
    assert meta["codec"] == codec
    assert meta["records"] == RECORDS
    assert meta["n_records"] == 2
    assert meta["schema"]["name"] == "Doc"


def test_multi_block_layout():
    recs = [dict(RECORDS[0], id=i) for i in range(7)]
    blob = encode_avro(RECORD_SCHEMA, recs, records_per_block=3)
    meta = parse_avro(blob)
    assert meta["n_blocks"] == 3
    assert [r["id"] for r in meta["records"]] == list(range(7))


def test_sync_marker_mismatch_detected():
    blob = bytearray(encode_avro(RECORD_SCHEMA, RECORDS))
    blob[-1] ^= 0xFF  # flip a byte of the final sync marker
    with pytest.raises(ValueError, match="sync"):
        parse_avro(bytes(blob))


def test_bad_magic_and_unsupported_codec():
    with pytest.raises(ValueError, match="magic"):
        parse_avro(b"NOPE" + b"\x00" * 32)
    blob = bytearray(encode_avro(RECORD_SCHEMA, RECORDS, codec="null"))
    # swap the codec string in the metadata map to 'snappy'
    idx = bytes(blob).find(b"null", 4)
    blob[idx : idx + 4] = b"snap"
    blob.insert(idx + 4, ord("p"))
    blob.insert(idx + 5, ord("y"))
    # fix the length prefix (4 -> 6)
    assert blob[idx - 1] == 8  # zigzag(4)
    blob[idx - 1] = 12         # zigzag(6)
    with pytest.raises(ValueError, match="codec"):
        parse_avro(bytes(blob))


def test_truncated_container_raises():
    blob = encode_avro(RECORD_SCHEMA, RECORDS)
    for cut in (3, len(blob) // 2, len(blob) - 5):
        with pytest.raises(ValueError):
            parse_avro(blob[:cut])


def test_max_records_caps_decode_not_counts():
    recs = [dict(RECORDS[0], id=i) for i in range(10)]
    blob = encode_avro(RECORD_SCHEMA, recs, records_per_block=2)
    meta = parse_avro(blob, max_records=3)
    assert len(meta["records"]) == 3
    assert meta["n_records"] == 10   # framing counts still complete
    assert meta["n_blocks"] == 5


# --- property ---------------------------------------------------------------

_SIMPLE = st.fixed_dictionaries({
    "id": st.integers(-2**40, 2**40),
    "title": st.text(max_size=12),
    "score": st.floats(allow_nan=False, allow_infinity=False,
                       width=32).map(float),
    "tags": st.lists(st.text(max_size=4), max_size=3),
    "props": st.dictionaries(st.text(min_size=1, max_size=3),
                             st.integers(-100, 100), max_size=3),
    "body": st.one_of(st.none(), st.binary(max_size=8)),
    "kind": st.sampled_from(["A", "B", "C"]),
    "digest": st.binary(min_size=4, max_size=4),
})


@settings(max_examples=20, deadline=None)
@given(st.lists(_SIMPLE, min_size=1, max_size=5),
       st.sampled_from(["null", "deflate"]))
def test_property_container_roundtrip(records, codec):
    blob = encode_avro(RECORD_SCHEMA, records, codec=codec,
                       records_per_block=2)
    meta = parse_avro(blob)
    assert meta["records"] == records
