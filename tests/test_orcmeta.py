"""ORC footer audit cross-validated against pyarrow.orc: postscript
+ chunked-zlib footer decode + protobuf message shapes, over files
pyarrow writes; adversarial corruption; the protobuf wire walk."""

from __future__ import annotations

import io
import random
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

pa_orc = pytest.importorskip("pyarrow.orc")
import pyarrow as pa  # noqa: E402

from bigdata_invoice_stream_analysis_spark.operators.orcmeta import (  # noqa: E402
    parse_orc_footer,
    parse_wire,
)


def _orc_bytes(table, **kw) -> bytes:
    buf = io.BytesIO()
    pa_orc.write_table(table, buf, **kw)
    return buf.getvalue()


TABLE = pa.table({
    "id": [3, 1, 4, 1, 5, 9, 2, 6],
    "name": ["c", "a", "d", "a", "e", "i", "b", "f"],
    "score": [0.5, -1.5, 2.5, 0.0, 3.5, 1.0, -2.0, 4.0],
})


@pytest.mark.parametrize("compression", ["uncompressed", "zlib"])
def test_parse_matches_pyarrow(compression):
    blob = _orc_bytes(TABLE, compression=compression)
    meta = parse_orc_footer(blob)
    ref = pa_orc.ORCFile(io.BytesIO(blob))
    assert meta["magic_ok"]
    assert meta["num_rows"] == ref.nrows == 8
    assert len(meta["stripes"]) == ref.nstripes
    assert meta["compression"].lower() == ref.compression.lower().replace(
        "uncompressed", "none")
    assert meta["version"] == str(ref.file_version)
    root = meta["schema"][0]
    assert root["kind"] == "struct"
    assert root["field_names"] == ["id", "name", "score"]
    kinds = [meta["schema"][i]["kind"] for i in root["subtypes"]]
    assert kinds == ["bigint", "string", "double"]
    assert sum(s["num_rows"] for s in meta["stripes"]) == 8


def test_column_statistics_decoded():
    blob = _orc_bytes(TABLE, compression="zlib")
    meta = parse_orc_footer(blob)
    # stats[0] is the root struct; column ids follow the type tree
    by_col = meta["column_stats"]
    assert by_col[0]["n_values"] == 8
    # id (bigint) stats: zigzag sint64 min/max
    assert by_col[1]["min"] == "1" and by_col[1]["max"] == "9"
    # name (string) stats
    assert by_col[2]["min"] == "a" and by_col[2]["max"] == "i"


def test_multi_stripe_layout():
    rng = random.Random(7)
    n = 200_000
    big = pa.table({"v": [rng.getrandbits(63) for _ in range(n)]})
    blob = _orc_bytes(big, compression="uncompressed",
                      stripe_size=256 * 1024)
    meta = parse_orc_footer(blob)
    ref = pa_orc.ORCFile(io.BytesIO(blob))
    assert len(meta["stripes"]) == ref.nstripes > 1
    assert sum(s["num_rows"] for s in meta["stripes"]) == n
    # stripe directory is usable: offsets strictly increase
    offs = [s["offset"] for s in meta["stripes"]]
    assert offs == sorted(offs) and offs[0] >= 3


def test_corruption_contract():
    blob = _orc_bytes(TABLE, compression="zlib")
    rng = random.Random(9)
    for _ in range(300):
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
                      for _ in range(rng.randrange(100)))
        try:
            parse_orc_footer(bytes(b))
        except ValueError:
            pass
    with pytest.raises(ValueError, match="magic"):
        parse_orc_footer(b"PAR1xxxx")


# --- protobuf wire walk -----------------------------------------------------

def test_wire_walk_spec_example():
    # developers.google.com encoding doc: field 1, varint 150
    assert parse_wire(b"\x08\x96\x01") == [(1, 0, 150)]


def test_wire_walk_rejects_groups_and_truncation():
    with pytest.raises(ValueError, match="wire type"):
        parse_wire(b"\x0b")  # field 1, wire type 3 (group start)
    with pytest.raises(ValueError, match="truncated"):
        parse_wire(b"\x0a\x05ab")  # LD claims 5, has 2
