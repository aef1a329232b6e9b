"""Parquet footer audit: from-scratch Thrift-compact reader + minimal
writer, cross-validated BOTH directions against independent
implementations — our parser vs pyarrow's footer on pyarrow-written
files (the real testdata tables), and pyarrow/DuckDB reading our
writer's files."""

from __future__ import annotations

import io

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bigdata_invoice_stream_analysis_spark.operators.parquetmeta import (
    encode_parquet,
    parse_parquet_footer,
)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


# --- direction 1: our parser vs pyarrow on real files ----------------------

@pytest.mark.parametrize("table", TABLES)
def test_parse_real_tables_matches_pyarrow(sf_dir, table):
    import pyarrow.parquet as pq

    path = f"{sf_dir}/{table}.parquet"
    data = open(path, "rb").read()
    meta = parse_parquet_footer(data)
    ref = pq.ParquetFile(path).metadata

    assert meta["num_rows"] == ref.num_rows
    assert len(meta["row_groups"]) == ref.num_row_groups
    assert meta["num_leaf_columns"] == ref.num_columns
    assert meta["created_by"] == ref.created_by

    for gi, rg in enumerate(meta["row_groups"]):
        prg = ref.row_group(gi)
        assert rg["num_rows"] == prg.num_rows
        assert rg["total_byte_size"] == prg.total_byte_size
        assert len(rg["columns"]) == prg.num_columns
        for ci, cc in enumerate(rg["columns"]):
            md = cc["meta"]
            pc = prg.column(ci)
            assert ".".join(md["path_in_schema"]) == pc.path_in_schema
            assert md["codec"] == pc.compression
            assert md["type"] == pc.physical_type
            assert md["num_values"] == pc.num_values
            assert md["total_compressed_size"] == pc.total_compressed_size
            assert (md["total_uncompressed_size"]
                    == pc.total_uncompressed_size)
            assert md["data_page_offset"] == pc.data_page_offset
            assert sorted(md["encodings"]) == sorted(
                str(e) for e in pc.encodings)
            has_dict = pc.dictionary_page_offset is not None
            assert (md["dictionary_page_offset"] is not None) == has_dict
            st_ = md["statistics"]
            if pc.is_stats_set and pc.statistics.has_null_count:
                assert st_["null_count"] == pc.statistics.null_count


def test_parse_real_stats_values_match_pyarrow(sf_dir):
    """Decoded min/max stats on a numeric and a string column match
    pyarrow's decoded statistics (orders has both)."""
    import pyarrow.parquet as pq

    path = f"{sf_dir}/orders.parquet"
    meta = parse_parquet_footer(open(path, "rb").read())
    ref = pq.ParquetFile(path).metadata
    for gi, rg in enumerate(meta["row_groups"]):
        for ci, cc in enumerate(rg["columns"]):
            pc = ref.row_group(gi).column(ci)
            if not pc.is_stats_set or not pc.statistics.has_min_max:
                continue
            got = cc["meta"]["statistics"]
            pmin, pmax = pc.statistics.min, pc.statistics.max
            if not isinstance(pmin, (int, float, str, bytes)):
                # logical types (TIMESTAMP etc.) decode beyond the
                # physical value; this audit renders physical values
                continue
            if isinstance(pmin, bytes):
                pmin = pmin.decode("utf-8", "replace")
                pmax = pmax.decode("utf-8", "replace")
            if cc["meta"]["type"] in ("INT32", "INT64"):
                assert got["min"] == str(pmin)
                assert got["max"] == str(pmax)
            elif cc["meta"]["type"] == "BYTE_ARRAY":
                assert got["min"] == str(pmin)
                assert got["max"] == str(pmax)
            elif cc["meta"]["type"] == "DOUBLE":
                assert float(got["min"]) == pytest.approx(float(pmin))
                assert float(got["max"]) == pytest.approx(float(pmax))


# --- direction 2: our writer read by pyarrow + DuckDB ----------------------

FIXTURE_COLS = [
    ("id", "int64", [3, 1, 2, None, 5, 4, 7, 6]),
    ("name", "string", ["b", "a", "c", "d", "e", "f", "g", "h"]),
    ("x", "double", [1.5, -2.25, 0.0, 3.5, 4.5, -1.0, 2.0, 0.5]),
]


@pytest.mark.parametrize("codec", ["UNCOMPRESSED", "GZIP"])
def test_writer_output_readable_by_pyarrow(codec):
    import pyarrow.parquet as pq

    blob = encode_parquet(FIXTURE_COLS, codec=codec,
                          max_rows_per_group=3)
    t = pq.read_table(io.BytesIO(blob))
    for name, _, vals in FIXTURE_COLS:
        assert t.column(name).to_pylist() == vals


@pytest.mark.parametrize("codec", ["UNCOMPRESSED", "GZIP"])
def test_writer_output_readable_by_duckdb(tmp_path, codec):
    import duckdb

    p = tmp_path / "t.parquet"
    p.write_bytes(encode_parquet(FIXTURE_COLS, codec=codec,
                                 max_rows_per_group=3))
    rows = duckdb.sql(
        f"SELECT id, name, x FROM read_parquet('{p}') ORDER BY name"
    ).fetchall()
    expected = sorted(
        zip(FIXTURE_COLS[0][2], FIXTURE_COLS[1][2], FIXTURE_COLS[2][2]),
        key=lambda r: r[1])
    assert rows == expected
    md = duckdb.sql(
        "SELECT row_group_id, path_in_schema, num_values, compression,"
        " stats_null_count"
        f" FROM parquet_metadata('{p}') ORDER BY row_group_id, column_id"
    ).fetchall()
    assert len(md) == 9  # 3 row groups x 3 columns
    assert all(r[3] == codec for r in md)
    # the None in id falls in row group 1 (rows 3..5)
    assert [r[4] for r in md if r[1] == "id"] == [0, 1, 0]


def test_writer_footer_self_parse():
    blob = encode_parquet(FIXTURE_COLS, codec="GZIP",
                          max_rows_per_group=3,
                          created_by="writer-under-test",
                          key_value_metadata={"a": "1", "b": "2"})
    meta = parse_parquet_footer(blob)
    assert meta["num_rows"] == 8
    assert meta["created_by"] == "writer-under-test"
    assert meta["key_value_metadata"] == {"a": "1", "b": "2"}
    assert len(meta["row_groups"]) == 3
    assert [g["num_rows"] for g in meta["row_groups"]] == [3, 3, 2]
    rg0 = meta["row_groups"][0]
    by_path = {".".join(c["meta"]["path_in_schema"]): c["meta"]
               for c in rg0["columns"]}
    assert by_path["id"]["codec"] == "GZIP"
    assert by_path["id"]["statistics"]["min"] == "1"
    assert by_path["id"]["statistics"]["max"] == "3"
    assert by_path["name"]["type"] == "BYTE_ARRAY"
    assert by_path["name"]["statistics"]["min"] == "a"
    assert by_path["x"]["statistics"]["min"] == "-2.25"
    assert set(by_path["id"]["encodings"]) == {"PLAIN", "RLE"}
    # writer stats match pyarrow's view of the same file
    import pyarrow.parquet as pq

    ref = pq.ParquetFile(io.BytesIO(blob)).metadata
    assert ref.row_group(1).column(0).statistics.null_count == 1
    assert ref.row_group(0).column(0).statistics.min == 1
    assert ref.row_group(0).column(0).statistics.max == 3


def test_writer_rejects_bad_input():
    with pytest.raises(ValueError):
        encode_parquet([("a", "int64", [1, 2]), ("b", "int64", [1])])
    with pytest.raises(ValueError):
        encode_parquet([("a", "int64", [1])], codec="SNAPPY")
    with pytest.raises(ValueError):
        encode_parquet([])


# --- adversarial footers ---------------------------------------------------

def test_reject_bad_magic():
    with pytest.raises(ValueError, match="header magic"):
        parse_parquet_footer(b"XXXX" + b"\x00" * 20 + b"PAR1")
    with pytest.raises(ValueError, match="footer magic"):
        parse_parquet_footer(b"PAR1" + b"\x00" * 20 + b"XXXX")
    with pytest.raises(ValueError, match="encrypted"):
        parse_parquet_footer(b"PAR1" + b"\x00" * 20 + b"PARE")


def test_reject_truncated_and_lying_lengths():
    with pytest.raises(ValueError):
        parse_parquet_footer(b"PAR1PAR1")
    # footer length claims more bytes than the file holds
    bad = b"PAR1" + b"\x00" * 4 + b"\xff\xff\xff\x7f" + b"PAR1"
    with pytest.raises(ValueError, match="footer length"):
        parse_parquet_footer(bad)


def test_reject_corrupt_thrift_payload():
    # field 1, LIST type, long-form size claiming ~256M elements: the
    # bounds check must refuse before any allocation happens
    footer = bytes([0x19, 0xF6]) + b"\xff\xff\xff\x7f"
    bad = (b"PAR1" + footer
           + len(footer).to_bytes(4, "little") + b"PAR1")
    with pytest.raises(ValueError, match="list size|truncated"):
        parse_parquet_footer(bad)
    # a binary field whose length varint exceeds the buffer
    footer = bytes([0x18]) + b"\xff\xff\xff\x7f"
    bad = (b"PAR1" + footer
           + len(footer).to_bytes(4, "little") + b"PAR1")
    with pytest.raises(ValueError, match="truncated"):
        parse_parquet_footer(bad)
    # an unterminated varint
    footer = bytes([0x15]) + b"\xff" * 12
    bad = (b"PAR1" + footer
           + len(footer).to_bytes(4, "little") + b"PAR1")
    with pytest.raises(ValueError, match="varint|truncated"):
        parse_parquet_footer(bad)


def test_truncated_footer_bytes_raise_not_hang():
    good = encode_parquet([("a", "int64", [1, 2, 3])])
    flen = int.from_bytes(good[-8:-4], "little")
    start = len(good) - 8 - flen
    for cut in (1, flen // 2, flen - 1):
        trunc_footer = good[start:start + cut]
        bad = (good[:start] + trunc_footer
               + len(trunc_footer).to_bytes(4, "little") + b"PAR1")
        with pytest.raises(ValueError):
            parse_parquet_footer(bad)


# --- property: random columns round-trip -----------------------------------

@settings(max_examples=25, deadline=None)
@given(
    ints=st.lists(st.one_of(st.none(),
                            st.integers(-2**62, 2**62)),
                  min_size=1, max_size=40),
    texts=st.data(),
)
def test_property_roundtrip_matches_pyarrow(ints, texts):
    import pyarrow.parquet as pq

    n = len(ints)
    strs = texts.draw(st.lists(
        st.text(max_size=8), min_size=n, max_size=n))
    blob = encode_parquet(
        [("i", "int64", ints), ("s", "string", strs)],
        codec="GZIP", max_rows_per_group=7)
    t = pq.read_table(io.BytesIO(blob))
    assert t.column("i").to_pylist() == ints
    assert t.column("s").to_pylist() == strs
    meta = parse_parquet_footer(blob)
    assert meta["num_rows"] == n
    # per-group stats agree with a pure-python recompute
    for gi, rg in enumerate(meta["row_groups"]):
        lo = gi * 7
        chunk = [v for v in ints[lo:lo + 7] if v is not None]
        md = {".".join(c["meta"]["path_in_schema"]): c["meta"]
              for c in rg["columns"]}
        stats = md["i"]["statistics"]
        assert stats["null_count"] == ints[lo:lo + 7].count(None)
        if chunk:
            assert stats["min"] == str(min(chunk))
            assert stats["max"] == str(max(chunk))


# --- Spark operators -------------------------------------------------------

def test_spark_footer_profile_and_chunks(spark):
    from bigdata_invoice_stream_analysis_spark.deploy import (
        ensure_package_on_workers,
    )
    from bigdata_invoice_stream_analysis_spark.operators.parquetmeta import (
        parquet_column_chunks,
    )

    ensure_package_on_workers(spark)
    blobs = [
        (0, bytearray(encode_parquet(
            [("a", "int64", [1, 2, 3, 4]),
             ("b", "string", ["x", "y", None, "z"])],
            codec="GZIP", max_rows_per_group=2))),
        (1, bytearray(encode_parquet(
            [("a", "int64", [10])], codec="UNCOMPRESSED"))),
        (2, bytearray(b"not a parquet file at all")),
    ]
    files = spark.createDataFrame(blobs, "file_id long, payload binary")

    chunks = parquet_column_chunks(files).collect()
    assert len(chunks) == 5  # file0: 2 groups x 2 cols; file1: 1
    a0 = [r for r in chunks
          if r["file_id"] == 0 and r["column_path"] == "a"
          and r["row_group"] == 0][0]
    assert a0["codec"] == "GZIP"
    assert a0["stat_min"] == "1" and a0["stat_max"] == "2"
    assert a0["null_count"] == 0
    b1 = [r for r in chunks
          if r["file_id"] == 0 and r["column_path"] == "b"
          and r["row_group"] == 1][0]
    assert b1["null_count"] == 1
    assert b1["physical_type"] == "BYTE_ARRAY"
