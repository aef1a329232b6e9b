"""ZIP: EOCD backward scan (comment-tolerant), central-directory
authority, STORED + DEFLATE decode with CRC verification, ZIP64
resolution, stdlib cross-validation both directions, and the Spark
operators."""

from __future__ import annotations

import io
import struct
import sys
import zipfile
import zlib
from pathlib import Path

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bigdata_invoice_stream_analysis_spark.operators.zip import (
    _zip64_extra,
    encode_zip,
    parse_zip,
    read_zip_member,
    zip_text_members,
)

ENTRIES = [
    ("mimetype", b"application/epub+zip"),
    ("content/doc1.xml", b"<doc>hello world</doc>" * 20),
    ("content/doc2.txt", "café text".encode("utf-8")),
    ("images/pic.bin", bytes(range(256))),
    ("empty/", b""),
]


def test_roundtrip_and_stdlib_reads_ours():
    blob = encode_zip(ENTRIES)
    members = parse_zip(blob)
    assert [(m["name"], m["uncompressed_size"]) for m in members] == [
        (n, len(b)) for n, b in ENTRIES
    ]
    for m, (_, body) in zip(members, ENTRIES):
        if not m["is_dir"]:
            assert read_zip_member(blob, m) == body
    with zipfile.ZipFile(io.BytesIO(blob)) as zf:
        assert zf.namelist() == [n for n, _ in ENTRIES]
        assert zf.read("content/doc2.txt") == "café text".encode()
        assert zf.testzip() is None  # CRCs all good


def test_we_read_stdlib_output_stored_and_deflated():
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("a.txt", "alpha " * 100)
        zf.writestr(
            zipfile.ZipInfo("b.bin"), bytes(64),
        )  # ZipInfo default: STORED
    blob = buf.getvalue()
    members = {m["name"]: m for m in parse_zip(blob)}
    assert read_zip_member(blob, members["a.txt"]) == b"alpha " * 100
    assert read_zip_member(blob, members["b.bin"]) == bytes(64)
    assert members["a.txt"]["method"] == 8
    assert members["b.bin"]["method"] == 0


def test_archive_comment_tolerated():
    blob = encode_zip(ENTRIES[:2], comment=b"PK\x01\x02 fake sig inside")
    assert len(parse_zip(blob)) == 2


def test_crc_and_truncation_errors():
    blob = bytearray(encode_zip([("x.txt", b"payload data here")]))
    m = parse_zip(bytes(blob))[0]
    start = blob.find(b"x.txt") + 5
    blob[start] ^= 0xFF  # corrupt the compressed payload
    with pytest.raises((ValueError, zlib.error)):
        read_zip_member(bytes(blob), m)
    with pytest.raises(ValueError, match="EOCD"):
        parse_zip(b"not a zip at all")


def test_zip64_extra_field_resolution():
    extra = struct.pack("<HHQQ", 0x0001, 16, 5_000_000_000, 4_000_000)
    csize, usize, off = _zip64_extra(
        extra, 0xFFFFFFFF, 0xFFFFFFFF, 123,
    )
    assert (usize, csize, off) == (5_000_000_000, 4_000_000, 123)
    with pytest.raises(ValueError, match="0x0001"):
        _zip64_extra(b"", 0xFFFFFFFF, 1, 1)


def test_zip64_eocd_path():
    """Craft a saturated EOCD + ZIP64 EOCD/locator around a normal
    archive body: the parser must follow the locator."""
    base = encode_zip([("a.txt", b"data")])
    eocd = base.rfind(b"PK\x05\x06")
    body, old_eocd = base[:eocd], base[eocd:]
    n, cd_size, cd_off = struct.unpack("<HII", old_eocd[10:20])
    eocd64 = (
        b"PK\x06\x06" + struct.pack("<Q", 44) + b"\x2d\x00\x2d\x00"
        + struct.pack("<II", 0, 0)
        + struct.pack("<QQQQ", n, n, cd_size, cd_off)
    )
    loc = b"PK\x06\x07" + struct.pack("<IQI", 0, len(body), 1)
    sat = bytearray(old_eocd)
    sat[10:12] = b"\xff\xff"  # saturate the entry count
    blob = body + eocd64 + loc + bytes(sat)
    members = parse_zip(blob)
    assert [m["name"] for m in members] == ["a.txt"]
    assert read_zip_member(blob, members[0]) == b"data"


@given(
    st.lists(
        st.tuples(
            st.from_regex(r"[a-z0-9]{1,8}(/[a-z0-9]{1,8}){0,2}\.[a-z]{1,4}",
                          fullmatch=True),
            st.binary(min_size=0, max_size=500),
        ),
        min_size=0, max_size=6, unique_by=lambda e: e[0],
    ),
    st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_zip_roundtrip_property(entries, deflate):
    blob = encode_zip(entries, deflate=deflate)
    members = parse_zip(blob)
    assert len(members) == len(entries)
    for m, (name, body) in zip(members, entries):
        assert m["name"] == name
        assert read_zip_member(blob, m) == body


def _archive_df(spark):
    return spark.createDataFrame(
        [(1, bytearray(encode_zip(ENTRIES))),
         (2, bytearray(encode_zip([("n/readme.txt", b"two")],
                                  deflate=False)))],
        "archive_id long, payload binary",
    )


def test_zip_text_members_operator(spark):
    rows = sorted(
        zip_text_members(_archive_df(spark)).collect(),
        key=lambda r: (r["archive_id"], r["member_idx"]),
    )
    assert [(r["archive_id"], r["name"]) for r in rows] == [
        (1, "content/doc1.xml"), (1, "content/doc2.txt"),
        (2, "n/readme.txt"),
    ]
    assert rows[1]["text"] == "café text"
    assert rows[2]["text"] == "two"


def test_eocd_signature_inside_comment():
    """A comment containing the EOCD signature bytes must not hijack
    the backward scan (the comment-length validation rule)."""
    blob = encode_zip(ENTRIES[:2], comment=b"see PK\x05\x06 marker")
    members = parse_zip(blob)
    assert [m["name"] for m in members] == [n for n, _ in ENTRIES[:2]]


def test_truncated_structures_raise_valueerror():
    with pytest.raises(ValueError):
        parse_zip(b"PK\x05\x06")
    with pytest.raises(ValueError, match="ZIP64 extra"):
        _zip64_extra(struct.pack("<HHI", 0x0001, 4, 7),
                     0xFFFFFFFF, 1, 1)
