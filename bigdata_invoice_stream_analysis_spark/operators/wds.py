"""TAR shard walking + WebDataset sample grouping — the format
multimodal training data actually ships in.

Large image/video/text datasets are distributed as TAR "shards" in
the WebDataset convention: each sample is a group of adjacent files
sharing a basename key (``000123.jpg`` + ``000123.txt`` +
``000123.json``), thousands of samples per shard, thousands of shards
per dataset. A Spark pipeline over such a corpus needs exactly what
this module provides: a header-level TAR walk (no extraction), the
key/extension split, and per-component byte ranges + checksums so
dedup and integrity audits run WITHOUT decoding payloads.

From-scratch against the public POSIX.1-1988/ustar layout (512-byte
headers, NUL-padded octal fields, checksum over the header with the
checksum field blanked) plus the two long-name mechanisms real shards
contain: GNU ``L`` longname entries and pax ``x`` extended headers
(``path=`` records with the self-referential decimal length prefix).
GNU base-256 size encoding (high bit set) is handled for >8 GiB
members.

Scale posture: one Arrow mapInPandas pass per shard; at 100 TB the
shard list is a ``binaryFile`` scan, one task per shard — the
WebDataset design goal (sequential reads, no random access) is
exactly Spark's. Component rows carry offsets + CRCs, so downstream
stages slice bytes lazily and dedup on checksums without a second
scan.

Reference: n/a (extension surface).
"""

from __future__ import annotations

import io
import zlib

_BLOCK = 512


def _octal(field: bytes) -> int:
    """NUL/space-padded octal, or GNU base-256 when the high bit of
    the first byte is set (sizes beyond 8 GiB)."""
    if field and field[0] & 0x80:
        value = field[0] & 0x7F
        for b in field[1:]:
            value = (value << 8) | b
        return value
    s = field.split(b"\x00", 1)[0].strip()
    return int(s or b"0", 8)


def parse_tar(data: bytes) -> list[dict]:
    """Walk a TAR archive's headers: one dict per REGULAR member —
    ``{name, offset, size}`` with ``offset`` pointing at the payload
    bytes. Directory/link/device entries are skipped; GNU longname
    (``L``) and pax (``x``) entries are consumed and applied to the
    next member's name. The end-of-archive marker is two zero blocks
    (tolerated absent: real shard writers sometimes truncate).
    Checksum mismatches raise — a corrupt shard must be visible."""
    data = bytes(data)
    members = []
    pos = 0
    pending_name: str | None = None
    pending_size: int | None = None
    while pos + _BLOCK <= len(data):
        header = data[pos : pos + _BLOCK]
        if header == b"\x00" * _BLOCK:
            break
        stored = int(header[148:156].split(b"\x00")[0].strip() or b"0", 8)
        blanked = header[:148] + b" " * 8 + header[156:]
        if sum(blanked) != stored:
            raise ValueError(f"tar header checksum mismatch at {pos}")
        size = _octal(header[124:136])
        typeflag = header[156:157]
        if typeflag in (b"0", b"\x00") and pending_size is not None:
            # pax size= override (how non-GNU writers encode members
            # >8 GiB): the ustar octal field is a placeholder and the
            # pax record is authoritative — ignoring it desynchronizes
            # the whole walk (ADVICE r7).
            size = pending_size
            pending_size = None
        # errors="replace": real-world shards carry Latin-1/arbitrary
        # byte names; a mojibake name keeps the walk (and the Arrow
        # string conversion downstream) alive where strict UTF-8 would
        # kill the whole task for one member.
        name = header[0:100].split(b"\x00", 1)[0].decode("utf-8", "replace")
        prefix = header[345:500].split(b"\x00", 1)[0].decode(
            "utf-8", "replace"
        )
        if prefix:
            name = f"{prefix}/{name}"
        body_start = pos + _BLOCK
        body_end = body_start + size
        if body_end > len(data):
            raise ValueError("tar member overruns archive")
        if typeflag == b"L":  # GNU longname: body is the next name
            pending_name = (
                data[body_start:body_end].split(b"\x00", 1)[0]
                .decode("utf-8", "replace")
            )
        elif typeflag == b"x":  # pax extended header
            overrides = _pax_records(data[body_start:body_end])
            if "path" in overrides:
                pending_name = overrides["path"]
            if "size" in overrides:
                try:
                    pending_size = int(overrides["size"])
                except ValueError:
                    raise ValueError(
                        f"bad pax size record {overrides['size']!r}"
                    ) from None
        elif typeflag in (b"0", b"\x00"):
            resolved = pending_name or name
            pending_name = None
            # pre-POSIX dirs: regular typeflag + trailing slash
            if not resolved.endswith("/"):
                members.append({
                    "name": resolved,
                    "offset": body_start,
                    "size": size,
                })
        # other typeflags (dirs, links, devices) are skipped
        pos = body_end + (-size % _BLOCK)
    return members


def _pax_records(body: bytes) -> dict[str, str]:
    """pax records: ``<decimal-len> <key>=<value>\\n`` where len
    covers the whole record including itself. Returns every record as
    a dict; the caller applies the overrides it understands (path,
    size) to the next member."""
    pos = 0
    records: dict[str, str] = {}
    while pos < len(body):
        sp = body.find(b" ", pos)
        if sp < 0:
            break
        reclen = int(body[pos:sp])
        record = body[pos + (sp - pos) + 1 : pos + reclen]
        key, _, value = record.rstrip(b"\n").partition(b"=")
        records[key.decode("utf-8", "replace")] = value.decode(
            "utf-8", "replace"
        )
        pos += reclen
    return records


def split_wds_key(name: str) -> tuple[str, str]:
    """WebDataset convention: strip directories, then split the
    basename at the FIRST dot — everything before is the sample key,
    everything after the extension chain (``a/b/x.seg.json`` →
    (``x``, ``seg.json``))."""
    base = name.rsplit("/", 1)[-1]
    key, _, ext = base.partition(".")
    return key, ext


def encode_tar(
    entries: list[tuple[str, bytes]],
    *,
    longname_via: str = "auto",
    pax_size: bool = False,
) -> bytes:
    """Deterministic ustar writer for fixtures: mtime/uid/gid pinned
    to 0. Names over 100 bytes are emitted via a GNU ``L`` entry
    (``longname_via='gnu'``) or a pax ``x`` header (``'pax'``);
    ``'auto'`` picks GNU. ``pax_size=True`` writes every member the
    way non-GNU pax writers encode huge members: a pax ``x`` header
    carrying the authoritative ``size=`` record while the member's
    own octal size field holds a placeholder 0 — a walk that ignores
    the record desynchronizes immediately."""
    out = io.BytesIO()

    def header(name: bytes, size: int, typeflag: bytes) -> bytes:
        h = bytearray(_BLOCK)
        h[0:len(name)] = name
        h[100:108] = b"0000644\x00"
        h[108:116] = b"0000000\x00"
        h[116:124] = b"0000000\x00"
        h[124:136] = f"{size:011o}".encode() + b"\x00"
        h[136:148] = b"00000000000\x00"
        h[156:157] = typeflag
        h[257:263] = b"ustar\x00"
        h[263:265] = b"00"
        h[148:156] = b" " * 8
        chks = sum(h)
        h[148:156] = f"{chks:06o}".encode() + b"\x00 "
        return bytes(h)

    def emit(name_b: bytes, body: bytes, typeflag: bytes = b"0",
             size_field: int | None = None):
        out.write(header(
            name_b, len(body) if size_field is None else size_field,
            typeflag,
        ))
        out.write(body)
        out.write(b"\x00" * (-len(body) % _BLOCK))

    def pax_record(key: str, value: str) -> bytes:
        rec_body = f"{key}={value}\n"
        reclen = len(rec_body) + 2
        while len(str(reclen)) + 1 + len(rec_body) != reclen:
            reclen += 1
        return f"{reclen} {rec_body}".encode()

    for name, body in entries:
        if pax_size:
            recs = pax_record("size", str(len(body)))
            name_b = name.encode("utf-8")
            if len(name_b) > 100:
                # the pax header carries the full path too — the
                # ustar name field holds only a truncated prefix
                recs += pax_record("path", name)
            emit(b"pax_header", recs, b"x")
            emit(name_b[:100], body, size_field=0)
            continue
        name_b = name.encode("utf-8")
        if len(name_b) > 100:
            mode = "gnu" if longname_via == "auto" else longname_via
            if mode == "gnu":
                emit(b"././@LongLink", name_b + b"\x00", b"L")
            else:
                emit(b"pax_header", pax_record("path", name), b"x")
            emit(name_b[:100], body)
        else:
            emit(name_b, body)
    out.write(b"\x00" * (2 * _BLOCK))
    return out.getvalue()


def wds_components(shards):
    """Explode (shard_id, payload) TAR shards into one row per member
    file with the WebDataset key/extension split and a CRC32 — the
    table sample grouping, integrity audits and checksum dedup run
    on. Arrow mapInPandas; payload bytes stay on the executors (rows
    carry offsets, not contents)."""
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("shard_id", T.LongType(), False),
        T.StructField("member_idx", T.IntegerType(), False),
        T.StructField("sample_key", T.StringType(), False),
        T.StructField("ext", T.StringType(), False),
        T.StructField("offset", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("crc32", T.LongType(), False),
    ])

    def batches(it):
        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.wds import (
            parse_tar,
            split_wds_key,
        )

        cols = [f.name for f in out_schema.fields]
        for pdf in it:
            out = {k: [] for k in cols}
            for sid, payload in zip(pdf["shard_id"], pdf["payload"]):
                raw = bytes(payload)
                for i, m in enumerate(parse_tar(raw)):
                    key, ext = split_wds_key(m["name"])
                    out["shard_id"].append(sid)
                    out["member_idx"].append(i)
                    out["sample_key"].append(key)
                    out["ext"].append(ext)
                    out["offset"].append(m["offset"])
                    out["n_bytes"].append(m["size"])
                    out["crc32"].append(
                        zlib.crc32(raw[m["offset"] : m["offset"] + m["size"]])
                    )
            yield pd.DataFrame(out)

    return shards.mapInPandas(batches, schema=out_schema)


def wds_samples(shards):
    """WebDataset SAMPLE view: components grouped by (shard, key) into
    one row per sample with its extension set, total bytes, and a
    deterministic combined checksum — declarative Spark aggregation
    over the component explosion (groupBy is the right tool; the
    grouping must survive repartitioning, unlike tar adjacency)."""
    from pyspark.sql import functions as F

    comps = wds_components(shards)
    return comps.groupBy("shard_id", "sample_key").agg(
        F.count(F.lit(1)).cast("int").alias("n_components"),
        F.array_sort(F.collect_list("ext")).alias("exts"),
        F.sum("n_bytes").alias("total_bytes"),
        F.sum("crc32").alias("checksum_sum"),
    )
