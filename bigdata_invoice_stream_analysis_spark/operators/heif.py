"""HEIF/AVIF image parsing — the MODERN scraped-image formats (AVIF
is what image CDNs serve today; HEIC is what phones shoot): both are
ISO-BMFF ``meta``-box files, so this module is deliberately thin —
it reuses the SAME box walker the MP4 gates use (operators/mp4.
walk_boxes), the SAME AV1 sequence-header parser the .obu/av1C gates
use (operators/av1.parse_sequence_header), and the SAME HEVC SPS
parser the hvcC gate uses (operators/h265.parse_hevc_sps). One
grammar per layer, shared across every container that embeds it.

Built against the public specs (ISO/IEC 23008-12 HEIF, the AVIF
spec's §2 "AV1 Image Item", ISO/IEC 14496-12 for the box grammar):

* ``ftyp`` brands route the file (avif/avis, heic/heix, mif1/msf1).
* ``meta`` is a FULL box (4-byte version/flags before children —
  the classic trap when reusing a plain-container walker).
* ``pitm`` names the primary item; ``iinf``/``infe`` (version ≥ 2)
  carry item ids + types — ``av01``/``hvc1`` coded images, ``grid``
  derived images, ``Exif`` and ``mime`` (XMP) METADATA items: the
  privacy surface of phone photos lives here, exactly like the JPEG
  APP1 gate.
* ``iprp``/``ipco`` hold the property boxes — ``ispe`` (the
  container's claimed geometry), ``av1C``/``hvcC`` (the decoder
  config carrying the BITSTREAM truth), ``irot``/``imir``
  (orientation transforms a naive width×height filter gets wrong) —
  and ``ipma`` associates them to items by 1-based index.
* The audit cross-checks ispe claims against the embedded bitstream
  (av1C configOBUs sequence header; hvcC SPS array) — the same
  container-lie detection the MP4 codec gates pin.

Malformed structure raises ValueError per the module contract.
Payload pixels (iloc/mdat) are never decoded.

Reference: n/a (extension surface).
"""

from __future__ import annotations

import struct

from bigdata_invoice_stream_analysis_spark.operators.mp4 import (
    walk_boxes,
)

HEIF_BRANDS = {b"avif", b"avis", b"heic", b"heix", b"mif1", b"msf1"}


def _full(data: bytes, body: int) -> tuple[int, int, int]:
    """(version, flags, first-child offset) of a FULL box body."""
    vf = struct.unpack_from(">I", data, body)[0]
    return vf >> 24, vf & 0xFFFFFF, body + 4


def parse_heif(data: bytes) -> dict:
    """Parse a HEIF/AVIF file's meta-box structure:

    ``{brand, primary_item_id, primary_type, width, height, codec,
    bitstream_width, bitstream_height, dims_match, n_items, has_exif,
    has_xmp, is_grid, rotation, mirrored}``.
    """
    if len(data) < 16 or data[4:8] != b"ftyp":
        raise ValueError("heif: missing ftyp box")
    brand = data[8:12]
    if brand not in HEIF_BRANDS:
        raise ValueError(
            f"heif: not a HEIF brand {brand.decode('latin-1')!r}")
    meta = None
    for t, b, e in walk_boxes(data, 0, len(data)):
        if t == b"meta":
            meta = (b, e)
            break
    if meta is None:
        raise ValueError("heif: no meta box")
    _, _, mstart = _full(data, meta[0])
    pitm: int | None = None
    items: dict[int, dict] = {}
    props: list[tuple[bytes, bytes]] = []
    assoc: dict[int, list[int]] = {}
    for t, b, e in walk_boxes(data, mstart, meta[1]):
        if t == b"pitm":
            v, _, p = _full(data, b)
            pitm = (struct.unpack_from(">H", data, p)[0] if v == 0
                    else struct.unpack_from(">I", data, p)[0])
        elif t == b"iinf":
            v, _, p = _full(data, b)
            p += 2 if v == 0 else 4  # entry_count
            for it, ib, ie in walk_boxes(data, p, e):
                if it == b"infe":
                    items.update([_parse_infe(data, ib, ie)])
        elif t == b"iprp":
            for pt, pb, pe in walk_boxes(data, b, e):
                if pt == b"ipco":
                    props = [(qt, data[qb:qe])
                             for qt, qb, qe in walk_boxes(data, pb, pe)]
                elif pt == b"ipma":
                    assoc = _parse_ipma(data, pb, pe)
    if pitm is None or pitm not in items:
        raise ValueError("heif: primary item missing from iinf")
    primary = items[pitm]
    width = height = None
    bs_w = bs_h = None
    codec = None
    rotation = 0
    mirrored = False
    for idx in assoc.get(pitm, []):
        if not 1 <= idx <= len(props):
            raise ValueError(f"heif: ipma property index {idx} "
                             "out of ipco range")
        ptype, body = props[idx - 1]
        if ptype == b"ispe":
            if len(body) < 12:
                raise ValueError("heif: truncated ispe")
            width, height = struct.unpack_from(">II", body, 4)
        elif ptype == b"av1C":
            codec, bs_w, bs_h = _parse_av1c(body)
        elif ptype == b"hvcC":
            codec, bs_w, bs_h = _parse_hvcc(body)
        elif ptype == b"irot" and len(body) >= 1:
            rotation = (body[0] & 0x3) * 90
        elif ptype == b"imir" and len(body) >= 1:
            mirrored = True
    dims_match = bool(
        bs_w is None
        or (width == bs_w and height == bs_h))
    return {
        "brand": brand.decode("latin-1"),
        "primary_item_id": pitm,
        "primary_type": primary["type"],
        "width": width,
        "height": height,
        "codec": codec,
        "bitstream_width": bs_w,
        "bitstream_height": bs_h,
        "dims_match": dims_match,
        "n_items": len(items),
        "has_exif": any(i["type"] == "Exif" for i in items.values()),
        "has_xmp": any(
            i["type"] == "mime"
            and "xmp" in (i["content_type"] or "").lower()
            for i in items.values()),
        "is_grid": primary["type"] == "grid",
        "rotation": rotation,
        "mirrored": mirrored,
    }


def _parse_infe(data: bytes, body: int, end: int):
    v, _, p = _full(data, body)
    if v < 2:
        raise ValueError("heif: infe version < 2 (pre-HEIF layout)")
    if v == 2:
        item_id = struct.unpack_from(">H", data, p)[0]
        p += 2
    else:
        item_id = struct.unpack_from(">I", data, p)[0]
        p += 4
    p += 2  # item_protection_index
    item_type = data[p:p + 4].decode("latin-1")
    p += 4
    nul = data.find(b"\x00", p, end)
    content_type = None
    if item_type == "mime" and nul >= 0:
        c_end = data.find(b"\x00", nul + 1, end)
        content_type = data[nul + 1:c_end if c_end >= 0 else end] \
            .decode("utf-8", "replace")
    return item_id, {"type": item_type, "content_type": content_type}


def _parse_ipma(data: bytes, body: int, end: int) -> dict[int, list[int]]:
    v, flags, p = _full(data, body)
    count = struct.unpack_from(">I", data, p)[0]
    p += 4
    out: dict[int, list[int]] = {}
    for _ in range(count):
        if v < 1:
            item_id = struct.unpack_from(">H", data, p)[0]
            p += 2
        else:
            item_id = struct.unpack_from(">I", data, p)[0]
            p += 4
        n = data[p]
        p += 1
        idxs = []
        for _ in range(n):
            if flags & 1:
                raw = struct.unpack_from(">H", data, p)[0]
                p += 2
                idxs.append(raw & 0x7FFF)
            else:
                idxs.append(data[p] & 0x7F)
                p += 1
        out[item_id] = idxs
        if p > end:
            raise ValueError("heif: ipma overruns box")
    return out


def _parse_av1c(body: bytes):
    if len(body) < 4 or body[0] != 0x81:
        raise ValueError("heif: bad av1C marker/version")
    profile = body[1] >> 5
    level = body[1] & 0x1F
    tier = body[2] >> 7
    codec = f"av01.{profile}.{level:02d}{'H' if tier else 'M'}"
    bs_w = bs_h = None
    config_obus = body[4:]
    if config_obus:
        from bigdata_invoice_stream_analysis_spark.operators.av1 import (
            OBU_SEQUENCE_HEADER,
            parse_obus,
            parse_sequence_header,
        )

        seq = next((o for o in parse_obus(config_obus)
                    if o["type"] == OBU_SEQUENCE_HEADER), None)
        if seq is not None:
            sh = parse_sequence_header(seq["payload"])
            bs_w, bs_h = sh["max_width"], sh["max_height"]
    return codec, bs_w, bs_h


def _parse_hvcc(body: bytes):
    if len(body) < 23:
        raise ValueError("heif: truncated hvcC")
    profile = body[1] & 0x1F
    level = body[12]
    codec = f"hvc1.{profile}.L{level}"
    bs_w = bs_h = None
    n_arrays = body[22]
    p = 23
    for _ in range(n_arrays):
        nal_type = body[p] & 0x3F
        n_nalus = struct.unpack_from(">H", body, p + 1)[0]
        p += 3
        for _ in range(n_nalus):
            ln = struct.unpack_from(">H", body, p)[0]
            nal = body[p + 2:p + 2 + ln]
            p += 2 + ln
            if nal_type == 33 and bs_w is None:
                from bigdata_invoice_stream_analysis_spark.operators.h265 import (  # noqa: E501
                    parse_hevc_sps,
                )

                sps = parse_hevc_sps(nal)
                bs_w, bs_h = sps["width"], sps["height"]
    return codec, bs_w, bs_h


# ---------------------------------------------------------------------------
# Fixture encoder
# ---------------------------------------------------------------------------


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + btype + body


def _fullbox(btype: bytes, body: bytes, version: int = 0,
             flags: int = 0) -> bytes:
    return _box(btype, struct.pack(">I", (version << 24) | flags)
                + body)


def encode_minimal_heif(
    *,
    codec: str = "av01",
    width: int = 640,
    height: int = 480,
    lie_dims: bool = False,
    with_exif: bool = False,
    with_xmp: bool = False,
    grid: bool = False,
    rotation: int = 0,
    seq_profile: int = 0,
    seq_level: int = 8,
) -> bytes:
    """A complete HEIF/AVIF meta prologue: ftyp + meta{hdlr, pitm,
    iinf, iprp{ipco, ipma}} (+ a stub mdat). ``lie_dims`` makes the
    ispe claim disagree with the embedded bitstream config — the
    container lie the audit must catch. ``codec`` 'av01' → AVIF with
    real configOBUs; 'hvc1' → HEIC with a real SPS in the hvcC."""
    from bigdata_invoice_stream_analysis_spark.operators.av1 import (
        OBU_SEQUENCE_HEADER,
        encode_obu,
        encode_sequence_header,
    )
    from bigdata_invoice_stream_analysis_spark.operators.h265 import (
        encode_hevc_sps,
    )

    brand = b"avif" if codec == "av01" else b"heic"
    ftyp = _box(b"ftyp", brand + struct.pack(">I", 0)
                + brand + b"mif1miaf")
    claimed_w = width + (8 if lie_dims else 0)
    claimed_h = height
    hdlr = _fullbox(b"hdlr", bytes(4) + b"pict" + bytes(12) + b"\x00")
    pitm = _fullbox(b"pitm", struct.pack(">H", 1))
    infes = [_fullbox(
        b"infe",
        struct.pack(">HH", 1, 0)
        + (b"grid" if grid else codec.encode()) + b"\x00",
        version=2)]
    next_id = 2
    if grid:
        infes.append(_fullbox(
            b"infe", struct.pack(">HH", next_id, 0)
            + codec.encode() + b"\x00", version=2))
        next_id += 1
    if with_exif:
        infes.append(_fullbox(
            b"infe", struct.pack(">HH", next_id, 0)
            + b"Exif\x00", version=2))
        next_id += 1
    if with_xmp:
        infes.append(_fullbox(
            b"infe", struct.pack(">HH", next_id, 0)
            + b"mime\x00application/rdf+xml; charset=utf-8 (XMP)\x00",
            version=2))
        next_id += 1
    iinf = _fullbox(b"iinf", struct.pack(">H", len(infes))
                    + b"".join(infes))
    ispe = _fullbox(b"ispe",
                    struct.pack(">II", claimed_w, claimed_h))
    if codec == "av01":
        seq = encode_sequence_header(
            seq_profile=seq_profile, still_picture=True,
            operating_points=[(0, seq_level, 0)],
            max_width=width, max_height=height)
        cfg = _box(b"av1C",
                   bytes([0x81, (seq_profile << 5) | seq_level,
                          0x0C, 0])
                   + encode_obu(OBU_SEQUENCE_HEADER, seq))
    else:
        sps = encode_hevc_sps(1, 0, 93, width, height)
        head = (bytes([1, 0x01]) + struct.pack(">I", 0x60000000)
                + bytes(6) + bytes([93]))
        tail = (struct.pack(">H", 0xF000) + bytes([0xFC, 0xFD, 0xF8,
                                                   0xF8])
                + struct.pack(">H", 0) + bytes([0x03]))
        arrays = (bytes([1, 0x80 | 33]) + struct.pack(">H", 1)
                  + struct.pack(">H", len(sps)) + sps)
        cfg = _box(b"hvcC", head + tail + arrays)
    prop_list = [ispe, cfg]
    idxs = [1, 2]
    if rotation:
        prop_list.append(_box(b"irot", bytes([(rotation // 90) & 3])))
        idxs.append(len(prop_list))
    ipco = _box(b"ipco", b"".join(prop_list))
    ipma = _fullbox(
        b"ipma",
        struct.pack(">I", 1) + struct.pack(">H", 1)
        + bytes([len(idxs)]) + bytes(0x80 | i for i in idxs))
    iprp = _box(b"iprp", ipco + ipma)
    meta = _fullbox(b"meta", hdlr + pitm + iinf + iprp)
    return ftyp + meta + _box(b"mdat", bytes(16))


# ---------------------------------------------------------------------------
# Spark operator
# ---------------------------------------------------------------------------


def heif_image_profile(files):
    """(file_id, payload) → one audit row per HEIF/AVIF image:
    claimed geometry, bitstream truth, the dims_match lie bit,
    codec string, Exif/XMP metadata presence (the phone-photo
    privacy surface), grid/rotation structure. Map-side Arrow
    mapInPandas; failures quarantine."""
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("file_id", T.LongType(), False),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
        T.StructField("brand", T.StringType(), True),
        T.StructField("primary_type", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("codec", T.StringType(), True),
        T.StructField("bitstream_width", T.IntegerType(), True),
        T.StructField("bitstream_height", T.IntegerType(), True),
        T.StructField("dims_match", T.BooleanType(), True),
        T.StructField("n_items", T.IntegerType(), True),
        T.StructField("has_exif", T.BooleanType(), True),
        T.StructField("has_xmp", T.BooleanType(), True),
        T.StructField("rotation", T.IntegerType(), True),
    ])
    cols = [f.name for f in out_schema.fields]

    def batches(it):
        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.heif import (
            parse_heif,
        )

        for pdf in it:
            out = {k: [] for k in cols}

            def emit(fid, **kw):
                row = dict.fromkeys(cols)
                row["file_id"] = fid
                row.update(kw)
                for k in cols:
                    out[k].append(row[k])

            for fid, p in zip(pdf["file_id"], pdf["payload"]):
                try:
                    m = parse_heif(bytes(p))
                except (ValueError, struct.error) as exc:
                    emit(fid, ok=False, error=str(exc)[:120])
                    continue
                emit(fid, ok=True, brand=m["brand"],
                     primary_type=m["primary_type"],
                     width=m["width"], height=m["height"],
                     codec=m["codec"],
                     bitstream_width=m["bitstream_width"],
                     bitstream_height=m["bitstream_height"],
                     dims_match=m["dims_match"],
                     n_items=m["n_items"], has_exif=m["has_exif"],
                     has_xmp=m["has_xmp"], rotation=m["rotation"])
            yield pd.DataFrame(out)

    return files.mapInPandas(batches, schema=out_schema)
