"""AV1 bitstream parsing: OBU framing and the sequence header.

The third leg of the codec-truth matrix (h264.py parses the AVC SPS,
h265.py the HEVC SPS): written against the public *AV1 Bitstream &
Decoding Process Specification* (AOM, v1.0.0 with Errata 1) —
§4 (bit reading conventions), §5.3 (OBU syntax, leb128), §5.5.1
(sequence_header_obu), §5.5.2 (color_config), §5.5.3 (timing_info).

Why: the av1C record and the stsd entry carry CONTAINER claims; the
sequence header OBU is what an AV1 decoder actually obeys —
profile, levels/tiers per operating point, true maximum frame
geometry, bit depth, chroma subsampling, monochrome and film-grain
bits. A scraped-video curation pass that filters on "AV1 ≤1080p
8-bit 4:2:0 without film grain" must read these from the bitstream,
not from whatever the muxer wrote. Parsing is pure bit syntax — no
codec library — exactly like the SPS walks.

The fixture encoder writes bit-exact sequence-header OBUs (both the
reduced still-picture form and the full multi-operating-point form)
so tests and oracles derive every field from encoder PARAMETERS.

Reference repo: n/a — extension surface beyond the reference's
scope (SURVEY.md §2.12); the format is the public AOM spec."""

from __future__ import annotations

OBU_SEQUENCE_HEADER = 1
OBU_TEMPORAL_DELIMITER = 2
OBU_FRAME_HEADER = 3
OBU_METADATA = 5
OBU_FRAME = 6
OBU_PADDING = 15

_OBU_NAMES = {
    OBU_SEQUENCE_HEADER: "sequence_header",
    OBU_TEMPORAL_DELIMITER: "temporal_delimiter",
    OBU_FRAME_HEADER: "frame_header",
    OBU_METADATA: "metadata",
    OBU_FRAME: "frame",
    OBU_PADDING: "padding",
}


# ---------------------------------------------------------------------------
# leb128 (§4.10.5) and bit I/O (§4.10)
# ---------------------------------------------------------------------------


def read_leb128(data: bytes, pos: int) -> tuple[int, int]:
    """§4.10.5: up to 8 bytes, 7 value bits each, LSB-first."""
    value = 0
    for i in range(8):
        if pos >= len(data):
            raise ValueError("av1: truncated leb128")
        byte = data[pos]
        pos += 1
        value |= (byte & 0x7F) << (7 * i)
        if not byte & 0x80:
            return value, pos
    raise ValueError("av1: leb128 longer than 8 bytes")


def write_leb128(value: int) -> bytes:
    out = bytearray()
    while True:
        byte = value & 0x7F
        value >>= 7
        if value:
            out.append(byte | 0x80)
        else:
            out.append(byte)
            return bytes(out)


class _BitReader:
    def __init__(self, data: bytes):
        self.data = bytes(data)
        self.pos = 0  # bit position

    def f(self, n: int) -> int:
        """§4.10.2 f(n): n bits, MSB first."""
        v = 0
        for _ in range(n):
            byte_idx, bit_idx = divmod(self.pos, 8)
            if byte_idx >= len(self.data):
                raise ValueError("av1: bitstream truncated")
            v = (v << 1) | ((self.data[byte_idx] >> (7 - bit_idx)) & 1)
            self.pos += 1
        return v


class _BitWriter:
    def __init__(self):
        self.bits: list[int] = []

    def f(self, value: int, n: int) -> None:
        for i in reversed(range(n)):
            self.bits.append((value >> i) & 1)

    def tobytes(self) -> bytes:
        # trailing_bits (§5.3.4): a 1 bit then zero-pad to a byte —
        # required at the end of every OBU payload with syntax.
        bits = self.bits + [1]
        while len(bits) % 8:
            bits.append(0)
        out = bytearray()
        for i in range(0, len(bits), 8):
            b = 0
            for bit in bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


# ---------------------------------------------------------------------------
# OBU walk (§5.3)
# ---------------------------------------------------------------------------


def parse_obus(data: bytes) -> list[dict]:
    """Walk a low-overhead bitstream (the .obu / section-5 format,
    also the av1C configOBUs payload): one dict per OBU with type,
    header fields, and the payload slice. Every OBU here must carry
    obu_has_size_field (the only legal form outside Annex B)."""
    data = bytes(data)
    pos = 0
    out = []
    while pos < len(data):
        hdr = data[pos]
        if hdr & 0x80:
            raise ValueError("av1: obu_forbidden_bit set")
        obu_type = (hdr >> 3) & 0x0F
        ext = (hdr >> 2) & 1
        has_size = (hdr >> 1) & 1
        pos += 1
        temporal_id = spatial_id = 0
        if ext:
            if pos >= len(data):
                raise ValueError("av1: truncated obu_extension_header")
            temporal_id = data[pos] >> 5
            spatial_id = (data[pos] >> 3) & 0x3
            pos += 1
        if not has_size:
            raise ValueError("av1: OBU without size field")
        size, pos = read_leb128(data, pos)
        if pos + size > len(data):
            raise ValueError("av1: OBU payload overruns stream")
        out.append({
            "type": obu_type,
            "type_name": _OBU_NAMES.get(obu_type, f"reserved_{obu_type}"),
            "temporal_id": temporal_id,
            "spatial_id": spatial_id,
            "size": size,
            "payload": data[pos : pos + size],
        })
        pos += size
    return out


# ---------------------------------------------------------------------------
# sequence_header_obu (§5.5.1) + color_config (§5.5.2)
# ---------------------------------------------------------------------------


def parse_sequence_header(payload: bytes) -> dict:
    """The full §5.5.1 walk. Returns the decoder-facing truth:
    profile, per-operating-point (idc, level, tier), max geometry,
    color config (bit depth, monochrome, subsampling, range), the
    coding-tool gates a filter cares about, and film grain."""
    r = _BitReader(payload)
    seq_profile = r.f(3)
    if seq_profile > 2:
        raise ValueError(f"av1: reserved seq_profile {seq_profile}")
    still_picture = r.f(1)
    reduced = r.f(1)
    op_points = []
    decoder_model_info_present = 0
    if reduced:
        if not still_picture:
            raise ValueError(
                "av1: reduced_still_picture_header requires still_picture"
            )
        op_points.append({"idc": 0, "level": r.f(5), "tier": 0})
    else:
        timing_info_present = r.f(1)
        if timing_info_present:
            # timing_info (§5.5.3)
            r.f(32)  # num_units_in_display_tick
            r.f(32)  # time_scale
            if r.f(1):  # equal_picture_interval
                _uvlc(r)  # num_ticks_per_picture_minus_1
            decoder_model_info_present = r.f(1)
            if decoder_model_info_present:
                raise ValueError(
                    "av1: decoder_model_info not supported by this walk"
                )
        initial_display_delay_present = r.f(1)
        op_cnt = r.f(5) + 1
        for _ in range(op_cnt):
            idc = r.f(12)
            level = r.f(5)
            tier = r.f(1) if level > 7 else 0
            if initial_display_delay_present and r.f(1):
                r.f(4)  # initial_display_delay_minus_1
            op_points.append({"idc": idc, "level": level, "tier": tier})
    wbits = r.f(4) + 1
    hbits = r.f(4) + 1
    max_width = r.f(wbits) + 1
    max_height = r.f(hbits) + 1
    if not reduced and r.f(1):  # frame_id_numbers_present_flag
        r.f(4)  # delta_frame_id_length_minus_2
        r.f(3)  # additional_frame_id_length_minus_1
    use_128x128_superblock = r.f(1)
    r.f(1)  # enable_filter_intra
    r.f(1)  # enable_intra_edge_filter
    enable_order_hint = 0
    order_hint_bits = 0
    if not reduced:
        r.f(1)  # enable_interintra_compound
        r.f(1)  # enable_masked_compound
        r.f(1)  # enable_warped_motion
        r.f(1)  # enable_dual_filter
        enable_order_hint = r.f(1)
        if enable_order_hint:
            r.f(1)  # enable_jnt_comp
            r.f(1)  # enable_ref_frame_mvs
        if r.f(1) == 0:  # seq_choose_screen_content_tools
            force_sct = r.f(1)
        else:
            force_sct = 2  # SELECT_SCREEN_CONTENT_TOOLS
        if force_sct > 0:
            if r.f(1) == 0:  # seq_choose_integer_mv
                r.f(1)  # seq_force_integer_mv
        if enable_order_hint:
            order_hint_bits = r.f(3) + 1
    enable_superres = r.f(1)
    enable_cdef = r.f(1)
    enable_restoration = r.f(1)

    # color_config (§5.5.2)
    high_bitdepth = r.f(1)
    if seq_profile == 2 and high_bitdepth:
        bit_depth = 12 if r.f(1) else 10
    else:
        bit_depth = 10 if high_bitdepth else 8
    mono_chrome = 0 if seq_profile == 1 else r.f(1)
    color_primaries = transfer = matrix = None
    if r.f(1):  # color_description_present_flag
        color_primaries = r.f(8)
        transfer = r.f(8)
        matrix = r.f(8)
    if mono_chrome:
        color_range = r.f(1)
        ss_x = ss_y = 1
        chroma_pos = None
        separate_uv_delta_q = 0
    elif (color_primaries == 1 and transfer == 13 and matrix == 0):
        # sRGB/identity: forced full range 4:4:4 (§5.5.2)
        color_range = 1
        ss_x = ss_y = 0
        chroma_pos = None
        separate_uv_delta_q = r.f(1)
    else:
        color_range = r.f(1)
        if seq_profile == 0:
            ss_x = ss_y = 1
        elif seq_profile == 1:
            ss_x = ss_y = 0
        else:  # profile 2
            if bit_depth == 12:
                ss_x = r.f(1)
                ss_y = r.f(1) if ss_x else 0
            else:
                ss_x, ss_y = 1, 0
        chroma_pos = r.f(2) if (ss_x and ss_y) else None
        separate_uv_delta_q = r.f(1)
    film_grain = r.f(1)
    return {
        "seq_profile": seq_profile,
        "still_picture": bool(still_picture),
        "reduced_still_picture_header": bool(reduced),
        "operating_points": op_points,
        "seq_level_idx": op_points[0]["level"],
        "seq_tier": op_points[0]["tier"],
        "max_width": max_width,
        "max_height": max_height,
        "bit_depth": bit_depth,
        "mono_chrome": bool(mono_chrome),
        "subsampling_x": ss_x,
        "subsampling_y": ss_y,
        "chroma_sample_position": chroma_pos,
        "color_range": color_range,
        "color_primaries": color_primaries,
        "use_128x128_superblock": bool(use_128x128_superblock),
        "enable_order_hint": bool(enable_order_hint),
        "order_hint_bits": order_hint_bits,
        "enable_superres": bool(enable_superres),
        "enable_cdef": bool(enable_cdef),
        "enable_restoration": bool(enable_restoration),
        "separate_uv_delta_q": bool(separate_uv_delta_q),
        "film_grain_params_present": bool(film_grain),
    }


def _uvlc(r: _BitReader) -> int:
    """§4.10.3 uvlc(): Exp-Golomb-style, used by timing_info."""
    lz = 0
    while r.f(1) == 0:
        lz += 1
        if lz > 32:
            raise ValueError("av1: uvlc leading zeros overflow")
    if lz == 32:
        return (1 << 32) - 1
    return (1 << lz) - 1 + (r.f(lz) if lz else 0)


# ---------------------------------------------------------------------------
# fixture encoder
# ---------------------------------------------------------------------------


def encode_sequence_header(
    *,
    seq_profile: int = 0,
    still_picture: bool = False,
    reduced: bool = False,
    operating_points: list[tuple[int, int, int]] | None = None,
    max_width: int = 1920,
    max_height: int = 1080,
    high_bitdepth: bool = False,
    twelve_bit: bool = False,
    mono_chrome: bool = False,
    srgb: bool = False,
    color_range: int = 0,
    use_128x128_superblock: bool = True,
    enable_order_hint: bool = True,
    order_hint_bits: int = 7,
    film_grain: bool = False,
) -> bytes:
    """Bit-exact §5.5.1 payload (WITHOUT the OBU header; see
    encode_obu). ``operating_points`` is [(idc, level, tier)];
    ``reduced`` writes the still-picture short form."""
    w = _BitWriter()
    w.f(seq_profile, 3)
    w.f(1 if still_picture else 0, 1)
    w.f(1 if reduced else 0, 1)
    if reduced:
        if not still_picture:
            raise ValueError("reduced form requires still_picture")
        ops = operating_points or [(0, 0, 0)]
        w.f(ops[0][1], 5)
    else:
        w.f(0, 1)  # timing_info_present_flag
        w.f(0, 1)  # initial_display_delay_present_flag
        ops = operating_points or [(0, 8, 0)]
        w.f(len(ops) - 1, 5)
        for idc, level, tier in ops:
            w.f(idc, 12)
            w.f(level, 5)
            if level > 7:
                w.f(tier, 1)
    wbits = max(max_width - 1, 1).bit_length()
    hbits = max(max_height - 1, 1).bit_length()
    w.f(wbits - 1, 4)
    w.f(hbits - 1, 4)
    w.f(max_width - 1, wbits)
    w.f(max_height - 1, hbits)
    if not reduced:
        w.f(0, 1)  # frame_id_numbers_present_flag
    w.f(1 if use_128x128_superblock else 0, 1)
    w.f(0, 1)  # enable_filter_intra
    w.f(0, 1)  # enable_intra_edge_filter
    if not reduced:
        w.f(0, 1)  # enable_interintra_compound
        w.f(0, 1)  # enable_masked_compound
        w.f(0, 1)  # enable_warped_motion
        w.f(0, 1)  # enable_dual_filter
        w.f(1 if enable_order_hint else 0, 1)
        if enable_order_hint:
            w.f(0, 1)  # enable_jnt_comp
            w.f(0, 1)  # enable_ref_frame_mvs
        w.f(1, 1)  # seq_choose_screen_content_tools = 1 (SELECT)
        w.f(0, 1)  # seq_choose_integer_mv = 0
        w.f(0, 1)  # seq_force_integer_mv = 0
        if enable_order_hint:
            w.f(order_hint_bits - 1, 3)
    w.f(0, 1)  # enable_superres
    w.f(1, 1)  # enable_cdef
    w.f(1, 1)  # enable_restoration
    # color_config
    w.f(1 if high_bitdepth else 0, 1)
    if seq_profile == 2 and high_bitdepth:
        w.f(1 if twelve_bit else 0, 1)
    if seq_profile != 1:
        w.f(1 if mono_chrome else 0, 1)
    elif mono_chrome:
        raise ValueError("profile 1 cannot be monochrome")
    if srgb:
        w.f(1, 1)   # color_description_present_flag
        w.f(1, 8)   # CP_BT_709
        w.f(13, 8)  # TC_SRGB
        w.f(0, 8)   # MC_IDENTITY
        if mono_chrome:
            raise ValueError("sRGB identity requires chroma planes")
        if seq_profile == 0:
            raise ValueError("sRGB 4:4:4 requires profile 1 or 2")
        w.f(0, 1)  # separate_uv_delta_q
    else:
        w.f(0, 1)  # color_description_present_flag
        if mono_chrome:
            w.f(color_range, 1)
        else:
            w.f(color_range, 1)
            bit_depth = (
                (12 if twelve_bit else 10) if (
                    seq_profile == 2 and high_bitdepth
                ) else (10 if high_bitdepth else 8)
            )
            if seq_profile == 2 and bit_depth == 12:
                w.f(1, 1)  # subsampling_x = 1
                w.f(1, 1)  # subsampling_y = 1
            # chroma_sample_position only when BOTH subsampling bits
            # are set: profile 0 (implicit 4:2:0) or the 12-bit
            # profile-2 form written above
            if seq_profile == 0 or (
                seq_profile == 2 and bit_depth == 12
            ):
                w.f(0, 2)  # chroma_sample_position CSP_UNKNOWN
            w.f(0, 1)  # separate_uv_delta_q
    w.f(1 if film_grain else 0, 1)
    return w.tobytes()


def encode_obu(obu_type: int, payload: bytes, *,
               temporal_id: int = 0, spatial_id: int = 0) -> bytes:
    """§5.3.1 OBU with obu_has_size_field=1 (+ extension header when
    a scalability id is set)."""
    ext = 1 if (temporal_id or spatial_id) else 0
    hdr = (obu_type << 3) | (ext << 2) | 0x02
    out = bytearray([hdr])
    if ext:
        out.append((temporal_id << 5) | (spatial_id << 3))
    out += write_leb128(len(payload))
    out += payload
    return bytes(out)


def encode_av1_stream(
    seq_kwargs: dict, *, n_frames: int = 2
) -> bytes:
    """A minimal low-overhead bitstream: temporal delimiter, the
    sequence header, then opaque frame OBUs (deterministic fill —
    frame payloads are never decoded by this module)."""
    out = bytearray()
    out += encode_obu(OBU_TEMPORAL_DELIMITER, b"")
    out += encode_obu(
        OBU_SEQUENCE_HEADER, encode_sequence_header(**seq_kwargs)
    )
    for i in range(n_frames):
        out += encode_obu(
            OBU_FRAME, bytes([(0x40 + i + j) % 256
                              for j in range(24 + 8 * i)])
        )
    return bytes(out)
