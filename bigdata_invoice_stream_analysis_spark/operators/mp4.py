"""ISO BMFF (MP4) demuxer — box walking and sample tables, pure Python,
written against the public ISO/IEC 14496-12 specification.

The honest split for video in a codec-less container: DEMUX is byte
parsing — box tree, stts/stsz/stco sample tables for progressive
files, and moof/traf/tfhd/tfdt/trun fragment runs for fragmented
(fMP4 / CMAF, i.e. DASH/HLS segment) files — and is implemented for
real here, plus END-TO-END decode for MJPEG tracks (every sample is a
standalone baseline JPEG, handled by operators/jpeg). Inter-frame
codecs (H.264 et al.) genuinely need a codec library and still raise.
A real frame-sampling pipeline is mostly demux: pick every-Nth (or
keyframe-only) sample offsets, then ship the byte ranges to wherever
the codec runs — exactly what ``frame_index`` emits.

Scale posture: parsing runs inside Arrow mapInPandas on executors like
the other codecs; payloads never reach the driver, and the emitted
index is fixed-width rows (one per kept frame)."""

from __future__ import annotations

import struct


def _u32(b: bytes, i: int) -> int:
    return struct.unpack(">I", b[i : i + 4])[0]


def walk_boxes(data: bytes, start: int, end: int):
    """Yield (box_type, body_start, body_end) for each box in
    [start, end); handles 64-bit largesize boxes."""
    for btype, _box_start, body, box_end in walk_boxes_with_start(
        data, start, end
    ):
        yield btype, body, box_end


def walk_boxes_with_start(data: bytes, start: int, end: int):
    """Yield (box_type, box_start, body_start, body_end) — like
    walk_boxes but also exposing the box's HEADER start, which differs
    from body_start - 8 for 64-bit largesize boxes (16-byte header).
    The fragment demuxer anchors default-base-is-moof offsets here."""
    i = start
    while i + 8 <= end:
        size = _u32(data, i)
        btype = data[i + 4 : i + 8]
        body = i + 8
        if size == 1:  # 64-bit largesize
            size = struct.unpack(">Q", data[i + 8 : i + 16])[0]
            body = i + 16
        elif size == 0:  # box extends to end of enclosing scope
            size = end - i
        if size < 8 or i + size > end:
            raise ValueError(f"bad box size {size} at {i}")
        yield btype, i, body, i + size
        i += size


def _find(data: bytes, start: int, end: int, btype: bytes):
    for t, b, e in walk_boxes(data, start, end):
        if t == btype:
            return b, e
    return None


def _video_trak(data: bytes, moov) -> tuple[int, int]:
    """Pick the VIDEO trak: real files carry several traks (audio +
    video + hint), and the sample tables below must come from the one
    whose mdia/hdlr handler is ``vide`` (ISO 14496-12 §8.4.3 — the
    handler_type field sits 8 bytes into the hdlr body, after
    version/flags + pre_defined). Falls back to the first trak when no
    handler says video (the bare fixture shape)."""
    first = None
    for t, b, e in walk_boxes(data, moov[0], moov[1]):
        if t != b"trak":
            continue
        if first is None:
            first = (b, e)
        mdia = _find(data, b, e, b"mdia")
        hdlr = _find(data, mdia[0], mdia[1], b"hdlr") if mdia else None
        if hdlr is not None and data[hdlr[0] + 8 : hdlr[0] + 12] == b"vide":
            return b, e
    if first is None:
        raise ValueError("no trak box")
    return first


def parse_mp4(payload: bytes) -> dict:
    """Parse the video track's sample table. Returns
    {timescale, duration, n_samples, sizes, offsets, times, keyframes}
    where offsets are ABSOLUTE byte positions of each sample (from
    stco + stsc chunk mapping), times are decode timestamps in
    timescale units (from stts run-lengths), and keyframes is the
    sorted 0-based list of sync samples from stss (all samples when no
    stss box — per spec, absence means every sample is a sync
    sample)."""
    data = bytes(payload)
    if len(data) < 16 or data[4:8] != b"ftyp":
        raise ValueError("not an ISO BMFF payload (no ftyp)")
    moov = _find(data, 0, len(data), b"moov")
    if moov is None:
        raise ValueError("no moov box")
    trak = _video_trak(data, moov)
    mdia = _find(data, trak[0], trak[1], b"mdia")
    if mdia is None:
        raise ValueError("no mdia box")
    mdhd = _find(data, mdia[0], mdia[1], b"mdhd")
    if mdhd is None:
        raise ValueError("no mdhd box")
    ver = data[mdhd[0]]
    if ver == 0:
        timescale = _u32(data, mdhd[0] + 12)
        duration = _u32(data, mdhd[0] + 16)
    else:
        timescale = _u32(data, mdhd[0] + 20)
        duration = struct.unpack(">Q", data[mdhd[0] + 24 : mdhd[0] + 32])[0]
    minf = _find(data, mdia[0], mdia[1], b"minf")
    stbl = _find(data, minf[0], minf[1], b"stbl") if minf else None
    if stbl is None:
        raise ValueError("no stbl box")

    # stsz: sample sizes. EVERY count below is validated against the
    # bytes its box actually holds BEFORE a table is materialized —
    # a corrupt count field (e.g. 4 billion) must be a ValueError,
    # not an unbounded allocation loop that hangs the task
    # (fuzz-pinned; tests/test_mp4.py corrupt-count cases).
    stsz = _find(data, stbl[0], stbl[1], b"stsz")
    if stsz is None:
        raise ValueError("no stsz box")
    uniform = _u32(data, stsz[0] + 4)
    n = _u32(data, stsz[0] + 8)
    if uniform:
        # uniform-size stsz stores no table to bound against; a
        # sample still occupies >=1 byte somewhere in the file
        if n > len(data):
            raise ValueError(f"corrupt stsz: {n} samples claimed")
        sizes = [uniform] * n
    else:
        if stsz[0] + 12 + 4 * n > stsz[1]:
            raise ValueError(f"corrupt stsz: {n} entries exceed box")
        sizes = [_u32(data, stsz[0] + 12 + 4 * i) for i in range(n)]

    # stts: decode times (run-length (count, delta) pairs)
    stts = _find(data, stbl[0], stbl[1], b"stts")
    if stts is None:
        raise ValueError("no stts box")
    n_runs = _u32(data, stts[0] + 4)
    if stts[0] + 8 + 8 * n_runs > stts[1]:
        raise ValueError(f"corrupt stts: {n_runs} runs exceed box")
    times = []
    t = 0
    for r in range(n_runs):
        cnt = _u32(data, stts[0] + 8 + 8 * r)
        delta = _u32(data, stts[0] + 12 + 8 * r)
        if len(times) + cnt > n:
            # §8.6.1.2: the stts counts must sum to the stsz sample
            # count; a lying run count is caught before it expands
            raise ValueError(
                f"corrupt stts: run counts exceed {n} samples")
        for _ in range(cnt):
            times.append(t)
            t += delta

    # stco: chunk offsets; stsc: samples-per-chunk mapping
    stco = _find(data, stbl[0], stbl[1], b"stco")
    stsc = _find(data, stbl[0], stbl[1], b"stsc")
    if stco is None or stsc is None:
        raise ValueError("no stco/stsc box")
    n_chunks = _u32(data, stco[0] + 4)
    if stco[0] + 8 + 4 * n_chunks > stco[1]:
        raise ValueError(f"corrupt stco: {n_chunks} entries exceed box")
    chunk_offsets = [_u32(data, stco[0] + 8 + 4 * i) for i in range(n_chunks)]
    n_stsc = _u32(data, stsc[0] + 4)
    if stsc[0] + 8 + 12 * n_stsc > stsc[1]:
        raise ValueError(f"corrupt stsc: {n_stsc} entries exceed box")
    stsc_rows = [
        (
            _u32(data, stsc[0] + 8 + 12 * i),      # first_chunk (1-based)
            _u32(data, stsc[0] + 12 + 12 * i),     # samples_per_chunk
        )
        for i in range(n_stsc)
    ]
    # expand chunk → samples_per_chunk; chunks past n_chunks don't
    # exist, so clamp each row's range (a corrupt first_chunk must
    # not multiply the table)
    spc = []
    for i, (first, per) in enumerate(stsc_rows):
        last = (
            stsc_rows[i + 1][0] - 1 if i + 1 < len(stsc_rows) else n_chunks
        )
        last = min(last, n_chunks)
        spc.extend([per] * (last - first + 1))
    offsets = []
    si = 0
    for ci, coff in enumerate(chunk_offsets):
        pos = coff
        for _ in range(spc[ci] if ci < len(spc) else 0):
            if si >= n:
                break
            offsets.append(pos)
            pos += sizes[si]
            si += 1
    if len(offsets) != n or len(times) != n:
        raise ValueError(
            f"inconsistent sample tables: {len(offsets)} offsets, "
            f"{len(times)} times, {n} sizes"
        )
    # stss: sync (key) frames — 1-based sample numbers; per spec an
    # absent stss means EVERY sample is a sync sample. Entries are
    # range-checked: entry 0 would become Python index -1 and silently
    # decode the LAST sample; past-n would IndexError later instead of
    # the corrupt-table ValueError this module's contract promises.
    stss = _find(data, stbl[0], stbl[1], b"stss")
    if stss is not None:
        n_sync = _u32(data, stss[0] + 4)
        if stss[0] + 8 + 4 * n_sync > stss[1]:
            raise ValueError(
                f"corrupt stss: {n_sync} entries exceed box")
        raw_sync = [_u32(data, stss[0] + 8 + 4 * i) for i in range(n_sync)]
        if any(s < 1 or s > n for s in raw_sync):
            raise ValueError(
                f"corrupt stss: sync sample numbers must be in [1, {n}]"
            )
        keyframes = sorted(s - 1 for s in raw_sync)
    else:
        keyframes = list(range(n))

    if n == 0:
        # FRAGMENTED MP4 (fMP4 / CMAF — what DASH and HLS segments
        # actually ship): the moov sample tables are empty and samples
        # are described per-fragment by moof/traf/tfhd/tfdt/trun.
        # The video trak's tkhd track_ID filters the trafs (multi-track
        # segments interleave audio runs in the same moofs).
        tkhd = _find(data, trak[0], trak[1], b"tkhd")
        track_id = 0
        if tkhd is not None:
            track_id = _u32(
                data, tkhd[0] + (20 if data[tkhd[0]] else 12)
            )
        sizes, offsets, times, keyframes = _parse_fragments(
            data, moov, track_id
        )
        n = len(sizes)
    return {
        "timescale": timescale,
        "duration": duration,
        "n_samples": n,
        "sizes": sizes,
        "offsets": offsets,
        "times": times,
        "keyframes": keyframes,
    }


def _parse_fragments(
    data: bytes, moov, track_id: int = 0
) -> tuple[list, list, list, list]:
    """Expand the video track's ``moof`` fragment runs into flat
    (sizes, offsets, times, keyframes) — ISO 14496-12 §8.8. Handles
    the shapes real segmenters emit: trex defaults (moov/mvex,
    duration/size/flags), tfhd with base-data-offset (flag 0x1) or
    default-base-is-moof (0x20000) and per-fragment default
    duration/size/flags (0x8/0x10/0x20), tfdt decode-time anchors
    (v0/v1), and trun with data-offset (0x1), first-sample-flags (0x4)
    and per-sample duration/size/flags/cts (0x100/0x200/0x400/0x800).
    Per §8.8.7, with neither base flag set the FIRST track fragment
    anchors at the moof start and each subsequent one at the END of
    the preceding track fragment's data. Within each moof, only trafs
    whose tfhd track_ID matches the video track EMIT samples
    (multi-track segments carry audio trafs too — their runs are still
    walked to carry the running data end); ``track_id`` 0 means
    unknown → every traf emits.

    Sync samples: sample_is_non_sync_sample bit (0x10000) of the
    effective sample flags, with the spec's precedence — explicit
    per-sample trun flags, else first-sample-flags (sample 0 only;
    per §8.8.8 it is only valid when per-sample flags are absent),
    else the tfhd default, else the trex default, else sync (the
    all-intra fixture shape carries no flags at all)."""
    default_dur = default_sz = 0
    trex_flags = None
    mvex = _find(data, moov[0], moov[1], b"mvex")
    if mvex is not None:
        trex = _find(data, mvex[0], mvex[1], b"trex")
        if trex is not None:
            default_dur = _u32(data, trex[0] + 12)
            default_sz = _u32(data, trex[0] + 16)
            trex_flags = _u32(data, trex[0] + 20)
    sizes: list[int] = []
    offsets: list[int] = []
    times: list[int] = []
    keyframes: list[int] = []
    t = 0
    for btype, box_start, b, e in walk_boxes_with_start(data, 0, len(data)):
        if btype != b"moof":
            continue
        # the HEADER start, not b - 8: a largesize moof has a 16-byte
        # header and default-base-is-moof anchors at the header
        moof_start = box_start
        trafs = [
            (tb, te)
            for tt, tb, te in walk_boxes(data, b, e)
            if tt == b"traf"
        ]
        if not trafs:
            raise ValueError("moof without traf")
        # §8.8.7: with neither base flag set, the FIRST track fragment
        # anchors at the moof start and each SUBSEQUENT one at the END
        # of the preceding track fragment's data — so even trafs of
        # OTHER tracks must have their runs walked (emit=False) to
        # carry the running data end; anchoring them all at moof_start
        # would alias a later default-based traf onto the first one's
        # bytes. prev_end is None when the preceding traf's sizes were
        # unknowable (another track's trex defaults are not parsed).
        prev_end: int | None = None
        for idx, traf in enumerate(trafs):
            tfhd = _find(data, traf[0], traf[1], b"tfhd")
            if tfhd is None:
                raise ValueError("traf without tfhd")
            emit = not track_id or _u32(data, tfhd[0] + 4) == track_id
            flags = _u32(data, tfhd[0]) & 0xFFFFFF
            i = tfhd[0] + 8  # skip version/flags + track_ID
            if flags & 0x1:  # base-data-offset (u64 absolute)
                base = struct.unpack(">Q", data[i : i + 8])[0]
                i += 8
            elif flags & 0x20000 or idx == 0:  # default-base-is-moof
                base = moof_start
            elif prev_end is not None:
                base = prev_end  # §8.8.7 subsequent-traf default
            else:
                raise ValueError(
                    "cannot anchor traf: no base flag set and the "
                    "preceding track fragment's data end is unknown"
                )
            if flags & 0x2:  # sample-description-index
                i += 4
            frag_dur = default_dur
            if flags & 0x8:
                frag_dur = _u32(data, i)
                i += 4
            frag_sz = default_sz
            if flags & 0x10:
                frag_sz = _u32(data, i)
                i += 4
            frag_flags = trex_flags
            if flags & 0x20:  # default-sample-flags
                frag_flags = _u32(data, i)
                i += 4
            if emit:
                tfdt = _find(data, traf[0], traf[1], b"tfdt")
                if tfdt is not None:
                    t = (
                        struct.unpack(
                            ">Q", data[tfdt[0] + 4 : tfdt[0] + 12]
                        )[0]
                        if data[tfdt[0]]
                        else _u32(data, tfdt[0] + 4)
                    )
            # §8.8.8: only the FIRST trun defaults to the base; later
            # truns without an explicit data-offset continue right
            # after the previous run's samples (pos carries across).
            pos = base
            traf_end = base
            sized = True
            for bt2, b2, _e2 in walk_boxes(data, traf[0], traf[1]):
                if bt2 != b"trun":
                    continue
                if not sized:
                    break
                tflags = _u32(data, b2) & 0xFFFFFF
                cnt = _u32(data, b2 + 4)
                j = b2 + 8
                if tflags & 0x1:  # data-offset (signed, rel. to base)
                    pos = base + struct.unpack(">i", data[j : j + 4])[0]
                    j += 4
                first_flags = None
                if tflags & 0x4:  # first-sample-flags
                    first_flags = _u32(data, j)
                    j += 4
                # Bound the run count before expanding it: with
                # per-sample fields the entries must fit the trun box;
                # without them nothing in the box limits cnt, so the
                # file size does (a corrupt 4-billion count must be a
                # ValueError, not an unbounded loop — fuzz-pinned).
                per = 4 * sum(
                    1 for bit in (0x100, 0x200, 0x400, 0x800)
                    if tflags & bit
                )
                if per and j + cnt * per > _e2:
                    raise ValueError(
                        f"corrupt trun: {cnt} samples exceed box")
                if not per and cnt > len(data):
                    raise ValueError(
                        f"corrupt trun: {cnt} samples claimed")
                for _s in range(cnt):
                    dur = frag_dur
                    if tflags & 0x100:
                        dur = _u32(data, j)
                        j += 4
                    sz = frag_sz
                    if tflags & 0x200:
                        sz = _u32(data, j)
                        j += 4
                    sflags = frag_flags
                    if tflags & 0x400:  # explicit per-sample flags WIN
                        sflags = _u32(data, j)
                        j += 4
                    elif _s == 0 and first_flags is not None:
                        sflags = first_flags
                    if tflags & 0x800:  # composition-time offset
                        j += 4
                    if sz <= 0:
                        if emit:
                            raise ValueError(
                                "fragment sample with no size: trun lacks "
                                "sample-size and no tfhd/trex default "
                                "applies"
                            )
                        # another track relying on ITS trex defaults
                        # (not parsed here): its data end is unknowable
                        sized = False
                        break
                    if emit:
                        # sample_is_non_sync_sample bit; no flags → sync
                        if sflags is None or not (sflags & 0x10000):
                            keyframes.append(len(sizes))
                        offsets.append(pos)
                        sizes.append(sz)
                        times.append(t)
                        t += dur
                    pos += sz
                    traf_end = max(traf_end, pos)
            prev_end = traf_end if sized else None
    return sizes, offsets, times, keyframes


def _stsd_first_entry(
    data: bytes, handler: bytes = b"vide"
) -> tuple[int, int]:
    """Locate the first stsd sample entry of the trak with the given
    hdlr handler type; returns (entry_start, entry_size) where
    entry_start points at the entry's own size field. Shared by the
    video codec-profile, SPS cross-check, and audio codec parsers."""
    if len(data) < 16 or data[4:8] != b"ftyp":
        raise ValueError("not an ISO BMFF payload (no ftyp)")
    moov = _find(data, 0, len(data), b"moov")
    if moov is None:
        raise ValueError("no moov box")
    if handler == b"vide":
        trak = _video_trak(data, moov)
    else:
        trak = _handler_trak(data, moov, handler)
    mdia = _find(data, trak[0], trak[1], b"mdia")
    minf = _find(data, mdia[0], mdia[1], b"minf") if mdia else None
    stbl = _find(data, minf[0], minf[1], b"stbl") if minf else None
    stsd = _find(data, stbl[0], stbl[1], b"stsd") if stbl else None
    if stsd is None:
        raise ValueError("no stsd box")
    if _u32(data, stsd[0] + 4) == 0:
        raise ValueError("stsd has no sample descriptions")
    entry = stsd[0] + 8  # first sample entry's size field
    size = _u32(data, entry)
    if size < 16 or entry + size > stsd[1]:
        raise ValueError(f"bad stsd sample entry size {size}")
    return entry, size


def _handler_trak(data: bytes, moov, handler: bytes) -> tuple[int, int]:
    """Pick the trak whose mdia/hdlr handler_type matches (no
    positional fallback — an audio parse of a video-only file should
    fail loudly, not read the wrong trak's tables)."""
    for t, b, e in walk_boxes(data, moov[0], moov[1]):
        if t != b"trak":
            continue
        mdia = _find(data, b, e, b"mdia")
        hdlr = _find(data, mdia[0], mdia[1], b"hdlr") if mdia else None
        if hdlr is not None and data[hdlr[0] + 8 : hdlr[0] + 12] == handler:
            return b, e
    raise ValueError(f"no trak with handler {handler!r}")


def _visual_entry_claims(data: bytes) -> tuple[int, int, str, int, int]:
    """Locate the video trak's first stsd sample entry and read the
    VisualSampleEntry CONTAINER CLAIMS — the fourcc and the §12.1.3
    fixed-offset width/height (entry+32/34, after the 8-byte header +
    8 bytes reserved/data-ref + 16 bytes pre_defined/reserved).
    Shared by the codec-profile parser and both SPS cross-checks so
    the offset arithmetic lives in exactly one place."""
    entry, size = _stsd_first_entry(data)
    codec = data[entry + 4 : entry + 8].decode("ascii", "replace")
    width = struct.unpack(">H", data[entry + 32 : entry + 34])[0]
    height = struct.unpack(">H", data[entry + 34 : entry + 36])[0]
    return entry, size, codec, width, height


def _entry_config_boxes(data: bytes, entry: int, size: int):
    """Iterate a VisualSampleEntry's child config boxes (avcC/hvcC/
    av1C ...), which start at entry offset 86 — after the §12.1.3
    fixed fields through depth + pre_defined."""
    if entry + 86 < entry + size:
        yield from walk_boxes(data, entry + 86, entry + size)


def parse_codec_profile(payload: bytes) -> dict:
    """Parse the video track's stsd SAMPLE DESCRIPTION — the codec
    metadata a corpus-curation pipeline filters on BEFORE ever running
    a decoder (and the honest boundary for inter-frame codecs this
    environment cannot decode): the sample-entry fourcc, the
    VisualSampleEntry width/height (ISO 14496-12 §12.1.3 — fixed
    offsets 32/34 into the entry, after the 8-byte header + 8 bytes
    reserved/data-ref + 16 bytes pre_defined/reserved), and for avc1
    entries the avcC AVCDecoderConfigurationRecord head (ISO 14496-15
    §5.3.3: configurationVersion, AVCProfileIndication,
    profile_compatibility, AVCLevelIndication) rendered as the RFC 6381
    codec string ``avc1.PPCCLL``. Child boxes (avcC et al.) start at
    entry offset 86 (after depth + pre_defined). Returns
    {codec, width, height, profile_idc, compat_flags, level_idc,
    codec_string} with the avc fields None for non-avc1 entries."""
    data = bytes(payload)
    entry, size, codec, width, height = _visual_entry_claims(data)
    profile = compat = level = None
    codec_string = codec
    for t, b, _e in _entry_config_boxes(data, entry, size):
        if t == b"avcC":
            if data[b] != 1:
                raise ValueError(
                    f"unsupported avcC configurationVersion {data[b]}"
                )
            profile, compat, level = data[b + 1], data[b + 2], data[b + 3]
            codec_string = f"avc1.{profile:02x}{compat:02x}{level:02x}"
        elif t == b"hvcC":
            # HEVCDecoderConfigurationRecord head (ISO 14496-15
            # §8.3.3.1): version, {2b profile_space | 1b tier |
            # 5b profile_idc}, u32 compatibility flags, 48b
            # constraint flags, u8 level_idc.
            if data[b] != 1:
                raise ValueError(
                    f"unsupported hvcC configurationVersion {data[b]}"
                )
            space = data[b + 1] >> 6
            tier = (data[b + 1] >> 5) & 1
            profile = data[b + 1] & 0x1F
            compat = _u32(data, b + 2)
            constraints = data[b + 6 : b + 12]
            level = data[b + 12]
            codec_string = _hevc_codec_string(
                codec, space, tier, profile, compat, constraints, level
            )
        elif t == b"vpcC":
            # VPCodecConfigurationRecord (public VP Codec ISO Media
            # File Format Binding §2.2.2): FullBox v1, then profile u8,
            # level u8, {bitDepth(4) | chromaSubsampling(3) |
            # videoFullRangeFlag(1)}, colour primaries/transfer/matrix,
            # u16 codecInitializationDataSize (0 for VP9).
            if data[b] != 1:
                raise ValueError(f"unsupported vpcC version {data[b]}")
            profile = data[b + 4]
            level = data[b + 5]
            depth = data[b + 6] >> 4
            compat = None
            # VP9 codecs parameter string (binding §3, short form):
            # vp09.PP.LL.DD, two decimal digits each.
            codec_string = f"vp09.{profile:02d}.{level:02d}.{depth:02d}"
        elif t == b"av1C":
            # AV1CodecConfigurationRecord (AV1-ISOBMFF binding
            # §2.3): marker(1)=1 | version(7)=1, then
            # seq_profile(3) | seq_level_idx_0(5), then
            # seq_tier_0(1) | high_bitdepth(1) | twelve_bit(1) |
            # monochrome(1) | ssx(1) | ssy(1) | sample_pos(2).
            if data[b] != 0x81:
                raise ValueError(
                    f"unsupported av1C marker/version {data[b]:#x}"
                )
            profile = data[b + 1] >> 5
            level = data[b + 1] & 0x1F
            tier = data[b + 2] >> 7
            high_bd = (data[b + 2] >> 6) & 1
            twelve = (data[b + 2] >> 5) & 1
            compat = None
            # Bit depth (AV1 spec §6.4.1 color_config): profile 2
            # with high_bitdepth may be 12-bit; else 10 or 8.
            if high_bd:
                depth = 12 if (profile == 2 and twelve) else 10
            else:
                depth = 8
            # AV1 Codecs Parameter String (binding §5, short form):
            # av01.P.LLT.DD — decimal profile, 2-digit level,
            # M/H tier, 2-digit bit depth.
            codec_string = (
                f"av01.{profile}.{level:02d}{'H' if tier else 'M'}"
                f".{depth:02d}"
            )
    return {
        "codec": codec,
        "width": width,
        "height": height,
        "profile_idc": profile,
        "compat_flags": compat,
        "level_idc": level,
        "codec_string": codec_string,
    }


def _hevc_codec_string(
    fourcc: str,
    space: int,
    tier: int,
    profile_idc: int,
    compat: int,
    constraints: bytes,
    level_idc: int,
) -> str:
    """RFC 6381 / ISO 14496-15 Annex E.3 HEVC codec string:
    ``hev1.[A|B|C]P.CC.[LH]LLL[.C6...]`` — profile space as a letter
    (empty for 0), the 32 compatibility-flag bits in BIT-REVERSED order
    as unprefixed hex, tier as L/H + decimal level_idc, then the six
    constraint bytes in hex with TRAILING ZERO bytes omitted."""
    rev = int(f"{compat:032b}"[::-1], 2)
    parts = [
        fourcc,
        f"{'' if space == 0 else chr(ord('A') + space - 1)}{profile_idc}",
        f"{rev:x}",
        f"{'H' if tier else 'L'}{level_idc}",
    ]
    trimmed = bytes(constraints).rstrip(b"\x00")
    parts.extend(f"{c:02x}" for c in trimmed)
    return ".".join(parts)


def codec_profile(media):
    """Codec-metadata extraction over MP4 payloads inside Arrow
    mapInPandas: stsd/avcC codec identity (parse_codec_profile) joined
    with the demuxed sample count and mdhd duration (parse_mp4) — one
    fixed-width row per media file, the projection a video-corpus
    curation pipeline filters on (codec string, resolution, length)
    before committing to any decode. Payloads never leave the
    executors; package is imported on workers
    (deploy.ensure_package_on_workers)."""
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("codec", T.StringType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("profile_idc", T.IntegerType(), True),
        # u32 in hvcC — bit 31 (general_profile_compatibility_flag[0])
        # overflows a signed int32 at Arrow conversion, so LongType.
        T.StructField("compat_flags", T.LongType(), True),
        T.StructField("level_idc", T.IntegerType(), True),
        T.StructField("codec_string", T.StringType(), False),
        T.StructField("n_samples", T.LongType(), False),
        T.StructField("duration_ms", T.LongType(), False),
    ])

    def batches(it):
        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.mp4 import (
            parse_codec_profile,
            parse_mp4,
        )

        cols = [f.name for f in out_schema.fields]
        for pdf in it:
            out = {k: [] for k in cols}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(p)
                prof = parse_codec_profile(raw)
                info = parse_mp4(raw)
                out["media_id"].append(mid)
                for k in (
                    "codec", "width", "height", "profile_idc",
                    "compat_flags", "level_idc", "codec_string",
                ):
                    out[k].append(prof[k])
                out["n_samples"].append(info["n_samples"])
                out["duration_ms"].append(
                    info["duration"] * 1000 // info["timescale"]
                )
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, schema=out_schema)


def parse_sps_cross_check(payload: bytes) -> dict:
    """Bitstream truth vs container claim: locate the avcC record in
    the video trak's stsd entry (ISO 14496-15 §5.3.3.1), pull the first
    sequenceParameterSetNALUnit out of its SPS array, parse it at the
    bit level (operators/h264.parse_sps — Exp-Golomb walk of
    §7.3.2.1.1), and compare the SPS-derived display size (coded
    macroblock size minus frame cropping) against the stsd
    VisualSampleEntry width/height. Scraped corpora routinely carry
    containers that lie; the SPS is what a decoder obeys, so
    ``dims_match`` is the filter bit a curation pipeline wants.
    Returns container_{width,height}, the SPS truth
    (sps_{profile_idc,constraint_flags,level_idc,chroma_format_idc},
    coded_{width,height}, sps_{width,height}), and dims_match.
    Raises for non-avc1 entries or an empty SPS array — for metadata
    -only fixtures use parse_codec_profile instead."""
    from bigdata_invoice_stream_analysis_spark.operators.h264 import parse_sps

    data = bytes(payload)
    entry, size, codec, container_w, container_h = _visual_entry_claims(data)
    avcc = None
    for t, b, e in _entry_config_boxes(data, entry, size):
        if t == b"avcC":
            avcc = (b, e)
    if avcc is None:
        raise ValueError(f"no avcC record in {codec!r} sample entry")
    b = avcc[0]
    if data[b] != 1:
        raise ValueError(f"unsupported avcC configurationVersion {data[b]}")
    n_sps = data[b + 5] & 0x1F
    if n_sps == 0:
        raise ValueError("avcC carries no sequence parameter sets")
    nal_len = struct.unpack(">H", data[b + 6 : b + 8])[0]
    nal = data[b + 8 : b + 8 + nal_len]
    if len(nal) != nal_len or b + 8 + nal_len > avcc[1]:
        raise ValueError("avcC SPS NAL truncated")
    sps = parse_sps(nal)
    return {
        "codec": codec,
        "container_width": container_w,
        "container_height": container_h,
        "sps_profile_idc": sps["profile_idc"],
        "sps_constraint_flags": sps["constraint_flags"],
        "sps_level_idc": sps["level_idc"],
        "sps_chroma_format_idc": sps["chroma_format_idc"],
        "coded_width": sps["coded_width"],
        "coded_height": sps["coded_height"],
        "sps_width": sps["width"],
        "sps_height": sps["height"],
        "dims_match": (
            container_w == sps["width"] and container_h == sps["height"]
        ),
    }


def sps_cross_check(media):
    """SPS-vs-container audit over MP4 payloads inside Arrow
    mapInPandas — one fixed-width row per file with the stsd claims,
    the bitstream truth, and the match bit. The cheapest possible
    truth pass over a 100 TB video corpus: moov-only byte ranges, zero
    data shuffles, no decode. Package is imported on workers
    (deploy.ensure_package_on_workers)."""
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("codec", T.StringType(), False),
        T.StructField("container_width", T.IntegerType(), False),
        T.StructField("container_height", T.IntegerType(), False),
        T.StructField("sps_profile_idc", T.IntegerType(), False),
        T.StructField("sps_constraint_flags", T.IntegerType(), False),
        T.StructField("sps_level_idc", T.IntegerType(), False),
        T.StructField("sps_chroma_format_idc", T.IntegerType(), False),
        T.StructField("coded_width", T.IntegerType(), False),
        T.StructField("coded_height", T.IntegerType(), False),
        T.StructField("sps_width", T.IntegerType(), False),
        T.StructField("sps_height", T.IntegerType(), False),
        T.StructField("dims_match", T.BooleanType(), False),
    ])
    cols = [f.name for f in out_schema.fields]

    def batches(it):
        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.mp4 import (
            parse_sps_cross_check,
        )

        for pdf in it:
            out = {k: [] for k in cols}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                row = parse_sps_cross_check(bytes(p))
                out["media_id"].append(mid)
                for k in cols[1:]:
                    out[k].append(row[k])
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, schema=out_schema)


def parse_hevc_sps_cross_check(payload: bytes) -> dict:
    """The HEVC twin of parse_sps_cross_check: locate the hvcC record
    in the video trak's stsd entry (ISO 14496-15 §8.3.3.1), pull the
    first NAL out of its SPS array (array NAL_unit_type 33), bit-parse
    it (operators/h265.parse_hevc_sps — Exp-Golomb walk of §7.3.2.2.1
    incl. the fixed-width profile_tier_level and the §7.4.3.2.1
    conformance-window SubWidthC/SubHeightC scaling), and compare the
    SPS-derived output size against the stsd VisualSampleEntry claims.
    Also cross-checks the hvcC record HEAD against the SPS
    profile/tier/level (record_match) — re-muxed corpora carry hvcC
    heads rebuilt from guesses while the SPS is untouched. Raises for
    entries without an hvcC SPS array — metadata-only fixtures use
    parse_codec_profile instead."""
    from bigdata_invoice_stream_analysis_spark.operators.h265 import (
        parse_hevc_sps,
    )

    data = bytes(payload)
    entry, size, codec, container_w, container_h = _visual_entry_claims(data)
    hvcc = None
    for t, b, e in _entry_config_boxes(data, entry, size):
        if t == b"hvcC":
            hvcc = (b, e)
    if hvcc is None:
        raise ValueError(f"no hvcC record in {codec!r} sample entry")
    b, end = hvcc
    if b + 23 > end:
        raise ValueError("hvcC record shorter than its 23-byte head")
    if data[b] != 1:
        raise ValueError(f"unsupported hvcC configurationVersion {data[b]}")
    rec_tier = (data[b + 1] >> 5) & 1
    rec_profile = data[b + 1] & 0x1F
    rec_level = data[b + 12]
    # NAL arrays start after the 22-byte record head + numOfArrays byte
    # (§8.3.3.1: bytes 13..21 are the fixed mid fields).
    i = b + 22
    n_arrays = data[i]
    i += 1
    nal = None
    for _ in range(n_arrays):
        if i + 3 > end:
            raise ValueError("hvcC NAL array truncated")
        nal_type = data[i] & 0x3F
        n_nalus = struct.unpack(">H", data[i + 1 : i + 3])[0]
        i += 3
        for _ in range(n_nalus):
            if i + 2 > end:
                raise ValueError("hvcC NAL length truncated")
            ln = struct.unpack(">H", data[i : i + 2])[0]
            if i + 2 + ln > end:
                raise ValueError("hvcC NAL unit truncated")
            if nal_type == 33 and nal is None:
                nal = data[i + 2 : i + 2 + ln]
            i += 2 + ln
    if nal is None:
        raise ValueError("hvcC carries no SPS array")
    sps = parse_hevc_sps(nal)
    return {
        "codec": codec,
        "container_width": container_w,
        "container_height": container_h,
        "sps_profile_idc": sps["profile_idc"],
        "sps_tier_flag": sps["tier_flag"],
        "sps_level_idc": sps["level_idc"],
        "sps_chroma_format_idc": sps["chroma_format_idc"],
        "coded_width": sps["coded_width"],
        "coded_height": sps["coded_height"],
        "sps_width": sps["width"],
        "sps_height": sps["height"],
        "dims_match": (
            container_w == sps["width"] and container_h == sps["height"]
        ),
        "record_match": (
            rec_profile == sps["profile_idc"]
            and rec_tier == sps["tier_flag"]
            and rec_level == sps["level_idc"]
        ),
    }


def hevc_sps_cross_check(media):
    """HEVC SPS-vs-container audit over MP4 payloads inside Arrow
    mapInPandas — stsd claims, hvcC-record claims, bitstream truth, and
    the two match bits, one fixed-width row per file. Same 100 TB shape
    as the H.264 twin: moov-only byte ranges, zero data shuffles, no
    decode. Package is imported on workers
    (deploy.ensure_package_on_workers)."""
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("codec", T.StringType(), False),
        T.StructField("container_width", T.IntegerType(), False),
        T.StructField("container_height", T.IntegerType(), False),
        T.StructField("sps_profile_idc", T.IntegerType(), False),
        T.StructField("sps_tier_flag", T.IntegerType(), False),
        T.StructField("sps_level_idc", T.IntegerType(), False),
        T.StructField("sps_chroma_format_idc", T.IntegerType(), False),
        T.StructField("coded_width", T.IntegerType(), False),
        T.StructField("coded_height", T.IntegerType(), False),
        T.StructField("sps_width", T.IntegerType(), False),
        T.StructField("sps_height", T.IntegerType(), False),
        T.StructField("dims_match", T.BooleanType(), False),
        T.StructField("record_match", T.BooleanType(), False),
    ])
    cols = [f.name for f in out_schema.fields]

    def batches(it):
        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.mp4 import (
            parse_hevc_sps_cross_check,
        )

        for pdf in it:
            out = {k: [] for k in cols}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                row = parse_hevc_sps_cross_check(bytes(p))
                out["media_id"].append(mid)
                for k in cols[1:]:
                    out[k].append(row[k])
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, schema=out_schema)


# ASC samplingFrequencyIndex table (ISO 14496-3 §1.6.3.4).
_ASC_RATES = (
    96000, 88200, 64000, 48000, 44100, 32000,
    24000, 22050, 16000, 12000, 11025, 8000, 7350,
)


def _read_descriptor(data: bytes, i: int, end: int) -> tuple[int, int, int]:
    """MPEG-4 BaseDescriptor header (ISO 14496-1 §8.3.3): tag byte +
    expandable length — 1-4 bytes, 7 payload bits each, bit 7 set on
    every byte but the last (real muxers emit both the compact and the
    padded 0x80 0x80 0x80 xx forms). Returns (tag, body_start,
    body_end)."""
    if i >= end:
        raise ValueError("esds descriptor truncated")
    tag = data[i]
    i += 1
    length = 0
    for n in range(4):
        if i >= end:
            raise ValueError("esds descriptor length truncated")
        b = data[i]
        i += 1
        length = (length << 7) | (b & 0x7F)
        if not b & 0x80:
            break
    else:
        raise ValueError("esds descriptor length over 4 bytes")
    if i + length > end:
        raise ValueError("esds descriptor body truncated")
    return tag, i, i + length


def parse_audio_codec_profile(payload: bytes) -> dict:
    """Audio twin of parse_codec_profile: the ``soun`` trak's stsd
    AudioSampleEntry (ISO 14496-12 §12.2.3 — channelcount at entry
    offset 24, samplesize at 26, 16.16 samplerate at 32; child boxes
    from 36) and, for mp4a entries, the esds ES_Descriptor chain
    (ISO 14496-1 §7.2.6.5/.6.6): DecoderConfigDescriptor's
    objectTypeIndication plus the DecoderSpecificInfo
    AudioSpecificConfig (ISO 14496-3 §1.6.2.1 — 5-bit audioObjectType,
    4-bit samplingFrequencyIndex, 4-bit channelConfiguration),
    rendered as the RFC 6381 string ``mp4a.OO.A`` (hex OTI, decimal
    AOT). Emits BOTH the container claims and the ASC truth — like
    the video SPS cross-check, scraped corpora carry mp4a entries
    whose 16.16 samplerate disagrees with the ASC index the decoder
    obeys — plus ``rate_match``. Opus entries (Opus-in-BMFF §4.3:
    ``Opus`` + dOps) report the dOps channel count / informational
    InputSampleRate and audit the spec's samplerate==48000
    requirement; fLaC entries (FLAC-in-BMFF §3.3) report the dfLa
    STREAMINFO truth and audit it against the container rate. Other
    entries (raw PCM fourccs) return the container fields with the
    config fields None."""
    data = bytes(payload)
    entry, size = _stsd_first_entry(data, handler=b"soun")
    codec = data[entry + 4 : entry + 8].decode("ascii", "replace")
    channels = struct.unpack(">H", data[entry + 24 : entry + 26])[0]
    sample_size = struct.unpack(">H", data[entry + 26 : entry + 28])[0]
    container_rate = _u32(data, entry + 32) >> 16
    oti = aot = asc_rate = asc_channels = None
    codec_string = codec
    rate_match = None
    if entry + 36 < entry + size:
        for t, b, e in walk_boxes(data, entry + 36, entry + size):
            if t == b"dOps":
                # Opus-in-BMFF §4.3.2: Version u8, OutputChannelCount
                # u8, PreSkip u16, InputSampleRate u32, OutputGain s16,
                # ChannelMappingFamily u8 (NOT a FullBox). The decoder
                # always outputs 48 kHz, so the conformance audit is
                # the sample entry's own rate claim: the spec REQUIRES
                # samplerate == 48000 << 16 regardless of the
                # informational InputSampleRate.
                if e - b < 11:
                    raise ValueError("dOps box truncated")
                if data[b] != 0:
                    raise ValueError(f"dOps version {data[b]} unsupported")
                asc_channels = data[b + 1]
                asc_rate = _u32(data, b + 4)  # InputSampleRate
                codec_string = "opus"
                rate_match = container_rate == 48000
                continue
            if t == b"dfLa":
                # FLAC-in-BMFF §3.3.2: FullBox, then METADATA_BLOCKs;
                # the first must be STREAMINFO (type 0, 34 bytes) —
                # sample rate 20 bits, channels-1 3 bits, bps-1 5 bits
                # at byte offset 10 of the block body.
                i = b + 4  # FullBox version/flags
                if e - i < 4 + 34:
                    raise ValueError("dfLa/STREAMINFO truncated")
                if data[i] & 0x7F != 0:
                    raise ValueError("dfLa first block is not STREAMINFO")
                blen = int.from_bytes(data[i + 1 : i + 4], "big")
                if blen < 34:
                    raise ValueError(f"STREAMINFO length {blen} < 34")
                si = i + 4
                packed = int.from_bytes(data[si + 10 : si + 13], "big")
                asc_rate = packed >> 4
                asc_channels = ((packed >> 1) & 0x7) + 1
                codec_string = "fLaC"
                rate_match = container_rate == asc_rate
                continue
            if t != b"esds":
                continue
            i = b + 4  # FullBox version/flags
            tag, ds, de = _read_descriptor(data, i, e)
            if tag != 0x03:
                raise ValueError(f"esds does not start with ES_Descriptor ({tag:#x})")
            # ES_Descriptor: ES_ID u16, then flag byte gating optional
            # streamDependence / URL / OCR fields (§7.2.6.5).
            j = ds + 2
            flags = data[j]
            j += 1
            if flags & 0x80:
                j += 2  # dependsOn_ES_ID
            if flags & 0x40:
                j += 1 + data[j]  # URLlength + URLstring
            if flags & 0x20:
                j += 2  # OCR_ES_ID
            tag, cs, ce = _read_descriptor(data, j, de)
            if tag != 0x04:
                raise ValueError(f"expected DecoderConfigDescriptor, got {tag:#x}")
            oti = data[cs]
            codec_string = f"mp4a.{oti:02x}"
            # skip streamType/bufferSize/bitrates (13 bytes) to the
            # optional DecoderSpecificInfo
            j = cs + 13
            if j < ce:
                tag, is_, ie = _read_descriptor(data, j, ce)
                if tag == 0x05 and ie - is_ >= 2:
                    asc = struct.unpack(">H", data[is_ : is_ + 2])[0]
                    aot = asc >> 11
                    freq_idx = (asc >> 7) & 0xF
                    asc_channels = (asc >> 3) & 0xF
                    if freq_idx == 0xF:
                        # escape: 24-bit explicit frequency follows
                        if ie - is_ < 5:
                            raise ValueError("ASC explicit frequency truncated")
                        asc_rate = (
                            struct.unpack(">I", data[is_ + 1 : is_ + 5])[0]
                            >> 7
                        ) & 0xFFFFFF
                        asc_channels = (data[is_ + 4] >> 3) & 0xF
                    elif freq_idx < len(_ASC_RATES):
                        asc_rate = _ASC_RATES[freq_idx]
                    if aot == 31:
                        raise ValueError("escaped audioObjectType unsupported")
                    codec_string = f"mp4a.{oti:02x}.{aot}"
    return {
        "codec": codec,
        "container_channels": channels,
        "sample_size": sample_size,
        "container_sample_rate": container_rate,
        "oti": oti,
        "aot": aot,
        "asc_sample_rate": asc_rate,
        "asc_channels": asc_channels,
        "codec_string": codec_string,
        "rate_match": (
            rate_match if rate_match is not None
            else asc_rate is None or container_rate == asc_rate
        ),
    }


def audio_codec_profile(media):
    """mp4a/esds codec-metadata extraction over MP4 payloads inside
    Arrow mapInPandas — one fixed-width row per file: container
    AudioSampleEntry claims, esds/ASC truth, RFC 6381 string, and the
    rate-match audit bit. The audio-corpus twin of codec_profile:
    moov-only, zero data shuffles. Package is imported on workers
    (deploy.ensure_package_on_workers)."""
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("codec", T.StringType(), False),
        T.StructField("container_channels", T.IntegerType(), False),
        T.StructField("sample_size", T.IntegerType(), False),
        T.StructField("container_sample_rate", T.IntegerType(), False),
        T.StructField("oti", T.IntegerType(), True),
        T.StructField("aot", T.IntegerType(), True),
        T.StructField("asc_sample_rate", T.IntegerType(), True),
        T.StructField("asc_channels", T.IntegerType(), True),
        T.StructField("codec_string", T.StringType(), False),
        T.StructField("rate_match", T.BooleanType(), False),
    ])
    cols = [f.name for f in out_schema.fields]

    def batches(it):
        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.mp4 import (
            parse_audio_codec_profile,
        )

        for pdf in it:
            out = {k: [] for k in cols}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                row = parse_audio_codec_profile(bytes(p))
                out["media_id"].append(mid)
                for k in cols[1:]:
                    out[k].append(row[k])
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, schema=out_schema)


def _descriptor(tag: int, body: bytes, padded_length: bool = False) -> bytes:
    """BaseDescriptor with either the compact 1-byte length or the
    4-byte 0x80-padded expandable form real muxers commonly emit."""
    if padded_length:
        n = len(body)
        hdr = bytes([
            tag, 0x80 | (n >> 21) & 0x7F, 0x80 | (n >> 14) & 0x7F,
            0x80 | (n >> 7) & 0x7F, n & 0x7F,
        ])
        return hdr + body
    return bytes([tag, len(body)]) + body


def _mp4a_sample_entry(
    channels: int,
    samplerate: int,
    aot: int,
    freq_index: int,
    asc_channels: int | None = None,
    padded_descriptors: bool = False,
    explicit_rate: int | None = None,
) -> bytes:
    """One mp4a AudioSampleEntry (ISO 14496-12 §12.2.3) wrapping a real
    esds chain — ES_Descriptor(DecoderConfigDescriptor(OTI 0x40 AAC +
    DecoderSpecificInfo AudioSpecificConfig) + SLConfigDescriptor).
    The ASC carries ``freq_index``/``asc_channels`` (the truth a
    decoder obeys); ``samplerate``/``channels`` are the container
    claims, which fixtures may deliberately set differently.
    ``explicit_rate`` (with freq_index 0xF) writes the 24-bit
    escaped-frequency ASC form non-table rates use."""
    if asc_channels is None:
        asc_channels = channels
    if explicit_rate is not None:
        # 5b AOT + 4b idx=15 + 24b rate + 4b chan + 3b GASpecific
        val = (
            (aot << 35) | (0xF << 31) | (explicit_rate << 7)
            | (asc_channels << 3)
        )
        asc = val.to_bytes(5, "big")
    else:
        # ASC: 5b AOT + 4b freq index + 4b channel config + 3b GASpecific
        asc_bits = (aot << 11) | (freq_index << 7) | (asc_channels << 3)
        asc = struct.pack(">H", asc_bits)
    dcd_body = (
        bytes([0x40])                      # objectTypeIndication: AAC
        + bytes([0x15])                    # streamType 5 (audio) | upStream
        + b"\x00\x00\x00"                  # bufferSizeDB
        + struct.pack(">II", 128000, 128000)  # max/avg bitrate
        + _descriptor(0x05, asc, padded_descriptors)
    )
    es_body = (
        struct.pack(">H", 1)               # ES_ID
        + bytes([0])                       # no optional fields
        + _descriptor(0x04, dcd_body, padded_descriptors)
        + _descriptor(0x06, b"\x02", padded_descriptors)  # SLConfig
    )
    esds = _box(
        b"esds", struct.pack(">I", 0) + _descriptor(0x03, es_body, padded_descriptors)
    )
    body = (
        b"\x00" * 6 + struct.pack(">H", 1)  # reserved + data_ref_index
        + b"\x00" * 8                        # reserved[2]
        + struct.pack(">HH", channels, 16)   # channelcount, samplesize
        + struct.pack(">HH", 0, 0)           # pre_defined, reserved
        + struct.pack(">I", samplerate << 16)
        + esds
    )
    return _box(b"mp4a", body)


def _audio_entry(
    fourcc: bytes, channels: int, samplerate: int, cfg: bytes,
    sample_size: int = 16,
) -> bytes:
    """AudioSampleEntry skeleton (ISO 14496-12 §12.2.3) wrapping one
    codec configuration child box. The samplerate field is 16.16
    fixed-point — rates above 65535 Hz cannot be represented (real
    muxers write 48000 for hi-res audio), which is exactly why the
    codec-config cross-check exists."""
    if not 0 <= samplerate <= 0xFFFF:
        raise ValueError(
            f"samplerate {samplerate} does not fit the 16.16 field"
        )
    body = (
        b"\x00" * 6 + struct.pack(">H", 1)  # reserved + data_ref_index
        + b"\x00" * 8                        # reserved[2]
        + struct.pack(">HH", channels, sample_size)
        + struct.pack(">HH", 0, 0)           # pre_defined, reserved
        + struct.pack(">I", samplerate << 16)
        + cfg
    )
    return _box(fourcc, body)


def _opus_sample_entry(
    channels: int,
    samplerate: int,
    input_sample_rate: int,
    pre_skip: int = 312,
) -> bytes:
    """Opus AudioSampleEntry (Opus-in-BMFF §4.3): ``Opus`` fourcc with
    a dOps OpusSpecificBox — Version 0, OutputChannelCount, PreSkip,
    InputSampleRate (informational original rate), OutputGain 0,
    ChannelMappingFamily 0. ``samplerate`` is the container claim the
    spec requires to be 48000; fixtures may deliberately violate it to
    plant the conformance lie parse_audio_codec_profile audits."""
    dops = _box(
        b"dOps",
        bytes([0, channels])
        + struct.pack(">H", pre_skip)
        + struct.pack(">I", input_sample_rate)
        + struct.pack(">h", 0)
        + bytes([0]),
    )
    return _audio_entry(b"Opus", channels, samplerate, dops)


def _flac_sample_entry(
    channels: int,
    samplerate: int,
    streaminfo_rate: int,
    streaminfo_channels: int | None = None,
    bits_per_sample: int = 16,
) -> bytes:
    """FLAC AudioSampleEntry (FLAC-in-BMFF §3.3.2): ``fLaC`` fourcc
    with a dfLa FullBox holding the mandatory STREAMINFO metadata
    block (rate 20 bits / channels-1 3 bits / bps-1 5 bits packed at
    byte 10). ``samplerate`` is the container claim; fixtures may set
    it differently from the STREAMINFO truth to plant the lie."""
    if streaminfo_channels is None:
        streaminfo_channels = channels
    packed = (
        (streaminfo_rate << 44)
        | ((streaminfo_channels - 1) << 41)
        | ((bits_per_sample - 1) << 36)
        | 48000  # total samples (arbitrary fixture constant)
    )
    streaminfo = (
        struct.pack(">HH", 1024, 1024)       # min/max blocksize
        + b"\x00\x00\x20" * 2                # min/max framesize (u24)
        + packed.to_bytes(8, "big")
        + b"\x00" * 16                       # md5
    )
    assert len(streaminfo) == 34
    dfla = _box(
        b"dfLa",
        struct.pack(">I", 0)                 # FullBox version/flags
        + bytes([0x80]) + (34).to_bytes(3, "big")  # last | STREAMINFO
        + streaminfo,
    )
    return _audio_entry(b"fLaC", channels, samplerate, dfla)


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + btype + body


def _visual_sample_entry(fourcc: bytes, width: int, height: int, cfg: bytes) -> bytes:
    """VisualSampleEntry skeleton (ISO 14496-12 §12.1.3) wrapping one
    codec configuration child box."""
    body = (
        b"\x00" * 6 + struct.pack(">H", 1)      # reserved + data_ref_index
        + struct.pack(">HH", 0, 0)               # pre_defined + reserved
        + b"\x00" * 12                           # pre_defined[3]
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi h/v
        + struct.pack(">I", 0)                   # reserved
        + struct.pack(">H", 1)                   # frame_count
        + b"\x00" * 32                           # compressorname
        + struct.pack(">Hh", 24, -1)             # depth, pre_defined
        + cfg
    )
    return _box(fourcc, body)


def _avc1_sample_entry(
    width: int,
    height: int,
    profile: int,
    compat: int,
    level: int,
    sps_nals: tuple[bytes, ...] = (),
) -> bytes:
    """One avc1 VisualSampleEntry with a minimal avcC config record —
    the stsd shape real H.264 files carry. ``sps_nals`` embeds real
    length-prefixed sequenceParameterSetNALUnits (ISO 14496-15
    §5.3.3.1), the bitstream-truth payload parse_sps_cross_check
    extracts; empty means metadata-only fixtures."""
    body = bytearray([1, profile, compat, level, 0xFF, 0xE0 | len(sps_nals)])
    for nal in sps_nals:
        body += struct.pack(">H", len(nal)) + nal
    body.append(0)  # numOfPictureParameterSets
    avcc = _box(b"avcC", bytes(body))
    return _visual_sample_entry(b"avc1", width, height, avcc)


def _hev1_sample_entry(
    width: int,
    height: int,
    profile_idc: int,
    compat: int,
    tier: int,
    level_idc: int,
    constraints: bytes = b"",
    sps_nals: tuple[bytes, ...] = (),
) -> bytes:
    """One hev1 VisualSampleEntry with a minimal hvcC
    HEVCDecoderConfigurationRecord (ISO 14496-15 §8.3.3.1): version,
    space/tier/profile byte, u32 compat flags, 48-bit constraints,
    level, the fixed mid fields, then the NAL arrays — empty for
    metadata-only fixtures, or one SPS array (NAL type 33, §8.3.3.1.2
    array layout: completeness/type byte, u16 numNalus, each u16
    length + NAL bytes) carrying the bitstream truth
    parse_hevc_sps_cross_check audits."""
    head = (
        bytes([1, ((tier & 1) << 5) | (profile_idc & 0x1F)])
        + struct.pack(">I", compat)
        + (constraints + b"\x00" * 6)[:6]
        + bytes([level_idc])
    )
    arrays = bytearray([1 if sps_nals else 0])  # numOfArrays
    if sps_nals:
        arrays += bytes([0x80 | 33])  # array_completeness=1, NAL type SPS
        arrays += struct.pack(">H", len(sps_nals))
        for nal in sps_nals:
            arrays += struct.pack(">H", len(nal)) + nal
    tail = (
        struct.pack(">H", 0xF000)   # reserved + min_spatial_segmentation
        + bytes([0xFC])             # reserved + parallelismType
        + bytes([0xFD])             # reserved + chromaFormat 4:2:0
        + bytes([0xF8])             # reserved + bitDepthLumaMinus8
        + bytes([0xF8])             # reserved + bitDepthChromaMinus8
        + struct.pack(">H", 0)      # avgFrameRate
        + bytes([0x03])             # cfr/layers/nested/lengthSizeMinusOne
        + bytes(arrays)
    )
    return _visual_sample_entry(
        b"hev1", width, height, _box(b"hvcC", head + tail)
    )


def _av01_sample_entry(
    width: int,
    height: int,
    seq_profile: int,
    seq_level_idx: int,
    seq_tier: int = 0,
    high_bitdepth: int = 0,
    twelve_bit: int = 0,
    monochrome: int = 0,
) -> bytes:
    """One av01 VisualSampleEntry with an av1C
    AV1CodecConfigurationRecord (public AV1 Codec ISO Media File Format
    Binding §2.3): marker/version byte 0x81, then
    {seq_profile(3) | seq_level_idx_0(5)},
    {seq_tier_0(1) | high_bitdepth(1) | twelve_bit(1) | monochrome(1) |
    chroma_subsampling_x(1) | chroma_subsampling_y(1) |
    chroma_sample_position(2)}, and a reserved/delay byte. No
    configOBUs follow (optional per the binding), matching the
    empty-array hvcC fixtures."""
    ssx = ssy = 1  # 4:2:0 subsampling bits (monochrome also writes 1,1)
    byte1 = ((seq_profile & 0x7) << 5) | (seq_level_idx & 0x1F)
    byte2 = (
        ((seq_tier & 1) << 7)
        | ((high_bitdepth & 1) << 6)
        | ((twelve_bit & 1) << 5)
        | ((monochrome & 1) << 4)
        | ((ssx & 1) << 3)
        | ((ssy & 1) << 2)
    )
    av1c = _box(b"av1C", bytes([0x81, byte1, byte2, 0]))
    return _visual_sample_entry(b"av01", width, height, av1c)


def _vp09_sample_entry(
    width: int,
    height: int,
    profile: int,
    level: int,
    bit_depth: int = 8,
    chroma_subsampling: int = 1,
    full_range: int = 0,
) -> bytes:
    """One vp09 VisualSampleEntry with a vpcC
    VPCodecConfigurationRecord (VP Codec ISO Media File Format Binding
    §2.2.2): FullBox version 1, profile/level bytes, the packed
    bitDepth/chromaSubsampling/fullRange byte, BT.709 colour triple,
    and an empty codecInitializationData (required for VP9)."""
    body = (
        bytes([1, 0, 0, 0])  # version 1, flags 0
        + bytes([
            profile,
            level,
            ((bit_depth & 0xF) << 4)
            | ((chroma_subsampling & 0x7) << 1)
            | (full_range & 1),
            1, 1, 1,  # BT.709 primaries / transfer / matrix
        ])
        + struct.pack(">H", 0)
    )
    return _visual_sample_entry(b"vp09", width, height, _box(b"vpcC", body))


def encode_minimal_mp4(
    frame_sizes: list[int] | None = None,
    timescale: int = 1000,
    frame_delta: int = 40,
    frames: list[bytes] | None = None,
    keyframes: list[int] | None = None,
    audio_trak_first: bool = False,
    avc1: tuple[int, int, int, int, int] | None = None,
    avc1_sps: tuple[bytes, ...] = (),
    hev1: tuple[int, int, int, int, int, int] | None = None,
    hev1_sps: tuple[bytes, ...] = (),
    av01: tuple | None = None,
    vp09: tuple | None = None,
    mp4a: tuple | None = None,
    opus: tuple | None = None,
    flac: tuple | None = None,
) -> bytes:
    """Minimal but VALID ISO BMFF file (fixtures + tests): ftyp, one
    mdat holding the frame payloads back-to-back, and a
    moov/trak/mdia/minf/stbl whose stts/stsz/stsc/stco tables index
    them (one chunk). Pass ``frames`` to embed real sample bytes (the
    MJPEG fixtures carry baseline JPEGs); with ``frame_sizes`` alone,
    frame i's payload is the deterministic fill bytes((i + j) % 251)
    so tests can check the indexed ranges slice the right bytes.
    ``keyframes`` (0-based sample indices) writes an stss sync-sample
    table; ``audio_trak_first`` prepends a decoy ``soun`` trak with an
    empty stbl, the multi-trak shape real files have — the parser must
    pick the ``vide`` trak by hdlr, not by position. ``avc1``
    (width, height, profile, compat, level) writes a real avc1+avcC
    sample description instead of the 0-entry raw stsd (``avc1_sps``
    embeds real SPS NAL units in its array — the bitstream truth
    parse_sps_cross_check audits); ``hev1``
    (width, height, profile_idc, compat, tier, level_idc) likewise an
    hev1+hvcC entry — the codec metadata parse_codec_profile
    extracts (``hev1_sps`` embeds real HEVC SPS NAL units in an hvcC
    array for parse_hevc_sps_cross_check); ``av01``
    (width, height, seq_profile, seq_level_idx, seq_tier,
    high_bitdepth, twelve_bit, monochrome) an av01+av1C entry.
    ``mp4a`` (channels, samplerate, aot, freq_index) makes
    the trak an AUDIO trak (hdlr ``soun``) with a real mp4a+esds
    entry for parse_audio_codec_profile; ``opus``
    (channels, samplerate, input_sample_rate) an Opus+dOps entry and
    ``flac`` (channels, samplerate, streaminfo_rate) an fLaC+dfLa
    entry, the same way."""
    if frames is None:
        if frame_sizes is None:
            raise ValueError("need frame_sizes or frames")
        frames = [
            bytes((i + j) % 251 for j in range(sz))
            for i, sz in enumerate(frame_sizes)
        ]
    else:
        frame_sizes = [len(f) for f in frames]
    mdat_body = b"".join(frames)
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    n = len(frames)
    duration = n * frame_delta

    stts = _box(
        b"stts", struct.pack(">II", 0, 1) + struct.pack(">II", n, frame_delta)
    )
    stsz = _box(
        b"stsz",
        struct.pack(">III", 0, 0, n)
        + b"".join(struct.pack(">I", s) for s in frame_sizes),
    )
    stsc = _box(b"stsc", struct.pack(">II", 0, 1) + struct.pack(">III", 1, n, 1))
    # stco needs the absolute mdat payload offset: ftyp + mdat header
    mdat_payload_off = len(ftyp) + 8
    stco = _box(b"stco", struct.pack(">II", 0, 1) + struct.pack(">I", mdat_payload_off))
    if avc1 is not None:
        stsd = _box(
            b"stsd",
            struct.pack(">II", 0, 1)
            + _avc1_sample_entry(*avc1, sps_nals=avc1_sps),
        )
    elif hev1 is not None:
        stsd = _box(
            b"stsd",
            struct.pack(">II", 0, 1)
            + _hev1_sample_entry(*hev1, sps_nals=hev1_sps),
        )
    elif av01 is not None:
        stsd = _box(
            b"stsd", struct.pack(">II", 0, 1) + _av01_sample_entry(*av01)
        )
    elif vp09 is not None:
        stsd = _box(
            b"stsd", struct.pack(">II", 0, 1) + _vp09_sample_entry(*vp09)
        )
    elif mp4a is not None:
        stsd = _box(b"stsd", struct.pack(">II", 0, 1) + _mp4a_sample_entry(*mp4a))
    elif opus is not None:
        stsd = _box(b"stsd", struct.pack(">II", 0, 1) + _opus_sample_entry(*opus))
    elif flac is not None:
        stsd = _box(b"stsd", struct.pack(">II", 0, 1) + _flac_sample_entry(*flac))
    else:
        stsd = _box(b"stsd", struct.pack(">II", 0, 0))  # 0 entries (raw fixture)
    audio_entry = mp4a is not None or opus is not None or flac is not None
    stbl_body = stsd + stts + stsc + stsz + stco
    if keyframes is not None:
        stbl_body += _box(
            b"stss",
            struct.pack(">II", 0, len(keyframes))
            + b"".join(struct.pack(">I", k + 1) for k in sorted(keyframes)),
        )
    stbl = _box(b"stbl", stbl_body)
    minf = _box(b"minf", stbl)
    handler = b"soun" if audio_entry else b"vide"
    hdlr = _box(b"hdlr", struct.pack(">I", 0) + b"\x00" * 4 + handler + b"\x00" * 13)
    mdhd = _box(
        b"mdhd", struct.pack(">IIIII", 0, 0, 0, timescale, duration) + b"\x55\xc4\x00\x00"
    )
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    # tkhd v0: verflags + creation + modification + track_ID(=1) + ...
    tkhd = _box(
        b"tkhd",
        struct.pack(">IIII", 7, 0, 0, 1) + b"\x00" * 68,
    )
    trak = _box(b"trak", tkhd + mdia)
    mvhd = _box(b"mvhd", struct.pack(">IIIII", 0, 0, 0, timescale, duration) + b"\x00" * 76)
    traks = trak
    if audio_trak_first:
        # decoy soun trak with empty tables BEFORE the video trak —
        # position-based trak selection would pick it and see 0 samples
        a_stbl = _box(
            b"stbl",
            _box(b"stsd", struct.pack(">II", 0, 0))
            + _box(b"stts", struct.pack(">II", 0, 0))
            + _box(b"stsc", struct.pack(">II", 0, 0))
            + _box(b"stsz", struct.pack(">III", 0, 0, 0))
            + _box(b"stco", struct.pack(">II", 0, 0)),
        )
        a_hdlr = _box(
            b"hdlr", struct.pack(">I", 0) + b"\x00" * 4 + b"soun" + b"\x00" * 13
        )
        a_mdia = _box(b"mdia", mdhd + a_hdlr + _box(b"minf", a_stbl))
        a_tkhd = _box(
            b"tkhd", struct.pack(">IIII", 7, 0, 0, 2) + b"\x00" * 68
        )
        traks = _box(b"trak", a_tkhd + a_mdia) + trak
    moov = _box(b"moov", mvhd + traks)
    mdat = _box(b"mdat", mdat_body)
    return ftyp + mdat + moov


def encode_minimal_fmp4(
    frame_sizes: list[int] | None = None,
    timescale: int = 1000,
    frame_delta: int = 40,
    frames: list[bytes] | None = None,
    frames_per_fragment: int = 2,
    explicit_base_offset: bool = False,
    avc1: tuple[int, int, int, int, int] | None = None,
    avc1_sps: tuple[bytes, ...] = (),
    hev1: tuple[int, int, int, int, int, int] | None = None,
    hev1_sps: tuple[bytes, ...] = (),
    av01: tuple | None = None,
    vp09: tuple | None = None,
) -> bytes:
    """Minimal but VALID FRAGMENTED ISO BMFF file (the DASH/HLS/CMAF
    segment shape): ftyp, a moov whose sample tables are EMPTY (plus
    mvex/trex carrying the default sample duration), then one
    moof+mdat pair per ``frames_per_fragment`` samples — tfhd
    (default-base-is-moof, or an explicit absolute base-data-offset
    when ``explicit_base_offset``), tfdt (v1 decode-time anchor), and
    a trun with data-offset + per-sample sizes. Same deterministic
    fill convention as encode_minimal_mp4, and the same codec
    sample-entry kwargs: a real init segment carries its avc1/hev1/
    av01 entry in the (otherwise-empty-tables) moov stsd, which is
    exactly where the codec-metadata and SPS cross-check parsers read
    it — fragmented corpora audit with the SAME moov-only pass."""
    if frames is None:
        if frame_sizes is None:
            raise ValueError("need frame_sizes or frames")
        frames = [
            bytes((i + j) % 251 for j in range(sz))
            for i, sz in enumerate(frame_sizes)
        ]
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomcmfc")
    # moov: same trak skeleton as encode_minimal_mp4 but all four
    # sample tables empty, plus mvex/trex fragment defaults.
    stts = _box(b"stts", struct.pack(">II", 0, 0))
    stsz = _box(b"stsz", struct.pack(">III", 0, 0, 0))
    stsc = _box(b"stsc", struct.pack(">II", 0, 0))
    stco = _box(b"stco", struct.pack(">II", 0, 0))
    if avc1 is not None:
        stsd = _box(
            b"stsd",
            struct.pack(">II", 0, 1)
            + _avc1_sample_entry(*avc1, sps_nals=avc1_sps),
        )
    elif hev1 is not None:
        stsd = _box(
            b"stsd",
            struct.pack(">II", 0, 1)
            + _hev1_sample_entry(*hev1, sps_nals=hev1_sps),
        )
    elif av01 is not None:
        stsd = _box(
            b"stsd", struct.pack(">II", 0, 1) + _av01_sample_entry(*av01)
        )
    elif vp09 is not None:
        stsd = _box(
            b"stsd", struct.pack(">II", 0, 1) + _vp09_sample_entry(*vp09)
        )
    else:
        stsd = _box(b"stsd", struct.pack(">II", 0, 0))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = _box(b"minf", stbl)
    hdlr = _box(b"hdlr", struct.pack(">I", 0) + b"\x00" * 4 + b"vide" + b"\x00" * 13)
    mdhd = _box(
        b"mdhd", struct.pack(">IIIII", 0, 0, 0, timescale, 0) + b"\x55\xc4\x00\x00"
    )
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    tkhd = _box(b"tkhd", struct.pack(">IIII", 7, 0, 0, 1) + b"\x00" * 68)
    trak = _box(b"trak", tkhd + mdia)
    mvhd = _box(b"mvhd", struct.pack(">IIIII", 0, 0, 0, timescale, 0) + b"\x00" * 76)
    # trex: track_ID=1, default_sample_description_index=1,
    # default_sample_duration=frame_delta, default size/flags = 0
    trex = _box(b"trex", struct.pack(">IIIIII", 0, 1, 1, frame_delta, 0, 0))
    mvex = _box(b"mvex", trex)
    moov = _box(b"moov", mvhd + trak + mvex)
    out = bytearray(ftyp + moov)
    t = 0
    seq = 1
    for g in range(0, len(frames), frames_per_fragment):
        chunk = frames[g : g + frames_per_fragment]
        n = len(chunk)
        mfhd = _box(b"mfhd", struct.pack(">II", 0, seq))
        seq += 1
        if explicit_base_offset:
            # flag 0x1: absolute u64 base — the moof starts at the
            # current end of file.
            tfhd = _box(
                b"tfhd",
                struct.pack(">II", 0x000001, 1) + struct.pack(">Q", len(out)),
            )
        else:
            tfhd = _box(b"tfhd", struct.pack(">II", 0x020000, 1))
        tfdt = _box(b"tfdt", struct.pack(">IQ", 0x01000000, t))
        # trun flags 0x201: data-offset + per-sample size. The offset
        # (moof start → first sample byte) is moof size + mdat header,
        # computable arithmetically before assembling the boxes.
        trun_size = 8 + 8 + 4 + 4 * n
        moof_size = 8 + len(mfhd) + (8 + len(tfhd) + len(tfdt) + trun_size)
        trun = _box(
            b"trun",
            struct.pack(">II", 0x000201, n)
            + struct.pack(">i", moof_size + 8)
            + b"".join(struct.pack(">I", len(f)) for f in chunk),
        )
        traf = _box(b"traf", tfhd + tfdt + trun)
        moof = _box(b"moof", mfhd + traf)
        assert len(moof) == moof_size
        out += moof + _box(b"mdat", b"".join(chunk))
        t += n * frame_delta
    return bytes(out)


def decode_mjpeg_frames(
    payload: bytes, every_n: int = 1, keyframes_only: bool = False
) -> list[dict]:
    """END-TO-END video decode for MJPEG-in-MP4: demux the ISO BMFF
    sample tables (parse_mp4), slice each kept sample's byte range out
    of the payload, and run the from-scratch baseline JPEG decoder
    (operators/jpeg.decode_jpeg) on it. Motion-JPEG is the one video
    codec an all-intra-frame container can honestly carry without a
    library: every sample IS a standalone JPEG. Returns one dict per
    kept frame: {frame_idx, pts, width, height, channels, pixels}.
    Samples that are not JPEG (no SOI marker) mean a real inter-frame
    codec (H.264 et al.) — that genuinely needs a codec library, so
    raise rather than fake it."""
    from bigdata_invoice_stream_analysis_spark.operators.jpeg import decode_jpeg

    data = bytes(payload)
    info = parse_mp4(data)
    out = []
    cand = info["keyframes"] if keyframes_only else range(info["n_samples"])
    for i in cand[::every_n]:
        off, sz = info["offsets"][i], info["sizes"][i]
        # Corrupt sample tables (zero-size sample, offset range past
        # EOF) are malformed INPUT — a codec ValueError — not a missing
        # codec: slicing past EOF would silently yield b"" and misread
        # truncation as "needs an inter-frame codec library".
        if sz <= 0 or off < 0 or off + sz > len(data):
            raise ValueError(
                f"corrupt mp4 sample table: sample {i} at [{off}, "
                f"{off + sz}) outside the {len(data)}-byte payload"
            )
        sample = data[off : off + sz]
        if sample[:2] != b"\xff\xd8":
            raise NotImplementedError(
                "mp4 track samples are not JPEG (no SOI) — an "
                "inter-frame codec needs a codec library; codec "
                "METADATA (resolution/profile/codec string) is still "
                "extractable without one via parse_codec_profile / the "
                "media_codec_profile query"
            )
        img = decode_jpeg(sample)
        out.append(
            {
                "frame_idx": i,
                "pts": info["times"][i],
                "width": img["width"],
                "height": img["height"],
                "channels": img["channels"],
                "pixels": img["pixels"],
            }
        )
    return out


def frame_index(media, every_n: int = 1, keyframes_only: bool = False):
    """REAL frame sampling over MP4 payloads: parse the ISO BMFF sample
    tables inside Arrow mapInPandas and emit one row per kept frame
    with its absolute byte range and decode timestamp — the index a
    downstream codec stage consumes. ``keyframes_only`` restricts the
    candidate set to the stss sync samples (trun sample flags for
    fragmented files) BEFORE the every-Nth stride — the sampling mode a
    production pipeline actually runs, since only sync samples decode
    without inter-frame context. Package is imported on workers
    (deploy.ensure_package_on_workers); payloads never leave the
    executors."""
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("byte_offset", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("pts", T.LongType(), False),
    ])

    def batches(it):
        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.mp4 import parse_mp4

        for pdf in it:
            out = {k: [] for k in (
                "media_id", "frame_idx", "byte_offset", "n_bytes", "pts",
            )}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                info = parse_mp4(bytes(p))
                cand = (
                    info["keyframes"]
                    if keyframes_only
                    else range(info["n_samples"])
                )
                for i in cand[::every_n]:
                    out["media_id"].append(mid)
                    out["frame_idx"].append(i)
                    out["byte_offset"].append(info["offsets"][i])
                    out["n_bytes"].append(info["sizes"][i])
                    out["pts"].append(info["times"][i])
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, schema=out_schema)
