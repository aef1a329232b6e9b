"""MPEG transport stream parsing — the third scraped-video container
beside MP4 (operators/mp4.py) and WebM (operators/ebml.py): HLS
media segments (.ts) and broadcast captures ship in it.

Built against the public spec (ISO/IEC 13818-1 / ITU-T H.222.0):

* §2.4.3.2 transport packet framing: fixed 188-byte packets, sync
  byte 0x47, transport_error_indicator, payload_unit_start_indicator,
  13-bit PID, scrambling control, adaptation_field_control,
  4-bit continuity counter (increments only on payload-carrying
  packets; ONE duplicate is legal, §2.4.3.3).
* §2.4.3.4–2.4.3.5 adaptation field: discontinuity flag, PCR as
  33-bit base (90 kHz) × 300 + 9-bit extension = a 27 MHz clock.
* §2.4.4 PSI: pointer_field on PUSI packets, section framing
  (table_id, 12-bit section_length), the PAT (table_id 0x00,
  program_number → PMT PID) and PMT (table_id 0x02, PCR PID +
  per-stream stream_type/elementary PID). Section CRC-32 is the
  MPEG variant (poly 0x04C11DB7, init 0xFFFFFFFF, non-reflected, no
  final XOR) and is REAL here — verified per section; a bad PSI CRC
  is DATA (counted, section skipped), not fatal.
* §2.4.3.7 PES: start-code prefix 00 00 01, stream_id, the '10'
  marker bits, PTS/DTS flags, and the 33-bit PTS packed across 5
  marker-bit-delimited bytes (90 kHz).
* Video elementary streams are Annex-B byte streams: the walk finds
  the SPS NAL behind a 00 00 01 start code in the first video PES
  payloads and hands it to the SAME bitstream parser the MP4 gate
  uses (operators/h264.parse_sps) — one SPS grammar for both
  containers, so a TS segment gets the same codec-truth columns as
  its CMAF sibling.

Malformed framing (lost sync, torn trailing packet, adaptation
field overrunning the packet) raises ValueError per the module
contract; per-PID continuity errors, TEI-marked packets, scrambled
payloads, and PSI CRC mismatches are corpus SIGNALS (counted
per-file) because one damaged packet must not cost the whole
segment's audit row.

Scale posture: one pass over the packet array, header arithmetic
only — no ES payload decode beyond the bounded SPS probe. Runs
map-side under Arrow mapInPandas (ts_stream_profile); the uniform
row then routes segments by codec/scrambling/continuity-health
before any GPU decode is spent.

Reference: n/a (extension surface).
"""

from __future__ import annotations

import struct

PACKET_SIZE = 188
PAT_PID = 0x0000
NULL_PID = 0x1FFF

# ISO/IEC 13818-1 Table 2-34 stream_type assignments (plus the two
# ubiquitous registered ATSC/Blu-ray audio codes).
STREAM_TYPE_NAMES: dict[int, tuple[str, str]] = {
    0x01: ("mpeg1video", "video"),
    0x02: ("mpeg2video", "video"),
    0x03: ("mp2", "audio"),  # MPEG-1 audio (ISO 11172-3)
    0x04: ("mp2", "audio"),  # MPEG-2 audio
    0x06: ("private-pes", "data"),
    0x0F: ("aac-adts", "audio"),
    0x11: ("aac-latm", "audio"),
    0x15: ("id3-metadata", "data"),
    0x1B: ("h264", "video"),
    0x24: ("hevc", "video"),
    0x81: ("ac3", "audio"),
    0x87: ("eac3", "audio"),
}

_CRC_TABLE: list[int] = []


def _build_table() -> None:
    poly = 0x04C11DB7
    for i in range(256):
        c = i << 24
        for _ in range(8):
            c = ((c << 1) ^ poly if c & 0x80000000 else c << 1)
            c &= 0xFFFFFFFF
        _CRC_TABLE.append(c)


_build_table()


def mpeg_crc32(data: bytes) -> int:
    """CRC-32/MPEG-2: poly 0x04C11DB7, init 0xFFFFFFFF, MSB-first,
    no reflection, no final XOR (H.222.0 Annex A)."""
    crc = 0xFFFFFFFF
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _CRC_TABLE[
            ((crc >> 24) ^ b) & 0xFF]
    return crc


def _parse_pts(b: bytes) -> int:
    """33-bit PTS/DTS from the 5-byte marker-bit packing
    (§2.4.3.7: 4-bit prefix, 3 bits, marker, 15 bits, marker,
    15 bits, marker)."""
    if len(b) < 5:
        raise ValueError("ts: truncated PTS field")
    if not (b[0] & 0x01 and b[2] & 0x01 and b[4] & 0x01):
        raise ValueError("ts: PTS marker bits missing")
    return (((b[0] >> 1) & 0x07) << 30) | (b[1] << 22) \
        | ((b[2] >> 1) << 15) | (b[3] << 7) | (b[4] >> 1)


def _find_annexb_sps(es: bytes) -> bytes | None:
    """First H.264 SPS NAL (nal_unit_type 7) behind a 00 00 01 start
    code in an Annex-B byte stream; returns the NAL bytes (header +
    EBSP) up to the next start code or end of buffer."""
    i = 0
    n = len(es)
    while True:
        j = es.find(b"\x00\x00\x01", i)
        if j < 0 or j + 3 >= n:
            return None
        start = j + 3
        if es[start] & 0x1F == 7 and not es[start] & 0x80:
            k = es.find(b"\x00\x00\x01", start)
            end = n if k < 0 else (k - 1 if k > start and
                                   es[k - 1] == 0 else k)
            return es[start:end]
        i = j + 3


class _PidState:
    __slots__ = ("n_packets", "cc_errors", "tei", "scrambled",
                 "last_cc", "dup_seen", "first_pts", "last_pts",
                 "n_pes", "es_head")

    def __init__(self) -> None:
        self.n_packets = 0
        self.cc_errors = 0
        self.tei = 0
        self.scrambled = False
        self.last_cc: int | None = None
        self.dup_seen = False
        self.first_pts: int | None = None
        self.last_pts: int | None = None
        self.n_pes = 0
        self.es_head = b""


_ES_PROBE_CAP = 65536  # bounded SPS probe — never full-payload decode


def parse_ts(data: bytes) -> dict:
    """Parse an MPEG transport stream into one audit structure:

    ``{n_packets, transport_stream_id, programs: [{program_number,
    pmt_pid, pcr_pid, streams: [{pid, stream_type, codec, kind}]}],
    pids: {pid: {n_packets, cc_errors, tei, scrambled, n_pes,
    first_pts, last_pts}}, n_cc_errors, n_tei, n_psi_crc_bad,
    scrambled, pcr_first, pcr_last, duration_ms, video, audio}``

    ``video`` carries the SPS-derived width/height for H.264 streams
    (same parser as the MP4 cross-check gate); ``duration_ms`` comes
    from the PCR span when PCRs exist, else the widest PTS span.
    """
    n = len(data)
    if n < PACKET_SIZE:
        raise ValueError("ts: shorter than one 188-byte packet")
    if n % PACKET_SIZE:
        raise ValueError(
            f"ts: length {n} not a multiple of {PACKET_SIZE}")
    pids: dict[int, _PidState] = {}
    sec_buf: dict[int, bytearray] = {}
    pat: dict[int, int] = {}
    pmt_owner: dict[int, int] = {}
    programs: dict[int, dict] = {}
    es_pids: dict[int, dict] = {}
    tsid: int | None = None
    pcr_first: int | None = None
    pcr_last: int | None = None
    n_psi_crc_bad = 0

    def on_section(pid: int, section: bytes) -> None:
        nonlocal tsid, n_psi_crc_bad
        if len(section) < 12:
            raise ValueError("ts: PSI section too short")
        stored = struct.unpack(">I", section[-4:])[0]
        if mpeg_crc32(section[:-4]) != stored:
            n_psi_crc_bad += 1
            return
        table_id = section[0]
        if pid == PAT_PID and table_id == 0x00:
            tsid = struct.unpack(">H", section[3:5])[0]
            for i in range(8, len(section) - 4, 4):
                prog = struct.unpack(">H", section[i:i + 2])[0]
                ppid = ((section[i + 2] & 0x1F) << 8) | section[i + 3]
                if prog == 0:  # network information PID
                    continue
                pat[prog] = ppid
                pmt_owner[ppid] = prog
        elif pid in pmt_owner and table_id == 0x02:
            prog = struct.unpack(">H", section[3:5])[0]
            pcr_pid = ((section[8] & 0x1F) << 8) | section[9]
            pinfo = ((section[10] & 0x0F) << 8) | section[11]
            i = 12 + pinfo
            streams = []
            while i + 5 <= len(section) - 4:
                stype = section[i]
                epid = ((section[i + 1] & 0x1F) << 8) | section[i + 2]
                eslen = ((section[i + 3] & 0x0F) << 8) | section[i + 4]
                codec, kind = STREAM_TYPE_NAMES.get(
                    stype, (f"type-0x{stype:02x}", "data"))
                streams.append({"pid": epid, "stream_type": stype,
                                "codec": codec, "kind": kind})
                es_pids[epid] = streams[-1]
                i += 5 + eslen
            programs[prog] = {"program_number": prog,
                              "pmt_pid": pid, "pcr_pid": pcr_pid,
                              "streams": streams}

    def drain_sections(pid: int) -> None:
        buf = sec_buf[pid]
        while len(buf) >= 3:
            if buf[0] == 0xFF:  # stuffing reaches the packet end
                buf.clear()
                break
            slen = ((buf[1] & 0x0F) << 8) | buf[2]
            total = 3 + slen
            if len(buf) < total:
                break
            on_section(pid, bytes(buf[:total]))
            del buf[:total]

    for off in range(0, n, PACKET_SIZE):
        pkt = data[off:off + PACKET_SIZE]
        if pkt[0] != 0x47:
            raise ValueError(f"ts: lost sync at offset {off}")
        pid = ((pkt[1] & 0x1F) << 8) | pkt[2]
        st = pids.get(pid)
        if st is None:
            st = pids[pid] = _PidState()
        st.n_packets += 1
        if pkt[1] & 0x80:  # transport_error_indicator: skip body
            st.tei += 1
            continue
        if pid == NULL_PID:
            continue
        pusi = bool(pkt[1] & 0x40)
        if (pkt[3] >> 6) & 0x3:
            st.scrambled = True
        afc = (pkt[3] >> 4) & 0x3
        cc = pkt[3] & 0x0F
        p = 4
        discontinuity = False
        if afc == 0:
            raise ValueError(
                f"ts: reserved adaptation_field_control at {off}")
        if afc & 0x2:
            af_len = pkt[4]
            p = 5 + af_len
            if p > PACKET_SIZE:
                raise ValueError(
                    f"ts: adaptation field overruns packet at {off}")
            if af_len >= 1:
                flags = pkt[5]
                discontinuity = bool(flags & 0x80)
                if flags & 0x10:
                    if af_len < 7:
                        raise ValueError("ts: truncated PCR field")
                    b = pkt[6:12]
                    base = (b[0] << 25) | (b[1] << 17) | (b[2] << 9) \
                        | (b[3] << 1) | (b[4] >> 7)
                    ext = ((b[4] & 0x01) << 8) | b[5]
                    pcr = base * 300 + ext
                    if pcr_first is None:
                        pcr_first = pcr
                    pcr_last = pcr
        if not afc & 0x1:
            continue  # adaptation-only packet carries no payload
        # §2.4.3.3: the counter increments per payload packet; one
        # repeat is a legal duplicate (skip it), more is an error.
        if st.last_cc is not None and not discontinuity:
            if cc == st.last_cc:
                if st.dup_seen:
                    st.cc_errors += 1
                st.dup_seen = True
                continue
            if cc != (st.last_cc + 1) & 0x0F:
                st.cc_errors += 1
            st.dup_seen = False
        st.last_cc = cc
        payload = pkt[p:]
        if not payload:
            continue
        if pid == PAT_PID or pid in pmt_owner:
            buf = sec_buf.setdefault(pid, bytearray())
            if pusi:
                pointer = payload[0]
                if 1 + pointer > len(payload):
                    raise ValueError("ts: pointer_field overruns")
                if buf and pointer:
                    buf.extend(payload[1:1 + pointer])
                    drain_sections(pid)
                buf.clear()
                buf.extend(payload[1 + pointer:])
            else:
                buf.extend(payload)
            drain_sections(pid)
        elif st.scrambled:
            continue  # scrambled ES: header walk impossible by design
        elif pusi and payload[:3] == b"\x00\x00\x01" and len(payload) >= 9:
            st.n_pes += 1
            stream_id = payload[3]
            es_start = 6
            # §2.4.3.7: these stream_ids carry no optional header
            if stream_id not in (0xBC, 0xBE, 0xBF, 0xF0, 0xF1,
                                 0xF2, 0xF8, 0xFF):
                if payload[6] & 0xC0 != 0x80:
                    raise ValueError("ts: PES '10' marker bits missing")
                pts_dts = payload[7] >> 6
                hlen = payload[8]
                es_start = 9 + hlen
                if pts_dts & 0x2:
                    pts = _parse_pts(payload[9:14])
                    if st.first_pts is None:
                        st.first_pts = pts
                    st.last_pts = pts
            if len(st.es_head) < _ES_PROBE_CAP:
                st.es_head += bytes(payload[es_start:])
        elif st.n_pes and len(st.es_head) < _ES_PROBE_CAP:
            st.es_head += bytes(payload)

    video = None
    audio = None
    for prog in sorted(programs):
        for es in programs[prog]["streams"]:
            est = pids.get(es["pid"])
            if es["kind"] == "video" and video is None:
                video = {"pid": es["pid"], "codec": es["codec"],
                         "width": None, "height": None}
                if es["codec"] == "h264" and est is not None:
                    nal = _find_annexb_sps(est.es_head)
                    if nal is not None:
                        from bigdata_invoice_stream_analysis_spark.operators.h264 import (  # noqa: E501
                            parse_sps,
                        )

                        sps = parse_sps(nal)
                        video["width"] = sps["width"]
                        video["height"] = sps["height"]
            elif es["kind"] == "audio" and audio is None:
                audio = {"pid": es["pid"], "codec": es["codec"]}

    duration_ms = None
    if pcr_first is not None and pcr_last is not None \
            and pcr_last >= pcr_first:
        duration_ms = (pcr_last - pcr_first) // 27000
    else:
        spans = [st.last_pts - st.first_pts for st in pids.values()
                 if st.first_pts is not None
                 and st.last_pts is not None
                 and st.last_pts >= st.first_pts]
        if spans:
            duration_ms = max(spans) * 1000 // 90000
    return {
        "n_packets": n // PACKET_SIZE,
        "transport_stream_id": tsid,
        "programs": [programs[k] for k in sorted(programs)],
        "pids": {
            pid: {"n_packets": s.n_packets, "cc_errors": s.cc_errors,
                  "tei": s.tei, "scrambled": s.scrambled,
                  "n_pes": s.n_pes, "first_pts": s.first_pts,
                  "last_pts": s.last_pts}
            for pid, s in sorted(pids.items())
        },
        "n_cc_errors": sum(s.cc_errors for s in pids.values()),
        "n_tei": sum(s.tei for s in pids.values()),
        "n_psi_crc_bad": n_psi_crc_bad,
        "scrambled": any(s.scrambled for s in pids.values()),
        "pcr_first": pcr_first,
        "pcr_last": pcr_last,
        "duration_ms": duration_ms,
        "video": video,
        "audio": audio,
    }


# ---------------------------------------------------------------------------
# Fixture encoders — the test/codebook twin of parse_ts, same spirit
# as encode_minimal_mp4 / encode_minimal_webm.
# ---------------------------------------------------------------------------


def encode_section(table_id: int, body: bytes,
                   bad_crc: bool = False) -> bytes:
    """PSI section: table_id, section_syntax=1, 12-bit length over
    body+CRC, then the body and the real (or deliberately wrong)
    MPEG CRC-32."""
    slen = len(body) + 4
    if slen > 0x3FD:
        raise ValueError("ts: section body too long")
    head = bytes([table_id, 0xB0 | (slen >> 8), slen & 0xFF]) + body
    crc = mpeg_crc32(head)
    if bad_crc:
        crc ^= 0xDEADBEEF
    return head + struct.pack(">I", crc)


def encode_pat(programs: dict[int, int], tsid: int = 1,
               version: int = 0, bad_crc: bool = False) -> bytes:
    body = struct.pack(">H", tsid) + bytes(
        [0xC1 | ((version & 0x1F) << 1), 0x00, 0x00])
    for prog in sorted(programs):
        ppid = programs[prog]
        body += struct.pack(">H", prog) + bytes(
            [0xE0 | (ppid >> 8), ppid & 0xFF])
    return encode_section(0x00, body, bad_crc=bad_crc)


def encode_pmt(program_number: int, pcr_pid: int,
               streams: list[tuple[int, int]], version: int = 0,
               bad_crc: bool = False) -> bytes:
    """streams: list of (stream_type, elementary_pid)."""
    body = struct.pack(">H", program_number) + bytes(
        [0xC1 | ((version & 0x1F) << 1), 0x00, 0x00,
         0xE0 | (pcr_pid >> 8), pcr_pid & 0xFF, 0xF0, 0x00])
    for stype, epid in streams:
        body += bytes([stype, 0xE0 | (epid >> 8), epid & 0xFF,
                       0xF0, 0x00])
    return encode_section(0x02, body, bad_crc=bad_crc)


def encode_pes(stream_id: int, es: bytes,
               pts: int | None = None) -> bytes:
    flags2 = 0x80 if pts is not None else 0x00
    header_data = b""
    if pts is not None:
        header_data = bytes([
            0x20 | (((pts >> 30) & 0x07) << 1) | 0x01,
            (pts >> 22) & 0xFF,
            (((pts >> 15) & 0x7F) << 1) | 0x01,
            (pts >> 7) & 0xFF,
            ((pts & 0x7F) << 1) | 0x01,
        ])
    plen = 3 + len(header_data) + len(es)
    if plen > 0xFFFF:
        plen = 0  # unbounded, legal for video (§2.4.3.7)
    return (b"\x00\x00\x01" + bytes([stream_id])
            + struct.pack(">H", plen)
            + bytes([0x80, flags2, len(header_data)])
            + header_data + es)


def packetize(pid: int, payload: bytes, *, psi: bool = False,
              cc_start: int = 0, pcr: int | None = None,
              scrambled: bool = False,
              cc_gap_after: int | None = None) -> bytes:
    """Split one PSI section (pointer_field prepended, 0xFF-stuffed)
    or one PES packet (adaptation-field-stuffed) across 188-byte
    packets. ``cc_gap_after`` skips one continuity value after the
    given packet index, planting a detectable discontinuity."""
    if psi:
        payload = b"\x00" + payload  # pointer_field = 0
    out = bytearray()
    cc = cc_start & 0x0F
    first = True
    idx = 0
    pos = 0
    while pos < len(payload):
        header = bytearray(4)
        header[0] = 0x47
        header[1] = (0x40 if first else 0x00) | (pid >> 8)
        header[2] = pid & 0xFF
        room = PACKET_SIZE - 4
        af = b""
        want_pcr = pcr if first else None
        chunk_len = min(len(payload) - pos, room)
        need_af = want_pcr is not None or (
            not psi and chunk_len < room)
        if need_af:
            if want_pcr is not None:
                base, ext = divmod(want_pcr, 300)
                pcr_bytes = bytes([
                    (base >> 25) & 0xFF, (base >> 17) & 0xFF,
                    (base >> 9) & 0xFF, (base >> 1) & 0xFF,
                    ((base & 0x01) << 7) | 0x7E | (ext >> 8),
                    ext & 0xFF,
                ])
                af_body = b"\x10" + pcr_bytes
            else:
                af_body = b"\x00"
            # stuff the adaptation field so payload exactly fills
            stuff = room - 1 - len(af_body) - min(
                len(payload) - pos, room - 1 - len(af_body))
            af = bytes([len(af_body) + stuff]) + af_body \
                + b"\xff" * stuff
            room -= len(af)
        chunk = payload[pos:pos + room]
        pos += len(chunk)
        pad = b""
        if psi and len(af) + len(chunk) < PACKET_SIZE - 4:
            pad = b"\xff" * (PACKET_SIZE - 4 - len(af) - len(chunk))
        header[3] = ((0x80 if scrambled else 0x00)
                     | (0x30 if af else 0x10) | cc)
        out += bytes(header) + af + chunk + pad
        if len(out) % PACKET_SIZE:
            raise ValueError("ts: internal packetizer misalignment")
        cc = (cc + 1) & 0x0F
        if cc_gap_after is not None and idx == cc_gap_after:
            cc = (cc + 1) & 0x0F  # skip one value → continuity error
        first = False
        idx += 1
    return bytes(out)


def encode_minimal_ts(
    *,
    video_stream_type: int = 0x1B,
    audio_stream_type: int = 0x0F,
    width_mbs: int = 40,
    height_map_units: int = 23,
    crop_right_units: int = 0,
    crop_bottom_units: int = 0,
    n_video_pes: int = 3,
    pts0: int = 90000,
    pts_step: int = 3003,
    pcr0: int | None = 27_000_000,
    pcr_step: int = 900_900,
    cc_gap: bool = False,
    scramble_video: bool = False,
    bad_pmt_crc: bool = False,
    tsid: int = 7,
    program_number: int = 1,
) -> bytes:
    """A complete single-program transport stream: PAT, PMT, and
    ``n_video_pes`` video PES packets (the first carrying a real SPS
    NAL from operators/h264.encode_sps behind an Annex-B start code)
    plus one audio PES. Knobs plant the adversarial cases the audit
    must catch: a continuity gap, scrambled video, a lying PMT CRC.
    """
    from bigdata_invoice_stream_analysis_spark.operators.h264 import (
        encode_sps,
    )

    pmt_pid, vpid, apid = 0x0100, 0x0101, 0x0102
    out = bytearray()
    out += packetize(PAT_PID, encode_pat({program_number: pmt_pid},
                                         tsid=tsid), psi=True)
    out += packetize(pmt_pid, encode_pmt(
        program_number, vpid,
        [(video_stream_type, vpid), (audio_stream_type, apid)],
        bad_crc=bad_pmt_crc), psi=True)
    cc = 0
    for i in range(n_video_pes):
        es = b""
        if i == 0 and video_stream_type == 0x1B:
            sps = encode_sps(100, 0, 40, width_mbs, height_map_units,
                             crop_right_units, crop_bottom_units)
            es = b"\x00\x00\x00\x01" + sps
        # a filler slice NAL keeps every PES non-empty without
        # claiming to be decodable video
        es += b"\x00\x00\x01\x65" + bytes(range(32))
        pes = encode_pes(0xE0, es, pts=pts0 + i * pts_step)
        chunk = packetize(
            vpid, pes, cc_start=cc,
            pcr=(pcr0 + i * pcr_step) if pcr0 is not None else None,
            scrambled=scramble_video,
            cc_gap_after=0 if (cc_gap and i == 1) else None)
        out += chunk
        # continuity across PES packets of the same PID must stay
        # contiguous: advance by the packets actually emitted (the
        # PCR adaptation field changes the count) plus the planted gap
        cc = (cc + len(chunk) // PACKET_SIZE
              + (1 if (cc_gap and i == 1) else 0)) & 0x0F
    out += packetize(apid, encode_pes(
        0xC0, bytes(64), pts=pts0 + 1500), cc_start=0)
    return bytes(out)


# ---------------------------------------------------------------------------
# Spark operator
# ---------------------------------------------------------------------------


def ts_stream_profile(files):
    """(file_id, payload) → ONE uniform audit row per transport
    stream: program/packet counts, codec identities (video geometry
    via the shared H.264 SPS parser), PCR/PTS-derived duration, and
    the corpus-health counters (continuity errors, TEI packets, PSI
    CRC failures, scrambling). Map-side Arrow mapInPandas; parser
    failures become ok=false rows, never task deaths."""
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("file_id", T.LongType(), False),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
        T.StructField("n_packets", T.IntegerType(), True),
        T.StructField("n_programs", T.IntegerType(), True),
        T.StructField("video_codec", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("audio_codec", T.StringType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("n_cc_errors", T.IntegerType(), True),
        T.StructField("n_psi_crc_bad", T.IntegerType(), True),
        T.StructField("scrambled", T.BooleanType(), True),
    ])
    cols = [f.name for f in out_schema.fields]

    def batches(it):
        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.mpegts import (
            parse_ts,
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
                    m = parse_ts(bytes(p))
                except (ValueError, struct.error) as exc:
                    emit(fid, ok=False, error=str(exc)[:120])
                    continue
                v, a = m["video"], m["audio"]
                emit(fid, ok=True, n_packets=m["n_packets"],
                     n_programs=len(m["programs"]),
                     video_codec=v["codec"] if v else None,
                     width=v["width"] if v else None,
                     height=v["height"] if v else None,
                     audio_codec=a["codec"] if a else None,
                     duration_ms=m["duration_ms"],
                     n_cc_errors=m["n_cc_errors"],
                     n_psi_crc_bad=m["n_psi_crc_bad"],
                     scrambled=m["scrambled"])
            yield pd.DataFrame(out)

    return files.mapInPandas(batches, schema=out_schema)
