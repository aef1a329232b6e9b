"""AVI container parsing — the legacy scraped-video format that
still fills older web corpora: alongside MP4 (operators/mp4), WebM
(operators/ebml) and MPEG-TS (operators/mpegts) it completes the
video-container coverage a mixed crawl actually contains.

Built against the public Microsoft/OpenDML documentation ("AVI RIFF
File Reference"):

* RIFF framing: ``RIFF`` + u32le size + ``AVI ``; chunks are fourcc
  + u32le size + body, WORD-aligned (odd sizes carry one pad byte) —
  the same chunk grammar the WAV/WebP walkers use, re-implemented
  here with LIST recursion.
* ``hdrl`` LIST: ``avih`` main header (56 bytes — microseconds per
  frame, flags, total frames, stream count, width, height) and one
  ``strl`` LIST per stream with ``strh`` (fccType ``vids``/``auds``,
  handler fourcc, dwScale/dwRate — the rational frame/sample rate —
  and dwLength in stream ticks) + ``strf`` (BITMAPINFOHEADER for
  video: biWidth/biHeight/biCompression; WAVEFORMATEX for audio:
  format tag, channels, sample rate).
* ``movi`` LIST: the payload chunks (``##dc``/``##wb``) are COUNTED,
  never decoded; ``idx1`` presence is recorded (its absence on a
  >2 GB-era file is the classic unseekable-AVI pathology).
* Cross-checks in the audit row: avih-declared width/height vs the
  video strf's BITMAPINFOHEADER, and avih dwTotalFrames vs the
  video strh dwLength — the container-lie surface of this format.

Malformed framing (bad magic, chunk overrun, truncated headers)
raises ValueError per the module contract; triage quarantines.

Scale posture: header walk + chunk-size skips, no payload decode;
map-side inside content triage (operators/sniff.py).

Reference: n/a (extension surface).
"""

from __future__ import annotations

import struct


# LIST nesting bound: real AVIs are 2-3 deep; a crafted file of
# nested LISTs must be a ValueError (quarantine), not RecursionError
# (task death). Same rationale as eml._MAX_DEPTH.
_MAX_DEPTH = 16


def _fourcc(b: bytes) -> str:
    return b.decode("latin-1")


def parse_avi(data: bytes) -> dict:
    """Parse an AVI file's header/index structure:

    ``{width, height, us_per_frame, n_frames, duration_ms, n_streams,
    streams: [{type, handler, scale, rate, length, width, height,
    compression, channels, sample_rate, format_tag}], n_movi_chunks,
    has_idx1, dims_match, frames_match}``.
    """
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("avi: missing RIFF/AVI  magic")
    riff_size = struct.unpack_from("<I", data, 4)[0]
    end = min(len(data), 8 + riff_size)
    main: dict | None = None
    streams: list[dict] = []
    n_movi = 0
    has_idx1 = False

    def walk(pos: int, stop: int, parent: str, depth: int = 0) -> None:
        nonlocal main, n_movi, has_idx1
        # Depth bound (ADVICE r8): a crafted AVI of nested LISTs would
        # otherwise recurse once per level and escape the quarantine
        # contract as RecursionError. Real AVIs nest 2-3 deep
        # (RIFF → hdrl → strl / movi → rec ); 16 is generous.
        if depth > _MAX_DEPTH:
            raise ValueError("avi: LIST nesting exceeds depth bound")
        while pos + 8 <= stop:
            cc = _fourcc(data[pos:pos + 4])
            size = struct.unpack_from("<I", data, pos + 4)[0]
            body = pos + 8
            nxt = body + size + (size & 1)
            if body + size > stop:
                raise ValueError(
                    f"avi: chunk {cc!r} overruns its parent")
            if cc == "LIST":
                if size < 4:
                    raise ValueError("avi: LIST without a type")
                ltype = _fourcc(data[body:body + 4])
                if ltype == "movi":
                    n_movi += _count_movi(body + 4, body + size, depth + 1)
                else:
                    walk(body + 4, body + size, ltype, depth + 1)
            elif cc == "avih":
                if size < 40:
                    raise ValueError("avi: truncated avih header")
                f = struct.unpack_from("<10I", data, body)
                main = {
                    "us_per_frame": f[0], "flags": f[3],
                    "total_frames": f[4], "n_streams": f[6],
                    "width": f[8], "height": f[9],
                }
            elif cc == "strh":
                if size < 48:
                    raise ValueError("avi: truncated strh header")
                streams.append({
                    "type": _fourcc(data[body:body + 4]),
                    "handler": _fourcc(
                        data[body + 4:body + 8]).strip("\x00"),
                    "scale": struct.unpack_from(
                        "<I", data, body + 20)[0],
                    "rate": struct.unpack_from(
                        "<I", data, body + 24)[0],
                    "length": struct.unpack_from(
                        "<I", data, body + 32)[0],
                    "width": None, "height": None,
                    "compression": None, "channels": None,
                    "sample_rate": None, "format_tag": None,
                })
            elif cc == "strf" and streams:
                st = streams[-1]
                if st["type"] == "vids":
                    if size < 24:
                        raise ValueError(
                            "avi: truncated BITMAPINFOHEADER")
                    st["width"] = struct.unpack_from(
                        "<i", data, body + 4)[0]
                    st["height"] = abs(struct.unpack_from(
                        "<i", data, body + 8)[0])
                    comp = data[body + 16:body + 20]
                    st["compression"] = (
                        _fourcc(comp).strip("\x00") or "rgb")
                elif st["type"] == "auds":
                    if size < 14:
                        raise ValueError(
                            "avi: truncated WAVEFORMAT")
                    st["format_tag"] = struct.unpack_from(
                        "<H", data, body)[0]
                    st["channels"] = struct.unpack_from(
                        "<H", data, body + 2)[0]
                    st["sample_rate"] = struct.unpack_from(
                        "<I", data, body + 4)[0]
            elif cc == "idx1" and parent == "AVI ":
                has_idx1 = True
            pos = nxt

    def _count_movi(pos: int, stop: int, depth: int = 0) -> int:
        if depth > _MAX_DEPTH:
            raise ValueError("avi: LIST nesting exceeds depth bound")
        n = 0
        while pos + 8 <= stop:
            cc = data[pos:pos + 4]
            size = struct.unpack_from("<I", data, pos + 4)[0]
            if pos + 8 + size > stop:
                raise ValueError("avi: movi chunk overruns")
            if cc == b"LIST" and data[pos + 8:pos + 12] == b"rec ":
                # interleaved AVIs group ~1 s of frames in 'rec '
                # LISTs — count the GRANDCHILDREN, not the wrapper
                n += _count_movi(pos + 12, pos + 8 + size, depth + 1)
            else:
                n += 1
            pos += 8 + size + (size & 1)
        return n

    walk(12, end, "AVI ")
    if main is None:
        raise ValueError("avi: no avih main header")
    video = next((s for s in streams if s["type"] == "vids"), None)
    duration_ms = None
    if video and video["rate"]:
        duration_ms = (video["length"] * video["scale"] * 1000
                       // video["rate"])
    elif main["us_per_frame"]:
        duration_ms = (main["total_frames"]
                       * main["us_per_frame"] // 1000)
    dims_match = bool(
        video is None
        or (video["width"] == main["width"]
            and video["height"] == main["height"]))
    frames_match = bool(
        video is None or video["length"] == main["total_frames"])
    return {
        "width": main["width"], "height": main["height"],
        "us_per_frame": main["us_per_frame"],
        "n_frames": main["total_frames"],
        "duration_ms": duration_ms,
        "n_streams": main["n_streams"],
        "streams": streams,
        "n_movi_chunks": n_movi,
        "has_idx1": has_idx1,
        "dims_match": dims_match,
        "frames_match": frames_match,
    }


# ---------------------------------------------------------------------------
# Fixture encoder
# ---------------------------------------------------------------------------


def _chunk(cc: bytes, body: bytes) -> bytes:
    return cc + struct.pack("<I", len(body)) + body \
        + (b"\x00" if len(body) & 1 else b"")


def _list(ltype: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", ltype + body)


def encode_avi(
    *,
    width: int = 320,
    height: int = 240,
    n_frames: int = 30,
    us_per_frame: int = 33367,
    handler: bytes = b"mjpg",
    audio: tuple[int, int, int] | None = (1, 2, 44100),
    lie_dims: bool = False,
    lie_frames: bool = False,
    with_idx1: bool = True,
    frame_payload: bytes = b"\x00" * 16,
) -> bytes:
    """A complete minimal AVI: avih + one vids strl (+ optional auds
    strl as (format_tag, channels, rate)), a movi LIST with
    ``n_frames`` ##dc chunks, optional idx1. ``lie_dims`` /
    ``lie_frames`` make the avih main header disagree with the
    stream headers — the container-lie cases the audit must catch.
    """
    avih = struct.pack(
        "<10I", us_per_frame, 0, 0, 0x10,
        n_frames + (5 if lie_frames else 0), 0,
        1 + (1 if audio else 0), 0,
        width + (16 if lie_dims else 0), height) + bytes(16)
    rate = 1_000_000 * 1000 // us_per_frame  # scale=1000
    strh_v = (b"vids" + handler + bytes(12)
              + struct.pack("<II", 1000, rate)
              + bytes(4) + struct.pack("<I", n_frames) + bytes(16))
    strf_v = struct.pack(
        "<IiiHH4sIiiII", 40, width, height, 1, 24, handler, 0,
        0, 0, 0, 0)
    strl_v = _list(b"strl", _chunk(b"strh", strh_v)
                   + _chunk(b"strf", strf_v))
    hdrl_body = _chunk(b"avih", avih) + strl_v
    if audio is not None:
        tag, ch, sr = audio
        strh_a = (b"auds" + bytes(16)
                  + struct.pack("<II", 1, sr)
                  + bytes(4) + struct.pack("<I", sr) + bytes(16))
        strf_a = struct.pack("<HHIIHH", tag, ch, sr, sr * ch * 2,
                             ch * 2, 16)
        hdrl_body += _list(b"strl", _chunk(b"strh", strh_a)
                           + _chunk(b"strf", strf_a))
    movi_body = b"".join(
        _chunk(b"00dc", frame_payload) for _ in range(n_frames))
    body = _list(b"hdrl", hdrl_body) + _list(b"movi", movi_body)
    if with_idx1:
        idx = b"".join(
            b"00dc" + struct.pack("<III", 0x10, 4 + i * 24,
                                  len(frame_payload))
            for i in range(n_frames))
        body += _chunk(b"idx1", idx)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"AVI " + body
