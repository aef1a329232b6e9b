"""BMP and ICO image parsing — the two legacy raster formats a web
crawl still surfaces constantly (favicons above all): they complete
the image-triage matrix beside JPEG/PNG/GIF/WebP/TIFF/PNM.

Built against the public Microsoft documentation (BITMAPFILEHEADER /
BITMAPINFOHEADER / ICONDIR layouts, all little-endian):

* BMP: ``BM`` + u32le file size + u32le pixel-data offset, then the
  DIB header — u32le header size discriminates the era (12
  BITMAPCOREHEADER, 40 INFOHEADER, 52/56/108/124 the V2–V5
  extensions). Width/height are signed (negative height = top-down
  DIB), bit depth 1/4/8/16/24/32, compression 0 BI_RGB / 1 RLE8 /
  2 RLE4 / 3 BITFIELDS. Pixel rows are 4-byte aligned; for BI_RGB
  the expected pixel-array size is a closed form the audit checks
  against the declared file size — the lie bit of this format.
* ICO/CUR: ICONDIR (reserved 0, type 1=icon / 2=cursor, u16le
  count) + 16-byte ICONDIRENTRYs (width/height bytes where 0 means
  256, bpp, payload size + offset). Each payload is either a PNG
  (magic-sniffed — the modern favicon) or a headerless DIB whose
  height field is DOUBLED (XOR + AND masks share it) — both
  recognized; entries are bounds-checked against the file.

Malformed structure raises ValueError per the module contract;
triage quarantines. Pixel data itself is never decoded.

Reference: n/a (extension surface).
"""

from __future__ import annotations

import struct

BMP_COMPRESSION = {0: "rgb", 1: "rle8", 2: "rle4", 3: "bitfields",
                   4: "jpeg", 5: "png"}
_DIB_SIZES = {12, 40, 52, 56, 64, 108, 124}


def parse_bmp(data: bytes) -> dict:
    """Parse a BMP header: ``{width, height, top_down, bpp,
    compression, n_colors, pixel_offset, declared_size,
    expected_pixel_bytes, size_consistent}``."""
    if len(data) < 18 or data[:2] != b"BM":
        raise ValueError("bmp: missing BM magic")
    declared_size, _res, pixel_offset = struct.unpack_from(
        "<III", data, 2)
    dib_size = struct.unpack_from("<I", data, 14)[0]
    if dib_size not in _DIB_SIZES:
        raise ValueError(f"bmp: unknown DIB header size {dib_size}")
    if dib_size == 12:  # BITMAPCOREHEADER: u16 fields
        if len(data) < 14 + 12:
            raise ValueError("bmp: truncated core header")
        w, h, _planes, bpp = struct.unpack_from("<HHHH", data, 18)
        height, top_down, compression, n_colors = h, False, "rgb", 0
        width = w
    else:
        if len(data) < 14 + 40:
            raise ValueError("bmp: truncated info header")
        width, height_s = struct.unpack_from("<ii", data, 18)
        _planes, bpp = struct.unpack_from("<HH", data, 26)
        comp = struct.unpack_from("<I", data, 30)[0]
        n_colors = struct.unpack_from("<I", data, 46)[0]
        top_down = height_s < 0
        height = abs(height_s)
        compression = BMP_COMPRESSION.get(comp, f"comp-{comp}")
    if width <= 0 or height <= 0:
        raise ValueError("bmp: non-positive dimensions")
    if bpp not in (1, 4, 8, 16, 24, 32):
        raise ValueError(f"bmp: invalid bit depth {bpp}")
    expected = None
    if compression == "rgb":
        row = (width * bpp + 31) // 32 * 4  # 4-byte row alignment
        expected = row * height
    # the lie bit: does the file ACTUALLY contain the pixel array the
    # header promises? (declared_size routinely lies; length doesn't)
    size_consistent = bool(
        expected is None or pixel_offset + expected <= len(data))
    return {
        "width": width, "height": height, "top_down": top_down,
        "bpp": bpp, "compression": compression,
        "n_colors": n_colors, "pixel_offset": pixel_offset,
        "declared_size": declared_size,
        "expected_pixel_bytes": expected,
        "size_consistent": size_consistent,
    }


def parse_ico(data: bytes) -> dict:
    """Parse an ICO/CUR directory: ``{kind: 'icon'|'cursor',
    n_images, images: [{width, height, bpp, payload_format, size,
    offset}], max_width, max_height, any_png}``. Width/height bytes
    of 0 mean 256; payloads are sniffed PNG vs DIB."""
    if len(data) < 6:
        raise ValueError("ico: shorter than ICONDIR")
    reserved, ico_type, count = struct.unpack_from("<HHH", data, 0)
    if reserved != 0 or ico_type not in (1, 2):
        raise ValueError("ico: bad ICONDIR header")
    if count == 0:
        raise ValueError("ico: zero images")
    if 6 + 16 * count > len(data):
        raise ValueError("ico: directory overruns file")
    images = []
    for i in range(count):
        off = 6 + 16 * i
        w, h, _pal, _res = struct.unpack_from("<BBBB", data, off)
        bpp = struct.unpack_from("<H", data, off + 6)[0]
        size, payload_off = struct.unpack_from("<II", data, off + 8)
        if payload_off + size > len(data):
            raise ValueError(f"ico: image {i} payload overruns file")
        payload = data[payload_off:payload_off + size]
        if payload[:8] == b"\x89PNG\r\n\x1a\n":
            fmt = "png"
        elif payload[:4] == b"\x28\x00\x00\x00":
            fmt = "dib"  # headerless DIB, height doubled by masks
        else:
            fmt = "unknown"
        images.append({
            "width": w or 256, "height": h or 256, "bpp": bpp,
            "payload_format": fmt, "size": size,
            "offset": payload_off,
        })
    return {
        "kind": "icon" if ico_type == 1 else "cursor",
        "n_images": count,
        "images": images,
        "max_width": max(im["width"] for im in images),
        "max_height": max(im["height"] for im in images),
        "any_png": any(im["payload_format"] == "png"
                       for im in images),
    }


# ---------------------------------------------------------------------------
# Fixture encoders
# ---------------------------------------------------------------------------


def encode_bmp(width: int = 16, height: int = 12, bpp: int = 24,
               top_down: bool = False,
               lie_size: bool = False) -> bytes:
    """Minimal BI_RGB BITMAPINFOHEADER BMP with real (zero) pixel
    rows; ``lie_size`` truncates the pixel array while keeping the
    declared size — the size-consistency lie."""
    row = (width * bpp + 31) // 32 * 4
    pixels = bytes(row * height)
    if lie_size:
        pixels = pixels[:len(pixels) // 2]
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, -height if top_down else height,
        1, bpp, 0, len(pixels), 2835, 2835, 0, 0)
    offset = 14 + 40
    size = offset + row * height  # declared full size either way
    head = b"BM" + struct.pack("<IIII", size, 0, offset, 0)[:12]
    return head + dib + pixels


def encode_ico(entries: list[tuple[int, int, bytes]],
               cursor: bool = False) -> bytes:
    """ICO from (width, height, payload) entries (payload PNG or
    DIB bytes; 256 encodes as the 0 byte per spec)."""
    n = len(entries)
    header = struct.pack("<HHH", 0, 2 if cursor else 1, n)
    dir_bytes = b""
    payloads = b""
    off = 6 + 16 * n
    for w, h, payload in entries:
        dir_bytes += struct.pack(
            "<BBBBHHII", 0 if w == 256 else w, 0 if h == 256 else h,
            0, 0, 1, 32, len(payload), off)
        payloads += payload
        off += len(payload)
    return header + dir_bytes + payloads
