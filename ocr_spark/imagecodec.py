"""Pure-stdlib image codecs: PNG (via ``zlib``), PPM (P6), BMP (24-bit).

A real, runnable decode without PIL/ffmpeg.  PNG's format is fully
implementable from the public spec with ``zlib`` + ``struct``: chunked
container, per-row filter byte (None/Sub/Up/Average/Paeth), big-endian
lengths, CRC32 over type+data.  No operator calls this module; it is a
standalone codec with its own tests.

Scope (honest, enforced with loud errors — never a wrong silent decode):

- PNG: bit depth 8, color types 0 (gray), 2 (RGB), 6 (RGBA), no
  interlace.  Covers everything :func:`png_encode` and the web's most
  common PNG shapes produce.
- PPM: binary P6, maxval 255.
- BMP: uncompressed 24-bit BI_RGB, bottom-up or top-down rows.
- JPEG stays environment-blocked (a stdlib-only DCT decoder is out of
  scope).

Everything here is deterministic byte-level arithmetic — no floats — so
decoded pixel sums are exactly reproducible.

Performance posture: this is a correctness kernel; a production cluster
would use a vectorized codec (PIL-SIMD / nvJPEG) instead.
"""

from __future__ import annotations

import struct
import zlib
from typing import NamedTuple


class DecodedImage(NamedTuple):
    width: int
    height: int
    channels: int  # 1=gray, 2=gray+alpha, 3=RGB, 4=RGBA
    pixels: bytes  # row-major, ``channels`` bytes per pixel


_PNG_SIG = b"\x89PNG\r\n\x1a\n"

# Hard ceiling on the decoded (filtered) byte count a PNG may inflate to
# (~128 MB ≈ a 6500² RGBA frame): crawl payloads are hostile input, and
# the IHDR-implied size must be bounded BEFORE the inflate, or a few-KB
# decompression bomb OOMs the executor.
MAX_DECODED_BYTES = 128 * 1024 * 1024
# PNG color type → channel count (bit depth 8 only)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG spec §9.4) — exact integer arithmetic."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _filter_row(ftype: int, row: bytes, prior: bytes, bpp: int) -> bytes:
    """Apply PNG filter ``ftype`` to ``row`` (encoder direction)."""
    n = len(row)
    out = bytearray(n)
    for i in range(n):
        x = row[i]
        a = row[i - bpp] if i >= bpp else 0
        b = prior[i]
        c = prior[i - bpp] if i >= bpp else 0
        if ftype == 0:
            out[i] = x
        elif ftype == 1:
            out[i] = (x - a) & 0xFF
        elif ftype == 2:
            out[i] = (x - b) & 0xFF
        elif ftype == 3:
            out[i] = (x - (a + b) // 2) & 0xFF
        elif ftype == 4:
            out[i] = (x - _paeth(a, b, c)) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
    return bytes(out)


def _unfilter_row(
    ftype: int, row: bytearray, prior: bytes, bpp: int
) -> bytearray:
    """Invert PNG filter ``ftype`` in place (decoder direction)."""
    n = len(row)
    if ftype == 0:
        return row
    if ftype == 1:
        for i in range(bpp, n):
            row[i] = (row[i] + row[i - bpp]) & 0xFF
    elif ftype == 2:
        for i in range(n):
            row[i] = (row[i] + prior[i]) & 0xFF
    elif ftype == 3:
        for i in range(n):
            a = row[i - bpp] if i >= bpp else 0
            row[i] = (row[i] + (a + prior[i]) // 2) & 0xFF
    elif ftype == 4:
        for i in range(n):
            a = row[i - bpp] if i >= bpp else 0
            c = prior[i - bpp] if i >= bpp else 0
            row[i] = (row[i] + _paeth(a, prior[i], c)) & 0xFF
    else:
        raise ValueError(f"corrupt PNG: filter type {ftype}")
    return row


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def png_encode(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 3,
    filter_mode: str = "cycle",
) -> bytes:
    """Encode 8-bit pixels as PNG.  ``filter_mode='cycle'`` rotates the
    filter type per row (y % 5) so any decoder consuming the output must
    implement ALL five filters correctly — the property the contract
    oracle's analytic pixel sums then verify end-to-end; ``'none'`` emits
    filter 0 only."""
    if channels not in (1, 2, 3, 4):
        raise ValueError(f"channels must be 1..4, got {channels}")
    stride = width * channels
    if len(pixels) != stride * height:
        raise ValueError(
            f"pixel buffer is {len(pixels)} bytes, want {stride * height}"
        )
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    raw = bytearray()
    prior = bytes(stride)
    for y in range(height):
        row = pixels[y * stride : (y + 1) * stride]
        f = (y % 5) if filter_mode == "cycle" else 0
        raw.append(f)
        raw += _filter_row(f, row, prior, channels)
        prior = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _chunk(b"IEND", b"")
    )


def png_decode(data: bytes) -> DecodedImage:
    """Decode a PNG (bit depth 8, color types 0/2/4/6, no interlace)."""
    if not data.startswith(_PNG_SIG):
        raise ValueError("not a PNG: bad signature")
    pos = len(_PNG_SIG)
    width = height = channels = -1
    idat = bytearray()
    while pos + 8 <= len(data):
        (clen,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + clen]
        if len(body) != clen:
            raise ValueError("corrupt PNG: truncated chunk")
        (crc,) = struct.unpack_from(">I", data, pos + 8 + clen)
        if crc != zlib.crc32(ctype + body) & 0xFFFFFFFF:
            raise ValueError(f"corrupt PNG: CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            width, height, depth, color, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
            if depth != 8:
                raise ValueError(f"unsupported PNG bit depth {depth}")
            if color not in _PNG_CHANNELS:
                raise ValueError(f"unsupported PNG color type {color}")
            if interlace != 0:
                raise ValueError("unsupported PNG: Adam7 interlace")
            if comp != 0 or filt != 0:
                raise ValueError("corrupt PNG: bad compression/filter method")
            channels = _PNG_CHANNELS[color]
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if width < 0:
        raise ValueError("corrupt PNG: no IHDR")
    stride = width * channels
    want = (stride + 1) * height
    if want > MAX_DECODED_BYTES:
        raise ValueError(
            f"PNG dimensions {width}x{height}x{channels} exceed the "
            f"{MAX_DECODED_BYTES}-byte decode cap"
        )
    # bounded inflate: an unbounded zlib.decompress lets a few-KB
    # crafted IDAT (a decompression bomb) or a lying IHDR allocate
    # gigabytes on the executor before the size check ever runs — the
    # decompressor is never allowed to emit more than the IHDR-implied
    # byte count (+1 to detect oversize output as corruption)
    d = zlib.decompressobj()
    raw = d.decompress(bytes(idat), want + 1)
    if len(raw) != want or d.unconsumed_tail:
        raise ValueError(
            f"corrupt PNG: {len(raw)} filtered bytes, want {want}"
        )
    out = bytearray(stride * height)
    prior = bytes(stride)
    for y in range(height):
        base = y * (stride + 1)
        row = _unfilter_row(
            raw[base], bytearray(raw[base + 1 : base + 1 + stride]),
            prior, channels,
        )
        out[y * stride : (y + 1) * stride] = row
        prior = bytes(row)
    return DecodedImage(width, height, channels, bytes(out))


def ppm_encode(width: int, height: int, rgb: bytes) -> bytes:
    """Binary PPM (P6, maxval 255)."""
    if len(rgb) != width * height * 3:
        raise ValueError("PPM wants an RGB buffer of width*height*3 bytes")
    return b"P6\n%d %d\n255\n" % (width, height) + rgb


def ppm_decode(data: bytes) -> DecodedImage:
    """Decode binary PPM (P6, maxval 255, '#' comments allowed)."""
    if not data.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(data[start:pos]))
    # single whitespace terminator after maxval — but CRLF-writing
    # tooling emits '\r\n', and treating the '\n' as the first pixel
    # byte would shift EVERY channel value silently (the length check
    # can still pass via trailing bytes); consume the pair as one
    if data[pos : pos + 2] == b"\r\n":
        pos += 2
    else:
        pos += 1
    width, height, maxval = fields
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    n = width * height * 3
    pixels = data[pos : pos + n]
    if len(pixels) != n:
        raise ValueError("corrupt PPM: truncated pixel data")
    return DecodedImage(width, height, 3, pixels)


def bmp_encode(width: int, height: int, rgb: bytes) -> bytes:
    """Uncompressed 24-bit BI_RGB BMP, bottom-up rows (the common layout)."""
    if len(rgb) != width * height * 3:
        raise ValueError("BMP wants an RGB buffer of width*height*3 bytes")
    pad = (-(width * 3)) % 4
    body = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up
        for x in range(width):
            i = (y * width + x) * 3
            body += bytes((rgb[i + 2], rgb[i + 1], rgb[i]))  # BGR
        body += bytes(pad)
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(body), 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body), 2835, 2835,
        0, 0,
    )
    return header + bytes(body)


def bmp_decode(data: bytes) -> DecodedImage:
    """Decode uncompressed 24-bit BI_RGB BMP (bottom-up or top-down)."""
    if not data.startswith(b"BM"):
        raise ValueError("not a BMP")
    (offset,) = struct.unpack_from("<I", data, 10)
    hdr_size, width, height_raw = struct.unpack_from("<Iii", data, 14)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    (compression,) = struct.unpack_from("<I", data, 30)
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP: bpp={bpp} compression={compression}")
    height = abs(height_raw)
    bottom_up = height_raw > 0
    if width <= 0 or height == 0:
        raise ValueError(f"degenerate BMP dims {width}x{height_raw}")
    # reject dimension bombs BEFORE the full-image allocation (the PNG
    # cap checks pre-inflate and gif_decode pre-canvas; a 54-byte header
    # declaring 30000x30000 would otherwise attempt ~2.7 GB here)
    if width * height * 3 > MAX_DECODED_BYTES:
        raise ValueError(
            f"BMP {width}x{height} exceeds the {MAX_DECODED_BYTES}-byte "
            f"decode cap"
        )
    pad = (-(width * 3)) % 4
    stride = width * 3 + pad
    out = bytearray(width * height * 3)
    for row in range(height):
        src = offset + row * stride
        y = (height - 1 - row) if bottom_up else row
        if src + width * 3 > len(data):
            raise ValueError("corrupt BMP: truncated pixel data")
        for x in range(width):
            b, g, r = data[src + 3 * x : src + 3 * x + 3]
            i = (y * width + x) * 3
            out[i : i + 3] = bytes((r, g, b))
    return DecodedImage(width, height, 3, bytes(out))


def sniff_decode(data: bytes) -> DecodedImage:
    """Decode by magic bytes: PNG / P6 PPM / BMP.  Raises ValueError on
    anything else (callers decide about PIL fallbacks)."""
    if data.startswith(_PNG_SIG[:4]):
        return png_decode(data)
    if data.startswith(b"P6"):
        return ppm_decode(data)
    if data.startswith(b"BM"):
        return bmp_decode(data)
    raise ValueError("unrecognized image format (stdlib codec: PNG/PPM/BMP)")


def to_rgb(img: DecodedImage) -> DecodedImage:
    """Normalize gray / gray+alpha / RGBA to RGB (alpha dropped, gray
    replicated) so downstream resize/features handle one layout."""
    if img.channels == 3:
        return img
    n = img.width * img.height
    out = bytearray(n * 3)
    px, ch = img.pixels, img.channels
    for i in range(n):
        if ch == 1 or ch == 2:
            v = px[i * ch]
            out[i * 3 : i * 3 + 3] = bytes((v, v, v))
        else:  # RGBA
            out[i * 3 : i * 3 + 3] = px[i * 4 : i * 4 + 3]
    return DecodedImage(img.width, img.height, 3, bytes(out))


def resize_nearest(
    img: DecodedImage, out_w: int, out_h: int
) -> DecodedImage:
    """Nearest-neighbor resize: out(x2,y2) = src(x2*W//out_w, y2*H//out_h).
    Pure integer index mapping — the exact formula the mm_resize_stats
    oracle replays in SQL."""
    if out_w <= 0 or out_h <= 0:
        raise ValueError("resize target must be positive")
    src = to_rgb(img)
    out = bytearray(out_w * out_h * 3)
    for y2 in range(out_h):
        y = y2 * src.height // out_h
        row_base = y * src.width
        for x2 in range(out_w):
            x = x2 * src.width // out_w
            i, j = (y2 * out_w + x2) * 3, (row_base + x) * 3
            out[i : i + 3] = src.pixels[j : j + 3]
    return DecodedImage(out_w, out_h, 3, bytes(out))
