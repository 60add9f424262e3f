"""Pure-Python PNG codec for the page-image tier.

The container ships no PIL, but PNG is fully decodable with the
standard library alone: non-interlaced, 8-bit gray / gray+alpha / RGB /
RGBA (the shapes our own encoder and most screenshot/render pipelines
emit) — chunk walk, zlib inflate, all five scanline filters (None/Sub/
Up/Average/Paeth) inverted per the PNG spec. The encoder writes the
rasterized pages (``core.raster``) and the test fixtures.

JPEG has its own real baseline/progressive codec in ``core.jpegcodec``
(pure Python + numpy Huffman/DCT); both raise :class:`MediaError` on a
malformed or unsupported payload.
"""

from __future__ import annotations

import struct
import zlib

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # colortype → samples/pixel


class MediaError(ValueError):
    """Malformed/unsupported media payload (row-level tolerance)."""


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def png_unfilter_row(tag: int, row: bytearray, prev, bpp: int) -> bool:
    """The one PNG row unfilter (PNG images, PDF predictors §7.4.4.4):
    undo ``tag`` (0–4: None/Sub/Up/Average/Paeth) on ``row`` in place
    over ``prev``, the row above; False for any other tag."""
    if tag == 1:  # Sub
        for i in range(bpp, len(row)):
            row[i] = (row[i] + row[i - bpp]) & 0xFF
    elif tag == 2:  # Up
        for i in range(len(row)):
            row[i] = (row[i] + prev[i]) & 0xFF
    elif tag == 3:  # Average
        for i in range(len(row)):
            left = row[i - bpp] if i >= bpp else 0
            row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
    elif tag == 4:  # Paeth
        for i in range(len(row)):
            left = row[i - bpp] if i >= bpp else 0
            ul = prev[i - bpp] if i >= bpp else 0
            row[i] = (row[i] + _paeth(left, prev[i], ul)) & 0xFF
    return 0 <= tag <= 4


def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """PNG bytes → (width, height, channels, raw pixel bytes, row-major,
    channel-interleaved). Raises MediaError on malformed/unsupported."""
    if data[:8] != _PNG_MAGIC:
        raise MediaError("not a png")
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise MediaError("truncated chunk")
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + crc
    if ihdr is None or len(ihdr) < 13:
        raise MediaError("no IHDR")
    w, h, depth, colortype, _comp, _filt, interlace = struct.unpack(">IIBBBBB", ihdr[:13])
    if depth != 8 or colortype not in _CHANNELS or interlace != 0:
        raise MediaError(f"unsupported png (depth={depth} color={colortype} interlace={interlace})")
    ch = _CHANNELS[colortype]
    stride = w * ch
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise MediaError(f"idat inflate failed: {e}") from e
    if len(raw) != (stride + 1) * h:
        raise MediaError("pixel payload size mismatch")
    out = bytearray(stride * h)
    prev = bytearray(stride)
    for y in range(h):
        base = y * (stride + 1)
        f = raw[base]
        row = bytearray(raw[base + 1 : base + 1 + stride])
        if not png_unfilter_row(f, row, prev, ch):
            raise MediaError(f"bad filter {f}")
        out[y * stride : (y + 1) * stride] = row
        prev = row
    return w, h, ch, bytes(out)


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body))
    )


def encode_png(w: int, h: int, channels: int, pixels: bytes, row_filter: int = 0) -> bytes:
    """Minimal PNG writer (fixture generator). ``row_filter`` applies
    the SAME filter to every scanline — exercising each decoder
    unfilter path in tests (forward filter here, inverse in decode)."""
    colortype = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    stride = w * channels
    if len(pixels) != stride * h:
        raise ValueError("pixel buffer size mismatch")
    raw = bytearray()
    if row_filter == 0:
        # identity filter: no per-byte work — just interleave the
        # filter-type byte per scanline (hot path for rasterized pages)
        for y in range(h):
            raw.append(0)
            raw += pixels[y * stride : (y + 1) * stride]
        ihdr = struct.pack(">IIBBBBB", w, h, 8, colortype, 0, 0, 0)
        return (
            _PNG_MAGIC
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _chunk(b"IEND", b"")
        )
    prev = bytearray(stride)
    for y in range(h):
        row = bytearray(pixels[y * stride : (y + 1) * stride])
        filt = bytearray(stride)
        for i in range(stride):
            left = row[i - channels] if i >= channels else 0
            ul = prev[i - channels] if i >= channels else 0
            # row_filter == 0 returned via the fast path above
            if row_filter == 1:
                v = row[i] - left
            elif row_filter == 2:
                v = row[i] - prev[i]
            elif row_filter == 3:
                v = row[i] - ((left + prev[i]) >> 1)
            elif row_filter == 4:
                v = row[i] - _paeth(left, prev[i], ul)
            else:
                raise ValueError(f"bad filter {row_filter}")
            filt[i] = v & 0xFF
        raw.append(row_filter)
        raw += filt
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, colortype, 0, 0, 0)
    return (
        _PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )
