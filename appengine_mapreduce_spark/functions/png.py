"""Dependency-free PNG codec (decode + encode) for the multimodal operators.

Implements the public PNG specification (W3C PNG, RFC 2083): 8-byte
signature, length/tag/data/CRC32 chunk framing, IHDR layout, zlib IDAT
streams and the five scanline filters (None/Sub/Up/Average/Paeth).
Supports bit depth 8, color types 0 (gray), 2 (RGB) and 6 (RGBA),
non-interlaced — the subset a training-data pipeline normally needs for
dimension/pixel-stat extraction. Everything here uses only ``struct`` and
``zlib`` from the stdlib, so the decode path in
``operators/multimodal.py`` is REAL, not a stub.
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass

import numpy as np

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 6: 4}


class PngFormatError(ValueError):
    pass


@dataclass(frozen=True)
class PngImage:
    width: int
    height: int
    bit_depth: int
    color_type: int
    pixels: bytes  # unfiltered scanlines, row-major, channels interleaved

    @property
    def channels(self) -> int:
        return _CHANNELS[self.color_type]


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _unfilter_row(ftype: int, row: bytearray, prev: bytes, bpp: int) -> None:
    n = len(row)
    if ftype == 0:
        return
    if ftype == 1:  # Sub: per-channel prefix sum mod 256 (vectorized —
        # mod distributes over addition, so cumsum then mask is exact)
        a = np.frombuffer(bytes(row), dtype=np.uint8).astype(np.int64)
        for r in range(bpp):
            lane = a[r::bpp]
            np.cumsum(lane, out=lane)
        row[:] = (a & 0xFF).astype(np.uint8).tobytes()
    elif ftype == 2:  # Up: no intra-row dependency, one vector add
        a = np.frombuffer(bytes(row), dtype=np.uint8).astype(np.int16)
        a += np.frombuffer(prev, dtype=np.uint8)
        row[:] = (a & 0xFF).astype(np.uint8).tobytes()
    # Average/Paeth depend on the just-reconstructed LEFT byte through a
    # nonlinear predictor (floor-average / Paeth select), so the row is
    # inherently sequential — no cumsum trick applies.
    elif ftype == 3:  # Average
        for i in range(n):
            left = row[i - bpp] if i >= bpp else 0
            row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
    elif ftype == 4:  # Paeth
        for i in range(n):
            left = row[i - bpp] if i >= bpp else 0
            upleft = prev[i - bpp] if i >= bpp else 0
            row[i] = (row[i] + _paeth(left, prev[i], upleft)) & 0xFF
    else:
        raise PngFormatError(f"unknown filter type {ftype}")


def _filter_row(ftype: int, raw: bytes, prev: bytes, bpp: int) -> bytes:
    n = len(raw)
    if ftype == 0:
        return raw
    out = bytearray(n)
    for i in range(n):
        left = raw[i - bpp] if i >= bpp else 0
        up = prev[i]
        upleft = prev[i - bpp] if i >= bpp else 0
        if ftype == 1:
            pred = left
        elif ftype == 2:
            pred = up
        elif ftype == 3:
            pred = (left + up) >> 1
        elif ftype == 4:
            pred = _paeth(left, up, upleft)
        else:
            raise PngFormatError(f"unknown filter type {ftype}")
        out[i] = (raw[i] - pred) & 0xFF
    return bytes(out)


def iter_chunks(blob: bytes, verify_crc: bool = True):
    """Yield (tag, data) for each chunk; validates framing + CRC32."""
    if blob[:8] != PNG_SIGNATURE:
        raise PngFormatError("bad PNG signature")
    pos = 8
    while pos < len(blob):
        if pos + 8 > len(blob):
            raise PngFormatError("truncated chunk header")
        (length,) = struct.unpack(">I", blob[pos : pos + 4])
        tag = blob[pos + 4 : pos + 8]
        data = blob[pos + 8 : pos + 8 + length]
        if len(data) < length:
            raise PngFormatError("truncated chunk data")
        (crc,) = struct.unpack(">I", blob[pos + 8 + length : pos + 12 + length])
        if verify_crc and zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
            raise PngFormatError(f"chunk {tag!r}: CRC mismatch")
        yield tag, data
        pos += 12 + length
        if tag == b"IEND":
            return
    raise PngFormatError("missing IEND")


def decode_png(blob: bytes, verify_crc: bool = True) -> PngImage:
    """Full decode: parse chunks, inflate IDAT, undo scanline filters."""
    header = None
    idat = bytearray()
    for tag, data in iter_chunks(blob, verify_crc=verify_crc):
        if tag == b"IHDR":
            header = struct.unpack(">IIBBBBB", data)
        elif tag == b"IDAT":
            idat += data
    if header is None:
        raise PngFormatError("missing IHDR")
    width, height, bit_depth, color_type, comp, filt, interlace = header
    if bit_depth != 8 or color_type not in _CHANNELS:
        raise PngFormatError(
            f"unsupported format (bit_depth={bit_depth}, color_type={color_type})"
        )
    if comp != 0 or filt != 0 or interlace != 0:
        raise PngFormatError("unsupported compression/filter/interlace method")

    raw = zlib.decompress(bytes(idat))
    bpp = _CHANNELS[color_type]  # bytes per pixel at depth 8
    stride = width * bpp
    if len(raw) != (stride + 1) * height:
        raise PngFormatError("IDAT size does not match dimensions")

    out = bytearray()
    prev = bytes(stride)
    for y in range(height):
        off = y * (stride + 1)
        row = bytearray(raw[off + 1 : off + 1 + stride])
        _unfilter_row(raw[off], row, prev, bpp)
        out += row
        prev = bytes(row)
    return PngImage(width, height, bit_depth, color_type, bytes(out))


def decode_ihdr(blob: bytes) -> tuple[int, int, int, int]:
    """Header-only peek: (width, height, bit_depth, color_type) from the
    IHDR chunk (bytes 16-24 of any valid PNG) without inflating IDAT —
    the cheap path for dimension filters over a large corpus."""
    if blob[:8] != PNG_SIGNATURE or blob[12:16] != b"IHDR":
        raise PngFormatError("bad PNG signature/IHDR")
    width, height, bit_depth, color_type = struct.unpack(">IIBB", blob[16:26])
    return width, height, bit_depth, color_type


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(
    width: int,
    height: int,
    pixels: bytes,
    color_type: int = 0,
    row_filters: list[int] | None = None,
    compress_level: int = 6,
) -> bytes:
    """Encode raw pixels as a valid PNG (bit depth 8, non-interlaced).

    ``row_filters`` optionally pins the filter type per scanline (0-4) —
    useful for exercising every unfilter path; default is filter 0.
    """
    bpp = _CHANNELS[color_type]
    stride = width * bpp
    if len(pixels) != stride * height:
        raise PngFormatError(
            f"pixel buffer is {len(pixels)} bytes, want {stride * height}"
        )
    rows = bytearray()
    prev = bytes(stride)
    for y in range(height):
        raw = pixels[y * stride : (y + 1) * stride]
        f = row_filters[y] if row_filters else 0
        rows += bytes([f]) + _filter_row(f, raw, prev, bpp)
        prev = raw
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(rows), compress_level))
        + _chunk(b"IEND", b"")
    )
