"""Dependency-free JPEG header codec for the multimodal operators.

Implements the public JPEG interchange format's segment layer (ITU-T T.81
/ ISO 10918-1): SOI, marker segments with big-endian lengths, fill bytes,
standalone markers, and the SOFn frame headers that carry the image
dimensions. This is a HEADER decoder — dimensions, sample precision,
component count, and baseline/progressive mode — not an entropy decoder:
a training-data pipeline filters and routes on exactly these fields
without inflating pixel data (the same cheap path as
``functions/png.py:decode_ihdr``). Pixel decode reads the same segment
walk (``functions/jpeg_pixels.py``).

Also provides ``encode_minimal_jpeg`` — a structurally valid baseline or
progressive JPEG stream (SOI + JFIF APP0 + DQT + SOFn + DHT + SOS + EOI)
used by tests and the ``jpeg_decode_meta`` gate query to synthesize
fixtures whose headers a third-party parser would accept.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

JPEG_SOI = b"\xff\xd8"

# SOFn markers that carry frame headers (T.81 table B.1). C4 = DHT,
# C8 = JPG (reserved), CC = DAC are NOT frame headers.
_SOF_MARKERS = frozenset(
    (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF)
)
_PROGRESSIVE_MARKERS = frozenset((0xC2, 0xC6, 0xCA, 0xCE))


class JpegFormatError(ValueError):
    pass


@dataclass(frozen=True)
class JpegMeta:
    width: int
    height: int
    precision: int
    n_components: int
    progressive: bool


def _entropy_end(blob: bytes, pos: int) -> int:
    """Index of the marker that ends the entropy-coded data starting at
    ``pos``: the first 0xFF that is neither a stuffed 0xFF00 nor a restart
    marker RSTn (fill bytes may precede either marker, T.81 §B.1.1.2)."""
    n = len(blob)
    while True:
        pos = blob.find(b"\xff", pos)
        if pos < 0:
            return n
        nxt = pos + 1
        while nxt < n and blob[nxt] == 0xFF:  # fill bytes
            nxt += 1
        if nxt < n and (blob[nxt] == 0x00 or 0xD0 <= blob[nxt] <= 0xD7):
            pos = nxt + 1
        else:
            return pos


def iter_segments(blob: bytes):
    """Yield (marker, data) for each marker segment up to EOI; validates
    SOI, marker framing, and segment lengths. Fill bytes (repeated 0xFF)
    and standalone markers (TEM, RSTn) are handled per T.81 §B.1.1.2.

    An SOS segment's ``data`` is its scan header followed by the scan's
    entropy-coded bytes (restart markers included), so a progressive
    stream yields one SOS per scan. A stream that ends inside a scan,
    without EOI, ends the walk after that scan."""
    if blob[:2] != JPEG_SOI:
        raise JpegFormatError("bad JPEG SOI")
    pos = 2
    while pos < len(blob):
        if blob[pos] != 0xFF:
            raise JpegFormatError(f"expected marker at byte {pos}")
        while pos < len(blob) and blob[pos] == 0xFF:  # fill bytes
            pos += 1
        if pos >= len(blob):
            raise JpegFormatError("truncated marker")
        marker = blob[pos]
        pos += 1
        if marker == 0xD9:  # EOI
            return
        if marker == 0x01 or 0xD0 <= marker <= 0xD8:  # TEM/RSTn/SOI: no body
            continue
        if pos + 2 > len(blob):
            raise JpegFormatError("truncated segment length")
        (length,) = struct.unpack(">H", blob[pos : pos + 2])
        if length < 2 or pos + length > len(blob):
            raise JpegFormatError(f"bad segment length {length} at byte {pos}")
        end = pos + length
        if marker == 0xDA:  # SOS: entropy-coded data follows the header
            end = _entropy_end(blob, end)
        yield marker, blob[pos + 2 : end]
        pos = end
        if marker == 0xDA and pos >= len(blob):
            return  # the last scan ran to the end: no EOI
    raise JpegFormatError("missing SOS/EOI")


def decode_jpeg_meta(blob: bytes) -> JpegMeta:
    """Scan to the SOFn frame header and return dimensions + mode."""
    for marker, data in iter_segments(blob):
        if marker == 0xDA:
            break
        if marker in _SOF_MARKERS:
            if len(data) < 6:
                raise JpegFormatError("truncated SOF header")
            precision, height, width, n_components = struct.unpack(">BHHB", data[:6])
            if width == 0 or height == 0:
                raise JpegFormatError("zero dimension in SOF")
            return JpegMeta(
                width=width,
                height=height,
                precision=precision,
                n_components=n_components,
                progressive=marker in _PROGRESSIVE_MARKERS,
            )
    raise JpegFormatError("no SOF frame header before SOS")


def _segment(marker: int, data: bytes) -> bytes:
    return bytes((0xFF, marker)) + struct.pack(">H", len(data) + 2) + data


def encode_minimal_jpeg(
    width: int,
    height: int,
    n_components: int = 1,
    progressive: bool = False,
    precision: int = 8,
) -> bytes:
    """Emit a structurally valid JPEG header stream for the given frame
    parameters. The entropy-coded payload is a placeholder (the header
    layer is what ``decode_jpeg_meta`` and any dimension filter read);
    quantization/Huffman tables are minimal but well-formed."""
    if not (0 < width <= 0xFFFF and 0 < height <= 0xFFFF):
        raise JpegFormatError("dimensions out of range")
    app0 = b"JFIF\x00" + bytes((1, 1, 0)) + struct.pack(">HH", 1, 1) + bytes((0, 0))
    dqt = bytes((0x00,)) + bytes([16] * 64)
    sof = struct.pack(">BHHB", precision, height, width, n_components)
    for comp_id in range(1, n_components + 1):
        sof += bytes((comp_id, 0x11, 0x00))
    # One DC Huffman table with a single 2-bit code for symbol 0.
    counts = [0] * 16
    counts[1] = 1
    dht = bytes((0x00, *counts, 0x00))
    sos = bytes((n_components,))
    for comp_id in range(1, n_components + 1):
        sos += bytes((comp_id, 0x00))
    sos += bytes((0, 63, 0))
    sof_marker = 0xC2 if progressive else 0xC0
    return (
        JPEG_SOI
        + _segment(0xE0, app0)
        + _segment(0xDB, dqt)
        + _segment(sof_marker, sof)
        + _segment(0xC4, dht)
        + _segment(0xDA, sos)
        + b"\x00"  # placeholder entropy byte
        + b"\xff\xd9"  # EOI
    )
