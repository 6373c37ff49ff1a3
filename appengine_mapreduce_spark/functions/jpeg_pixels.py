"""Dependency-free baseline JPEG PIXEL codec.

Implements the public ITU-T T.81 / ISO 10918-1 baseline sequential process
for 8-bit images: entropy decode (canonical Huffman, byte-stuffed
bitstream), dequantization, inverse zigzag, 2-D 8×8 IDCT, level shift —
and the matching encoders used for fixtures (forward DCT + quantize +
Huffman with the Annex K example tables). Two profiles:

- GRAYSCALE (single component) — the document-scan profile:
  ``encode_baseline_gray`` / ``decode_baseline_gray``.
- COLOR (three components, interleaved Y Cb Cr MCUs, JFIF color
  transform) at 4:4:4, 4:2:2 and 4:2:0 sampling —
  ``decode_baseline_color`` handles any 1-or-2 factor per axis;
  ``encode_baseline_color`` (4:4:4) and ``encode_baseline_420`` build
  fixtures for both ends of the range.

- PROGRESSIVE grayscale (SOF2, full T.81 Annex G scan script: DC
  first/refinement, spectral-selection AC first scans with EOB runs,
  successive-approximation AC refinement): ``encode_progressive_gray`` /
  ``decode_progressive_gray`` — decodes bit-identical to the baseline
  stream of the same source.

Restart markers (DRI/RSTn — camera/libjpeg-style streams) are supported
in both baseline profiles: predictors reset and the bitstream re-aligns
at each marker (encoders take ``restart_interval`` for fixtures).

Progressive COLOR, restart markers inside progressive scans, and sampling
factors above 2 raise a clear error and stay behind
``operators/multimodal.DECODERS_AVAILABLE``. The IDCT here is
the direct float transform: correct and portable; production swaps a
vectorized codec without touching the Spark-side plumbing (the
operators' ``map_rows`` row functions call the same entry points).

All table constants below are published in T.81 itself (zigzag order
§A.3.6, example Huffman tables Annex K.3) — public spec, not library code.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from appengine_mapreduce_spark.functions.jpeg import (
    JPEG_SOI,
    JpegFormatError,
    _segment,
)

# zigzag scan order (T.81 §A.3.6): index i of the scan -> (row, col)
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex K.1 example luminance quantization table, in zigzag order —
# EXCEPT entry 0 (DC) which we set to 8: with Q[DC]=8 the quantized DC of
# a flat block is exactly (level-shifted mean), so solid-color fixtures
# survive encode→decode bit-exactly (the gate query's oracle relies on
# this; see plans/queries_misc2.wav_pcm_features for the same fixture
# philosophy).
STD_QT_ZZ = [
    8, 11, 12, 14, 12, 10, 16, 14, 13, 14, 18, 17, 16, 19, 24, 40,
    26, 24, 22, 22, 24, 49, 35, 37, 29, 40, 58, 51, 61, 60, 57, 51,
    56, 55, 64, 72, 92, 78, 64, 68, 87, 69, 55, 56, 80, 109, 81, 87,
    95, 98, 103, 104, 103, 62, 77, 113, 121, 112, 100, 120, 92, 101,
    103, 99,
]

# Annex K.3.1: typical Huffman table for luminance DC (counts per code
# length 1..16, then symbols).
DC_COUNTS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_SYMBOLS = list(range(12))

# Annex K.3.2: typical Huffman table for luminance AC.
AC_COUNTS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_SYMBOLS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

_COS = [
    [math.cos((2 * x + 1) * u * math.pi / 16) for u in range(8)]
    for x in range(8)
]
_C = [1 / math.sqrt(2)] + [1.0] * 7

# DCT basis as a matrix: _M[u, x] = C[u] * cos((2x+1)uπ/16). The 2-D
# transforms become two 8×8 matmuls (IDCT: 0.25·Mᵀ·F·M, fDCT:
# 0.25·M·f·Mᵀ) — numpy BLAS instead of 64×64-term Python loops, which
# profiling showed was 76% of decode wall time.
_M = np.array([[_C[u] * _COS[x][u] for x in range(8)] for u in range(8)])
_ZIGZAG_NP = np.array(ZIGZAG)


def _canonical_codes(counts: list[int], symbols: list[int]):
    """T.81 §C.2: assign consecutive codes per length."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            codes[symbols[k]] = (length, code)
            code += 1
            k += 1
        code <<= 1
    return codes


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:  # byte stuffing (T.81 §F.1.2.3)
                    self.out.append(0x00)
                self.acc = 0
                self.nbits = 0

    def flush(self) -> bytes:
        if self.nbits:
            self.acc <<= 8 - self.nbits
            self.acc |= (1 << (8 - self.nbits)) - 1  # pad with 1s
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.nbits = 0
        return bytes(self.out)

    def restart(self, n: int) -> None:
        """Byte-align (1-padded) and emit RSTn (T.81 §B.2.1, n in 0..7)."""
        if self.nbits:
            self.acc <<= 8 - self.nbits
            self.acc |= (1 << (8 - self.nbits)) - 1
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.nbits = 0
        self.out += bytes((0xFF, 0xD0 + (n & 7)))


class _BitReader:
    """Accumulator-based reader: bytes refill a small int accumulator so
    multi-bit reads are one shift+mask instead of a per-bit loop (the
    entropy walk is the decode hot path after the numpy IDCT)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _refill(self) -> None:
        data, pos = self.data, self.pos
        if pos >= len(data):
            raise JpegFormatError("entropy stream exhausted")
        b = data[pos]
        pos += 1
        if b == 0xFF:
            if pos >= len(data):
                raise JpegFormatError("truncated after 0xFF")
            nxt = data[pos]
            if nxt == 0x00:
                pos += 1  # stuffed byte
            else:
                raise JpegFormatError(f"unexpected marker FF{nxt:02X} in scan")
        self.pos = pos
        self.acc = ((self.acc << 8) | b) & 0xFFFFFF
        self.nbits += 8

    def bit(self) -> int:
        if self.nbits == 0:
            self._refill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        while self.nbits < n:
            self._refill()
        if n == 0:
            return 0
        self.nbits -= n
        return (self.acc >> self.nbits) & ((1 << n) - 1)

    def restart(self) -> None:
        """Discard padding bits and consume an RSTn marker (any D0-D7)."""
        self.nbits = 0
        self.acc = 0
        if (
            self.pos + 2 > len(self.data)
            or self.data[self.pos] != 0xFF
            or not (0xD0 <= self.data[self.pos + 1] <= 0xD7)
        ):
            raise JpegFormatError("expected restart marker")
        self.pos += 2


def _category(v: int) -> int:
    return v.bit_length() if v >= 0 else (-v).bit_length()


_FAST_KEY = "perlength"  # cache slot inside a decoder LUT dict


def _read_symbol(reader: "_BitReader", lut: dict) -> int:
    """Walk the canonical code one bit at a time (T.81 §F.2.2.3), probing
    a per-length int-keyed dict (built lazily per table) instead of
    allocating+hashing a (length, code) tuple per bit."""
    fast = lut.get(_FAST_KEY)
    if fast is None:
        fast = [None] + [dict() for _ in range(16)]
        for key, sym in lut.items():
            if isinstance(key, tuple):
                fast[key[0]][key[1]] = sym
        lut[_FAST_KEY] = fast
    code = 0
    bit = reader.bit
    for length in range(1, 17):
        code = (code << 1) | bit()
        sym = fast[length].get(code)
        if sym is not None:
            return sym
    raise JpegFormatError("invalid Huffman code")


def _extend(v: int, t: int) -> int:
    """Sign-extend a t-bit magnitude field (T.81 §F.2.2.1 EXTEND)."""
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _write_coef_block(
    w: "_BitWriter", zz: list[int], dc_codes: dict, ac_codes: dict,
    prev_dc: int,
) -> int:
    """Entropy-encode one baseline block (DC diff + AC run/size with ZRL
    and EOB); returns the block's DC for the caller's predictor. The ONE
    copy of this logic — gray, 4:4:4 and 4:2:0 encoders all call it."""
    diff = zz[0] - prev_dc
    t = _category(diff)
    length, code = dc_codes[t]
    w.put(code, length)
    if t:
        w.put(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    last_nz = 0
    for i in range(1, 64):
        if zz[i]:
            last_nz = i
    for i in range(1, last_nz + 1):
        if zz[i] == 0:
            run += 1
            continue
        while run > 15:
            length, code = ac_codes[0xF0]
            w.put(code, length)
            run -= 16
        size = _category(zz[i])
        length, code = ac_codes[(run << 4) | size]
        w.put(code, length)
        v = zz[i]
        w.put(v if v >= 0 else v + (1 << size) - 1, size)
        run = 0
    if last_nz < 63:
        length, code = ac_codes[0x00]
        w.put(code, length)
    return zz[0]


def _read_coef_block(
    reader: "_BitReader", dc_tbl: dict, ac_tbl: dict, prev_dc: int
) -> tuple[list[int], int]:
    """Entropy-decode one baseline block; returns (zigzag coefficients,
    new DC predictor). Shared by the gray and color decoders."""
    zz = [0] * 64
    t = _read_symbol(reader, dc_tbl)
    diff = _extend(reader.bits(t), t) if t else 0
    dc = prev_dc + diff
    zz[0] = dc
    i = 1
    while i < 64:
        sym = _read_symbol(reader, ac_tbl)
        if sym == 0x00:  # EOB
            break
        if sym == 0xF0:  # ZRL
            i += 16
            continue
        run, size = sym >> 4, sym & 0x0F
        i += run
        if i > 63:
            raise JpegFormatError("AC run overflow")
        zz[i] = _extend(reader.bits(size), size)
        i += 1
    return zz, dc


def _fdct_quant(block: list[int], qt_zz: list[int]) -> list[int]:
    """Level-shifted 8x8 spatial block -> quantized zigzag coefficients."""
    spatial = np.asarray(block, dtype=np.float64).reshape(8, 8)
    coef = 0.25 * (_M @ spatial @ _M.T)
    zz = coef.ravel()[_ZIGZAG_NP] / np.asarray(qt_zz, dtype=np.float64)
    # np.rint rounds half-to-even, same as the round() this replaced.
    return np.rint(zz).astype(np.int64).tolist()


def _dequant_idct(zz_coefs: list[int], qt_zz: list[int]) -> list[int]:
    """Quantized zigzag coefficients -> spatial 8x8 block (pre level
    shift)."""
    F = np.zeros(64)
    F[_ZIGZAG_NP] = np.asarray(zz_coefs, dtype=np.float64) * np.asarray(
        qt_zz, dtype=np.float64
    )
    spatial = 0.25 * (_M.T @ F.reshape(8, 8) @ _M)
    return np.rint(spatial).astype(np.int64).ravel().tolist()


def encode_baseline_gray(
    pixels: list[int],
    width: int,
    height: int,
    qt_zz: list[int] | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Encode an 8-bit grayscale image (row-major ``pixels``) as a REAL
    baseline sequential JPEG: fDCT + quantization + Annex K Huffman
    entropy coding. Edge-replication pads to 8x8 blocks.
    ``restart_interval`` > 0 emits a DRI segment and RSTn markers every N
    MCUs (camera/libjpeg-style streams)."""
    qt = list(qt_zz or STD_QT_ZZ)
    dc_codes = _canonical_codes(DC_COUNTS, DC_SYMBOLS)
    ac_codes = _canonical_codes(AC_COUNTS, AC_SYMBOLS)
    bw = 8 * ((width + 7) // 8)
    bh = 8 * ((height + 7) // 8)
    w = _BitWriter()
    prev_dc = 0
    mcu = 0
    rst = 0
    for by in range(0, bh, 8):
        for bx in range(0, bw, 8):
            if restart_interval and mcu and mcu % restart_interval == 0:
                w.restart(rst)
                rst = (rst + 1) % 8
                prev_dc = 0
            block = []
            for y in range(8):
                sy = min(by + y, height - 1)
                for x in range(8):
                    sx = min(bx + x, width - 1)
                    block.append(pixels[sy * width + sx] - 128)
            prev_dc = _write_coef_block(
                w, _fdct_quant(block, qt), dc_codes, ac_codes, prev_dc
            )
            mcu += 1
    scan = w.flush()

    dqt = bytes((0x00,)) + bytes(qt)
    sof = struct.pack(">BHHB", 8, height, width, 1) + bytes((1, 0x11, 0x00))
    dht_dc = bytes((0x00, *DC_COUNTS)) + bytes(DC_SYMBOLS)
    dht_ac = bytes((0x10, *AC_COUNTS)) + bytes(AC_SYMBOLS)
    sos = bytes((1, 1, 0x00, 0, 63, 0))
    dri = (
        _segment(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return (
        JPEG_SOI
        + _segment(0xDB, dqt)
        + dri
        + _segment(0xC0, sof)
        + _segment(0xC4, dht_dc)
        + _segment(0xC4, dht_ac)
        + _segment(0xDA, sos)
        + scan
        + b"\xff\xd9"
    )


def _parse_dht(data: bytes, tables: dict) -> None:
    pos = 0
    while pos < len(data):
        tc_th = data[pos]
        counts = list(data[pos + 1 : pos + 17])
        n = sum(counts)
        symbols = list(data[pos + 17 : pos + 17 + n])
        # decoder lookup: (length, code) -> symbol
        lut = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                lut[(length, code)] = symbols[k]
                code += 1
                k += 1
            code <<= 1
        tables[tc_th] = lut
        pos += 17 + n


def decode_baseline_gray(blob: bytes) -> tuple[int, int, list[int]]:
    """Decode a baseline sequential GRAYSCALE JPEG to (width, height,
    row-major 8-bit pixels). Multi-component or progressive streams raise
    JpegFormatError (that subset stays behind DECODERS_AVAILABLE)."""
    if blob[:2] != JPEG_SOI:
        raise JpegFormatError("bad JPEG SOI")
    pos = 2
    qtables: dict[int, list[int]] = {}
    htables: dict[int, dict] = {}
    width = height = None
    scan_start = None
    dc_tbl = ac_tbl = None
    comp_qt = 0
    restart_interval = 0
    while pos + 4 <= len(blob):
        if blob[pos] != 0xFF:
            raise JpegFormatError(f"expected marker at {pos}")
        marker = blob[pos + 1]
        (length,) = struct.unpack(">H", blob[pos + 2 : pos + 4])
        data = blob[pos + 4 : pos + 2 + length]
        if marker == 0xDB:
            p = 0
            while p < len(data):
                pq_tq = data[p]
                if pq_tq >> 4:
                    raise JpegFormatError("16-bit quant tables unsupported")
                qtables[pq_tq & 0x0F] = list(data[p + 1 : p + 65])
                p += 65
        elif marker == 0xC0 or marker == 0xC1:
            precision, height, width, n_comp = struct.unpack(">BHHB", data[:6])
            if precision != 8 or n_comp != 1:
                raise JpegFormatError(
                    "only 8-bit grayscale baseline supported"
                )
            comp_qt = data[8]
        elif marker in (0xC2, 0xC6, 0xCA, 0xCE):
            raise JpegFormatError("progressive JPEG unsupported")
        elif marker == 0xC4:
            _parse_dht(data, htables)
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack(">H", data[:2])
        elif marker == 0xDA:
            dc_tbl = htables.get(data[2] >> 4)
            ac_tbl = htables.get(0x10 | (data[2] & 0x0F))
            scan_start = pos + 2 + length
            break
        pos += 2 + length
    if width is None or scan_start is None:
        raise JpegFormatError("missing SOF/SOS")
    if dc_tbl is None or ac_tbl is None:
        raise JpegFormatError("missing Huffman tables")
    qt = qtables.get(comp_qt)
    if qt is None:
        raise JpegFormatError("missing quant table")

    end = blob.rfind(b"\xff\xd9")
    reader = _BitReader(blob[scan_start : end if end > 0 else len(blob)])

    bw = 8 * ((width + 7) // 8)
    bh = 8 * ((height + 7) // 8)
    pixels = [0] * (width * height)
    prev_dc = 0
    mcu = 0
    for by in range(0, bh, 8):
        for bx in range(0, bw, 8):
            if restart_interval and mcu and mcu % restart_interval == 0:
                reader.restart()
                prev_dc = 0
            mcu += 1
            zz, prev_dc = _read_coef_block(reader, dc_tbl, ac_tbl, prev_dc)
            block = _dequant_idct(zz, qt)
            for y in range(8):
                sy = by + y
                if sy >= height:
                    break
                for x in range(8):
                    sx = bx + x
                    if sx >= width:
                        continue
                    v = block[y * 8 + x] + 128
                    pixels[sy * width + sx] = 0 if v < 0 else (255 if v > 255 else v)
    return width, height, pixels


# --- baseline color (4:4:4 YCbCr) -------------------------------------------

def _rgb_to_ycbcr(r: int, g: int, b: int) -> tuple[int, int, int]:
    """JFIF color transform (floats, rounded, clamped)."""
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128

    def clamp(v: float) -> int:
        i = int(round(v))
        return 0 if i < 0 else (255 if i > 255 else i)

    return clamp(y), clamp(cb), clamp(cr)


def _planes_to_rgb(
    planes: dict,
    plane_w: dict,
    factors: dict,
    ordered: list[int],
    width: int,
    height: int,
    hmax: int,
    vmax: int,
) -> list[tuple[int, int, int]]:
    """Upsample the Y/Cb/Cr component planes to full resolution (nearest
    sample, the x*h//hmax index map) and apply the inverse JFIF transform
    — vectorized. np.rint rounds half-to-even exactly like the scalar
    ``int(round())`` in :func:`_ycbcr_to_rgb`, and the per-element float
    expressions are identical, so this is bit-equal to the former
    per-pixel loop."""
    full = []
    for cid in ordered:
        h_i, v_i = factors[cid]
        pw = plane_w[cid]
        arr = np.asarray(planes[cid], dtype=np.float64)
        xs = (np.arange(width) * h_i) // hmax
        ys = (np.arange(height) * v_i) // vmax
        full.append(arr[ys[:, None] * pw + xs[None, :]])
    y, cb, cr = full
    r = y + 1.402 * (cr - 128)
    g = y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)
    b = y + 1.772 * (cb - 128)
    out = np.clip(np.rint(np.stack([r, g, b], axis=-1)), 0, 255)
    return [tuple(px) for px in out.astype(np.int64).reshape(-1, 3).tolist()]


def _ycbcr_to_rgb(y: int, cb: int, cr: int) -> tuple[int, int, int]:
    r = y + 1.402 * (cr - 128)
    g = y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)
    b = y + 1.772 * (cb - 128)

    def clamp(v: float) -> int:
        i = int(round(v))
        return 0 if i < 0 else (255 if i > 255 else i)

    return clamp(r), clamp(g), clamp(b)


def encode_baseline_color(
    rgb: list[tuple[int, int, int]],
    width: int,
    height: int,
    qt_zz: list[int] | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Encode an RGB image as baseline 4:4:4 YCbCr JPEG (one 8×8 block per
    component per MCU, interleaved Y Cb Cr; the luminance example tables
    serve all three components — legal and simplest)."""
    qt = list(qt_zz or STD_QT_ZZ)
    dc_codes = _canonical_codes(DC_COUNTS, DC_SYMBOLS)
    ac_codes = _canonical_codes(AC_COUNTS, AC_SYMBOLS)
    planes = [[], [], []]
    for (r, g, b) in rgb:
        y, cb, cr = _rgb_to_ycbcr(r, g, b)
        planes[0].append(y)
        planes[1].append(cb)
        planes[2].append(cr)
    bw = 8 * ((width + 7) // 8)
    bh = 8 * ((height + 7) // 8)
    w = _BitWriter()
    prev_dc = [0, 0, 0]

    def encode_block(plane: list[int], bx: int, by: int, comp: int) -> None:
        block = []
        for yy in range(8):
            sy = min(by + yy, height - 1)
            for xx in range(8):
                sx = min(bx + xx, width - 1)
                block.append(plane[sy * width + sx] - 128)
        prev_dc[comp] = _write_coef_block(
            w, _fdct_quant(block, qt), dc_codes, ac_codes, prev_dc[comp]
        )

    mcu = 0
    rst = 0
    for by in range(0, bh, 8):
        for bx in range(0, bw, 8):
            if restart_interval and mcu and mcu % restart_interval == 0:
                w.restart(rst)
                rst = (rst + 1) % 8
                prev_dc[0] = prev_dc[1] = prev_dc[2] = 0
            mcu += 1
            for comp in range(3):
                encode_block(planes[comp], bx, by, comp)
    scan = w.flush()

    dqt = bytes((0x00,)) + bytes(qt)
    sof = struct.pack(">BHHB", 8, height, width, 3)
    for cid in (1, 2, 3):
        sof += bytes((cid, 0x11, 0x00))  # 4:4:4, shared quant table
    dht_dc = bytes((0x00, *DC_COUNTS)) + bytes(DC_SYMBOLS)
    dht_ac = bytes((0x10, *AC_COUNTS)) + bytes(AC_SYMBOLS)
    sos = bytes((3,)) + bytes((1, 0x00, 2, 0x00, 3, 0x00)) + bytes((0, 63, 0))
    dri = (
        _segment(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return (
        JPEG_SOI
        + _segment(0xDB, dqt)
        + dri
        + _segment(0xC0, sof)
        + _segment(0xC4, dht_dc)
        + _segment(0xC4, dht_ac)
        + _segment(0xDA, sos)
        + scan
        + b"\xff\xd9"
    )


def decode_baseline_color(blob: bytes) -> tuple[int, int, list[tuple[int, int, int]]]:
    """Decode a baseline YCbCr JPEG to (width, height, RGB tuples).

    Handles sampling factors 1 or 2 per axis — i.e. 4:4:4, 4:2:2 and
    4:2:0 (the overwhelmingly common web layout: Y at 2×2, chroma at
    1×1 per 16×16 MCU, upsampled here by replication). Larger factors
    and progressive streams raise JpegFormatError — those stay behind
    DECODERS_AVAILABLE."""
    if blob[:2] != JPEG_SOI:
        raise JpegFormatError("bad JPEG SOI")
    pos = 2
    qtables: dict[int, list[int]] = {}
    htables: dict[int, dict] = {}
    width = height = None
    comps = []  # (comp_id, qt_id)
    scan_sel: dict[int, tuple[int, int]] = {}
    scan_order: list[int] = []
    scan_start = None
    restart_interval = 0
    while pos + 4 <= len(blob):
        if blob[pos] != 0xFF:
            raise JpegFormatError(f"expected marker at {pos}")
        marker = blob[pos + 1]
        (length,) = struct.unpack(">H", blob[pos + 2 : pos + 4])
        data = blob[pos + 4 : pos + 2 + length]
        if marker == 0xDB:
            p = 0
            while p < len(data):
                pq_tq = data[p]
                if pq_tq >> 4:
                    raise JpegFormatError("16-bit quant tables unsupported")
                qtables[pq_tq & 0x0F] = list(data[p + 1 : p + 65])
                p += 65
        elif marker in (0xC0, 0xC1):
            precision, height, width, n_comp = struct.unpack(">BHHB", data[:6])
            if precision != 8 or n_comp != 3:
                raise JpegFormatError("decode_baseline_color needs 3 components")
            for c in range(3):
                cid, hv, tq = data[6 + 3 * c : 9 + 3 * c]
                h_i, v_i = hv >> 4, hv & 0x0F
                if not (1 <= h_i <= 2 and 1 <= v_i <= 2):
                    raise JpegFormatError(
                        f"sampling factor {h_i}x{v_i} unsupported"
                    )
                comps.append((cid, tq, h_i, v_i))
        elif marker in (0xC2, 0xC6, 0xCA, 0xCE):
            raise JpegFormatError("progressive JPEG unsupported")
        elif marker == 0xC4:
            _parse_dht(data, htables)
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack(">H", data[:2])
        elif marker == 0xDA:
            ns = data[0]
            for c in range(ns):
                cid, tsel = data[1 + 2 * c : 3 + 2 * c]
                scan_sel[cid] = (tsel >> 4, tsel & 0x0F)
                scan_order.append(cid)
            scan_start = pos + 2 + length
            break
        pos += 2 + length
    if width is None or scan_start is None or len(comps) != 3:
        raise JpegFormatError("missing SOF/SOS")

    end = blob.rfind(b"\xff\xd9")
    reader = _BitReader(blob[scan_start : end if end > 0 else len(blob)])

    hmax = max(h for _, _, h, _ in comps)
    vmax = max(v for _, _, _, v in comps)
    mcus_x = (width + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (height + 8 * vmax - 1) // (8 * vmax)
    # per-component padded plane (full MCU grid at that component's
    # resolution); sampled with clamp when converting to RGB
    plane_w = {cid: mcus_x * 8 * h for cid, _, h, _ in comps}
    plane_h = {cid: mcus_y * 8 * v for cid, _, _, v in comps}
    planes = {cid: [0] * (plane_w[cid] * plane_h[cid]) for cid, *_ in comps}
    prev_dc = {cid: 0 for cid, *_ in comps}
    qt_of = {cid: qtables[tq] for cid, tq, _, _ in comps}
    factors = {cid: (h, v) for cid, _, h, v in comps}
    mcu = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu and mcu % restart_interval == 0:
                reader.restart()
                for cid in prev_dc:
                    prev_dc[cid] = 0
            mcu += 1
            for cid in scan_order:
                h_i, v_i = factors[cid]
                dc_tbl = htables.get(scan_sel[cid][0])
                ac_tbl = htables.get(0x10 | scan_sel[cid][1])
                if dc_tbl is None or ac_tbl is None:
                    raise JpegFormatError("missing Huffman tables")
                for v_blk in range(v_i):
                    for h_blk in range(h_i):
                        zz, prev_dc[cid] = _read_coef_block(
                            reader, dc_tbl, ac_tbl, prev_dc[cid]
                        )
                        block = _dequant_idct(zz, qt_of[cid])
                        plane = planes[cid]
                        pw = plane_w[cid]
                        ox = (mx * h_i + h_blk) * 8
                        oy = (my * v_i + v_blk) * 8
                        for yy in range(8):
                            row = (oy + yy) * pw + ox
                            for xx in range(8):
                                v = block[yy * 8 + xx] + 128
                                plane[row + xx] = (
                                    0 if v < 0 else (255 if v > 255 else v)
                                )
    ordered = [cid for cid, *_ in comps]
    rgb = _planes_to_rgb(
        planes, plane_w, factors, ordered, width, height, hmax, vmax
    )
    return width, height, rgb


def encode_baseline_420(
    rgb: list[tuple[int, int, int]],
    width: int,
    height: int,
    qt_zz: list[int] | None = None,
) -> bytes:
    """Encode RGB as baseline 4:2:0 YCbCr JPEG — Y at full resolution
    (2×2 blocks per MCU), chroma downsampled 2× per axis by 2×2 mean
    (1 block per MCU each). This is the common web/camera layout; the
    matching decoder path is decode_baseline_color's sampling-factor MCU
    loop."""
    qt = list(qt_zz or STD_QT_ZZ)
    dc_codes = _canonical_codes(DC_COUNTS, DC_SYMBOLS)
    ac_codes = _canonical_codes(AC_COUNTS, AC_SYMBOLS)

    yp, cbp, crp = [], [], []
    for (r, g, b) in rgb:
        y, cb, cr = _rgb_to_ycbcr(r, g, b)
        yp.append(y)
        cbp.append(cb)
        crp.append(cr)
    cw = (width + 1) // 2
    ch = (height + 1) // 2
    cb_half = [0] * (cw * ch)
    cr_half = [0] * (cw * ch)
    for cy in range(ch):
        for cx in range(cw):
            acc_b = acc_r = n = 0
            for dy in range(2):
                sy = 2 * cy + dy
                if sy >= height:
                    continue
                for dx in range(2):
                    sx = 2 * cx + dx
                    if sx >= width:
                        continue
                    acc_b += cbp[sy * width + sx]
                    acc_r += crp[sy * width + sx]
                    n += 1
            cb_half[cy * cw + cx] = int(round(acc_b / n))
            cr_half[cy * cw + cx] = int(round(acc_r / n))

    w = _BitWriter()
    prev_dc = [0, 0, 0]

    def encode_block(plane, pw, ph, bx, by, comp):
        block = []
        for yy in range(8):
            sy = min(by + yy, ph - 1)
            for xx in range(8):
                sx = min(bx + xx, pw - 1)
                block.append(plane[sy * pw + sx] - 128)
        prev_dc[comp] = _write_coef_block(
            w, _fdct_quant(block, qt), dc_codes, ac_codes, prev_dc[comp]
        )

    mcus_x = (width + 15) // 16
    mcus_y = (height + 15) // 16
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for v_blk in range(2):
                for h_blk in range(2):
                    encode_block(
                        yp, width, height,
                        (mx * 2 + h_blk) * 8, (my * 2 + v_blk) * 8, 0,
                    )
            encode_block(cb_half, cw, ch, mx * 8, my * 8, 1)
            encode_block(cr_half, cw, ch, mx * 8, my * 8, 2)
    scan = w.flush()

    dqt = bytes((0x00,)) + bytes(qt)
    sof = struct.pack(">BHHB", 8, height, width, 3)
    sof += bytes((1, 0x22, 0x00))  # Y 2x2
    sof += bytes((2, 0x11, 0x00))  # Cb 1x1
    sof += bytes((3, 0x11, 0x00))  # Cr 1x1
    dht_dc = bytes((0x00, *DC_COUNTS)) + bytes(DC_SYMBOLS)
    dht_ac = bytes((0x10, *AC_COUNTS)) + bytes(AC_SYMBOLS)
    sos = bytes((3,)) + bytes((1, 0x00, 2, 0x00, 3, 0x00)) + bytes((0, 63, 0))
    return (
        JPEG_SOI
        + _segment(0xDB, dqt)
        + _segment(0xC0, sof)
        + _segment(0xC4, dht_dc)
        + _segment(0xC4, dht_ac)
        + _segment(0xDA, sos)
        + scan
        + b"\xff\xd9"
    )


# --- progressive (SOF2) grayscale ------------------------------------------
#
# T.81 Annex G: DC/AC spectral-selection scans with successive
# approximation. DC uses an arithmetic shift point transform; AC truncates
# toward zero. AC first scans carry EOB runs (EOBRUN); AC refinement
# scans interleave newly-nonzero symbols with correction bits for
# coefficients that already have history.


def _trunc_div2(v: int) -> int:
    """AC point transform for Al=1: divide by 2 rounding toward zero."""
    return -((-v) >> 1) if v < 0 else v >> 1


# Progressive AC scans need EOBn symbols (r<<4 for r=1..14), which the
# baseline Annex K table does not define. Fixtures use this flat 9-bit
# table instead: every needed symbol at code length 9 — canonical,
# prefix-free, deliberately simple (compression is irrelevant for
# fixtures; the DECODER reads whatever DHT the stream carries).
PROG_AC_SYMBOLS = (
    [r << 4 for r in range(15)]
    + [0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 9)]
)
PROG_AC_COUNTS = [0] * 16
PROG_AC_COUNTS[8] = len(PROG_AC_SYMBOLS)  # all codes 9 bits


def _enc_dc_first(
    seq: list[tuple[int, list[int]]], dc_codes: dict, al: int
) -> bytes:
    """DC first scan over (comp_idx, zz) pairs in scan order; per-component
    predictor (arithmetic-shift point transform, T.81 G.1.2.1)."""
    w = _BitWriter()
    prev: dict[int, int] = {}
    for ci, zz in seq:
        v = zz[0] >> al if al else zz[0]
        diff = v - prev.get(ci, 0)
        prev[ci] = v
        t = _category(diff)
        length, code = dc_codes[t]
        w.put(code, length)
        if t:
            w.put(diff if diff >= 0 else diff + (1 << t) - 1, t)
    return w.flush()


def _enc_dc_refine(seq: list[tuple[int, list[int]]], al: int) -> bytes:
    w = _BitWriter()
    for _ci, zz in seq:
        w.put((zz[0] >> al) & 1, 1)
    return w.flush()


def _enc_ac_first(
    blocks: list[list[int]], ac_codes: dict, ss: int, se: int, al: int
) -> bytes:
    """AC first scan for ONE component's blocks with EOB runs (G.1.2.2)."""
    w = _BitWriter()
    eobrun = 0

    def flush_eob():
        nonlocal eobrun
        while eobrun > 0:
            r = min(14, eobrun.bit_length() - 1)
            take = min(eobrun, (2 << r) - 1)
            r = take.bit_length() - 1
            length, code = ac_codes[r << 4]
            w.put(code, length)
            if r:
                w.put(take - (1 << r), r)
            eobrun -= take

    for zz in blocks:
        band = [_trunc_div2(zz[k]) if al else zz[k] for k in range(ss, se + 1)]
        last_nz = -1
        for i, v in enumerate(band):
            if v:
                last_nz = i
        if last_nz < 0:
            eobrun += 1
            continue
        flush_eob()
        run = 0
        for i in range(last_nz + 1):
            v = band[i]
            if v == 0:
                run += 1
                continue
            while run > 15:
                length, code = ac_codes[0xF0]
                w.put(code, length)
                run -= 16
            size = _category(v)
            length, code = ac_codes[(run << 4) | size]
            w.put(code, length)
            w.put(v if v >= 0 else v + (1 << size) - 1, size)
            run = 0
        if last_nz < se - ss:
            eobrun += 1
    flush_eob()
    return w.flush()


def _enc_ac_refine(
    blocks: list[list[int]], ac_codes: dict, ss: int, se: int, al: int
) -> bytes:
    """AC refinement scan for ONE component (correction bits +
    newly-nonzero insertion, G.1.2.3). ``al`` is the NEW point transform;
    the prior scan used al+1."""
    w = _BitWriter()
    eobrun = 0
    pending: list[int] = []  # correction bits owed after next symbol

    def flush_eob():
        nonlocal eobrun, pending
        while eobrun > 0:
            r = min(14, eobrun.bit_length() - 1)
            take = min(eobrun, (2 << r) - 1)
            r = take.bit_length() - 1
            length, code = ac_codes[r << 4]
            w.put(code, length)
            if r:
                w.put(take - (1 << r), r)
            for b in pending:
                w.put(b, 1)
            pending = []
            eobrun -= take

    for zz in blocks:
        hist = [_trunc_div2(zz[k]) for k in range(ss, se + 1)]
        full = [zz[k] for k in range(ss, se + 1)]
        newly = [i for i, (h, f) in enumerate(zip(hist, full)) if h == 0 and f != 0]
        if not newly:
            # only corrections (or nothing): EOB immediately with the
            # block's correction bits for nonzero-history coefficients
            corr = []
            for h, f in zip(hist, full):
                if h != 0:
                    corr.append(abs(f) & 1)
            if corr:
                flush_eob()
                length, code = ac_codes[0x00]
                w.put(code, length)
                for b in corr:
                    w.put(b, 1)
            else:
                eobrun += 1
            continue
        flush_eob()
        i = 0
        last_new = newly[-1]
        while i <= last_new:
            run = 0
            corr: list[int] = []
            while True:
                h, f = hist[i], full[i]
                if h == 0 and f != 0:
                    break
                if h != 0:
                    corr.append(abs(f) & 1)
                else:
                    run += 1
                    if run == 16:
                        length, code = ac_codes[0xF0]
                        w.put(code, length)
                        for b in corr:
                            w.put(b, 1)
                        corr = []
                        run = 0
                i += 1
            # newly-nonzero coefficient: magnitude must be 1 at this Al
            length, code = ac_codes[(run << 4) | 1]
            w.put(code, length)
            w.put(1 if full[i] > 0 else 0, 1)
            for b in corr:
                w.put(b, 1)
            i += 1
        tail_corr = [abs(full[j]) & 1 for j in range(i, len(full)) if hist[j] != 0]
        if any(full[j] == 0 == hist[j] for j in range(i, len(full))) or tail_corr:
            length, code = ac_codes[0x00]
            w.put(code, length)
            for b in tail_corr:
                w.put(b, 1)
    flush_eob()
    return w.flush()


def encode_progressive_gray(
    pixels: list[int], width: int, height: int, qt_zz: list[int] | None = None
) -> bytes:
    """Encode a REAL progressive (SOF2) grayscale JPEG exercising every
    scan type the standard defines: DC first (Al=1), DC refinement, AC
    first with successive approximation (Al=1, EOB runs across blocks),
    and AC refinement (correction bits + newly-nonzero insertion).
    Fixture twin of :func:`decode_progressive_gray`."""
    qt = list(qt_zz or STD_QT_ZZ)
    dc_codes = _canonical_codes(DC_COUNTS, DC_SYMBOLS)
    ac_codes = _canonical_codes(PROG_AC_COUNTS, PROG_AC_SYMBOLS)
    bw = 8 * ((width + 7) // 8)
    bh = 8 * ((height + 7) // 8)
    blocks = []
    for by in range(0, bh, 8):
        for bx in range(0, bw, 8):
            block = []
            for y in range(8):
                sy = min(by + y, height - 1)
                for x in range(8):
                    sx = min(bx + x, width - 1)
                    block.append(pixels[sy * width + sx] - 128)
            blocks.append(_fdct_quant(block, qt))

    seq = [(0, zz) for zz in blocks]

    def sos(ss: int, se: int, ah: int, al: int) -> bytes:
        return _segment(0xDA, bytes((1, 1, 0x00, ss, se, (ah << 4) | al)))

    dqt = bytes((0x00,)) + bytes(qt)
    sof = struct.pack(">BHHB", 8, height, width, 1) + bytes((1, 0x11, 0x00))
    dht_dc = bytes((0x00, *DC_COUNTS)) + bytes(DC_SYMBOLS)
    dht_ac = bytes((0x10, *PROG_AC_COUNTS)) + bytes(PROG_AC_SYMBOLS)
    return (
        JPEG_SOI
        + _segment(0xDB, dqt)
        + _segment(0xC2, sof)
        + _segment(0xC4, dht_dc)
        + _segment(0xC4, dht_ac)
        + sos(0, 0, 0, 1) + _enc_dc_first(seq, dc_codes, 1)
        + sos(0, 0, 1, 0) + _enc_dc_refine(seq, 0)
        + sos(1, 5, 0, 1) + _enc_ac_first(blocks, ac_codes, 1, 5, 1)
        + sos(6, 63, 0, 1) + _enc_ac_first(blocks, ac_codes, 6, 63, 1)
        + sos(1, 5, 1, 0) + _enc_ac_refine(blocks, ac_codes, 1, 5, 0)
        + sos(6, 63, 1, 0) + _enc_ac_refine(blocks, ac_codes, 6, 63, 0)
        + b"\xff\xd9"
    )


# --- progressive scan application (T.81 Annex G), shared by the gray and
# --- color decoders. Each helper applies ONE scan's entropy data to the
# --- accumulated coefficient blocks.

def _prog_dc_first(
    reader: "_BitReader", seq: list[tuple[int, list[int]]],
    dc_tbl_of: dict, al: int,
) -> None:
    """DC first scan over ``seq`` = [(comp_idx, zz_block)] in scan order
    (MCU-interleaved for multi-component scans); one DC predictor and one
    Huffman table (``dc_tbl_of[comp_idx]``) per component."""
    prev: dict[int, int] = {}
    for ci, zz in seq:
        t = _read_symbol(reader, dc_tbl_of[ci])
        diff = _extend(reader.bits(t), t) if t else 0
        prev[ci] = prev.get(ci, 0) + diff
        zz[0] = prev[ci] << al


def _prog_dc_refine(
    reader: "_BitReader", seq: list[tuple[int, list[int]]], al: int
) -> None:
    for _ci, zz in seq:
        if reader.bit():
            zz[0] |= 1 << al


def _prog_ac_first(
    reader: "_BitReader", blocks: list[list[int]], ac_tbl: dict,
    ss: int, se: int, al: int,
) -> None:
    """AC first scan (always single-component per T.81 G.1.1.1.1)."""
    eobrun = 0
    for zz in blocks:
        if eobrun > 0:
            eobrun -= 1
            continue
        k = ss
        while k <= se:
            sym = _read_symbol(reader, ac_tbl)
            r, s = sym >> 4, sym & 0x0F
            if s == 0:
                if r < 15:
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += reader.bits(r)
                    break
                k += 16  # ZRL
                continue
            k += r
            if k > se:
                raise JpegFormatError("AC run overflow")
            zz[k] = _extend(reader.bits(s), s) << al
            k += 1


def _prog_ac_refine(
    reader: "_BitReader", blocks: list[list[int]], ac_tbl: dict,
    ss: int, se: int, al: int,
) -> None:
    p1, m1 = 1 << al, -1 << al
    eobrun = 0

    def refine_nonzero(zz, k):
        if reader.bit():
            if zz[k] > 0 and not (zz[k] & p1):
                zz[k] += p1
            elif zz[k] < 0 and not (zz[k] & p1):
                zz[k] += m1

    for zz in blocks:
        k = ss
        if eobrun > 0:
            # whole block in EOB run: corrections only
            for k2 in range(ss, se + 1):
                if zz[k2]:
                    refine_nonzero(zz, k2)
            eobrun -= 1
            continue
        while k <= se:
            sym = _read_symbol(reader, ac_tbl)
            r, s = sym >> 4, sym & 0x0F
            if s == 0:
                if r < 15:
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += reader.bits(r)
                    # current block: corrections for the rest
                    for k2 in range(k, se + 1):
                        if zz[k2]:
                            refine_nonzero(zz, k2)
                    k = se + 1
                    break
                # ZRL: skip 16 zero-history positions
                zeros = 16
                while k <= se and zeros > 0:
                    if zz[k]:
                        refine_nonzero(zz, k)
                    else:
                        zeros -= 1
                    k += 1
                continue
            if s != 1:
                raise JpegFormatError("bad refinement magnitude")
            newval = p1 if reader.bit() else m1
            zeros = r
            while k <= se:
                if zz[k]:
                    refine_nonzero(zz, k)
                else:
                    if zeros == 0:
                        break
                    zeros -= 1
                k += 1
            if k > se:
                raise JpegFormatError("refinement run overflow")
            zz[k] = newval
            k += 1


def decode_progressive_gray(blob: bytes) -> tuple[int, int, list[int]]:
    """Decode a progressive (SOF2) GRAYSCALE JPEG: accumulate DCT
    coefficients across all scans — DC first/refinement (arithmetic-shift
    point transform), AC first scans with EOB runs, AC refinement scans
    (correction bits + newly-nonzero insertion, T.81 Annex G) — then
    dequantize + IDCT once at the end. Multi-component progressive stays
    behind DECODERS_AVAILABLE."""
    if blob[:2] != JPEG_SOI:
        raise JpegFormatError("bad JPEG SOI")
    pos = 2
    qtables: dict[int, list[int]] = {}
    htables: dict[int, dict] = {}
    width = height = None
    comp_qt = 0
    coefs: list[list[int]] | None = None
    n_blocks = 0

    def read_scan(data: bytes, scan_bytes: bytes) -> int:
        """Apply one scan; returns bytes of entropy data consumed."""
        ss, se, ahal = data[-3], data[-2], data[-1]
        ah, al = ahal >> 4, ahal & 0x0F
        dc_tbl = htables.get(data[2] >> 4)
        ac_tbl = htables.get(0x10 | (data[2] & 0x0F))
        reader = _BitReader(scan_bytes)
        assert coefs is not None
        if ss == 0:  # DC scan (se must be 0)
            if ah == 0:
                if dc_tbl is None:
                    raise JpegFormatError("missing DC Huffman table")
                _prog_dc_first(
                    reader, [(0, zz) for zz in coefs], {0: dc_tbl}, al
                )
            else:
                _prog_dc_refine(reader, [(0, zz) for zz in coefs], al)
        else:
            if ac_tbl is None:
                raise JpegFormatError("missing AC Huffman table")
            if ah == 0:
                _prog_ac_first(reader, coefs, ac_tbl, ss, se, al)
            else:
                _prog_ac_refine(reader, coefs, ac_tbl, ss, se, al)
        # consumed bytes: reader.pos covers full bytes started
        return reader.pos

    while pos + 4 <= len(blob):
        if blob[pos] != 0xFF:
            raise JpegFormatError(f"expected marker at {pos}")
        marker = blob[pos + 1]
        if marker == 0xD9:
            break
        (length,) = struct.unpack(">H", blob[pos + 2 : pos + 4])
        data = blob[pos + 4 : pos + 2 + length]
        if marker == 0xDB:
            p = 0
            while p < len(data):
                pq_tq = data[p]
                if pq_tq >> 4:
                    raise JpegFormatError("16-bit quant tables unsupported")
                qtables[pq_tq & 0x0F] = list(data[p + 1 : p + 65])
                p += 65
        elif marker == 0xC2:
            precision, height, width, n_comp = struct.unpack(">BHHB", data[:6])
            if precision != 8 or n_comp != 1:
                raise JpegFormatError("only 8-bit grayscale progressive supported")
            comp_qt = data[8]
            n_blocks = ((width + 7) // 8) * ((height + 7) // 8)
            coefs = [[0] * 64 for _ in range(n_blocks)]
        elif marker in (0xC0, 0xC1):
            raise JpegFormatError("baseline stream: use decode_baseline_gray")
        elif marker == 0xC4:
            _parse_dht(data, htables)
        elif marker == 0xDA:
            if coefs is None:
                raise JpegFormatError("SOS before SOF2")
            scan_start = pos + 2 + length
            # entropy data runs until the next marker that is not a
            # stuffed byte (FF00) or fill
            end = scan_start
            while end + 1 < len(blob):
                if blob[end] == 0xFF and blob[end + 1] not in (0x00,):
                    if 0xD0 <= blob[end + 1] <= 0xD7:
                        # T.81 allows RSTn inside progressive scans but we
                        # do not decode them — fail loudly instead of
                        # misparsing the marker as a segment header
                        raise JpegFormatError(
                            "restart markers inside progressive scans "
                            "unsupported"
                        )
                    break
                end += 1
            read_scan(data, blob[scan_start:end])
            pos = end
            continue
        pos += 2 + length
    if coefs is None or width is None:
        raise JpegFormatError("missing SOF2/SOS")
    qt = qtables.get(comp_qt)
    if qt is None:
        raise JpegFormatError("missing quant table")

    bw = 8 * ((width + 7) // 8)
    pixels = [0] * (width * height)
    bi = 0
    for by in range(0, 8 * ((height + 7) // 8), 8):
        for bx in range(0, bw, 8):
            block = _dequant_idct(coefs[bi], qt)
            bi += 1
            for y in range(8):
                sy = by + y
                if sy >= height:
                    break
                for x in range(8):
                    sx = bx + x
                    if sx >= width:
                        continue
                    v = block[y * 8 + x] + 128
                    pixels[sy * width + sx] = 0 if v < 0 else (255 if v > 255 else v)
    return width, height, pixels


def encode_progressive_color(
    rgb: list[tuple[int, int, int]],
    width: int,
    height: int,
    qt_zz: list[int] | None = None,
) -> bytes:
    """Encode RGB as a progressive (SOF2) 4:4:4 YCbCr JPEG: interleaved DC
    first + refinement scans (all three components in MCU order with
    per-component predictors), then per-component AC first and AC
    refinement scans — AC progressive scans are single-component by
    T.81 G.1.1.1.1. Fixture twin of :func:`decode_progressive_color`."""
    qt = list(qt_zz or STD_QT_ZZ)
    dc_codes = _canonical_codes(DC_COUNTS, DC_SYMBOLS)
    ac_codes = _canonical_codes(PROG_AC_COUNTS, PROG_AC_SYMBOLS)

    planes: list[list[int]] = [[], [], []]
    for (r, g, b) in rgb:
        y, cb, cr = _rgb_to_ycbcr(r, g, b)
        planes[0].append(y)
        planes[1].append(cb)
        planes[2].append(cr)

    bw = 8 * ((width + 7) // 8)
    bh = 8 * ((height + 7) // 8)
    comp_blocks: list[list[list[int]]] = []
    for plane in planes:
        blocks = []
        for by in range(0, bh, 8):
            for bx in range(0, bw, 8):
                block = []
                for y in range(8):
                    sy = min(by + y, height - 1)
                    for x in range(8):
                        sx = min(bx + x, width - 1)
                        block.append(plane[sy * width + sx] - 128)
                blocks.append(_fdct_quant(block, qt))
        comp_blocks.append(blocks)

    # 4:4:4 interleaved MCU order: one block per component per MCU.
    seq = [
        (c, comp_blocks[c][i])
        for i in range(len(comp_blocks[0]))
        for c in range(3)
    ]

    def sos(comp_ids: list[int], ss: int, se: int, ah: int, al: int) -> bytes:
        body = bytes((len(comp_ids),))
        for cid in comp_ids:
            body += bytes((cid, 0x00))  # DC table 0, AC table 0
        body += bytes((ss, se, (ah << 4) | al))
        return _segment(0xDA, body)

    dqt = bytes((0x00,)) + bytes(qt)
    sof = struct.pack(">BHHB", 8, height, width, 3) + b"".join(
        bytes((cid, 0x11, 0x00)) for cid in (1, 2, 3)
    )
    dht_dc = bytes((0x00, *DC_COUNTS)) + bytes(DC_SYMBOLS)
    dht_ac = bytes((0x10, *PROG_AC_COUNTS)) + bytes(PROG_AC_SYMBOLS)
    out = (
        JPEG_SOI
        + _segment(0xDB, dqt)
        + _segment(0xC2, sof)
        + _segment(0xC4, dht_dc)
        + _segment(0xC4, dht_ac)
        + sos([1, 2, 3], 0, 0, 0, 1) + _enc_dc_first(seq, dc_codes, 1)
        + sos([1, 2, 3], 0, 0, 1, 0) + _enc_dc_refine(seq, 0)
    )
    for c, cid in enumerate((1, 2, 3)):
        out += sos([cid], 1, 63, 0, 1) + _enc_ac_first(
            comp_blocks[c], ac_codes, 1, 63, 1
        )
    for c, cid in enumerate((1, 2, 3)):
        out += sos([cid], 1, 63, 1, 0) + _enc_ac_refine(
            comp_blocks[c], ac_codes, 1, 63, 0
        )
    return out + b"\xff\xd9"


def decode_progressive_color(
    blob: bytes,
) -> tuple[int, int, list[tuple[int, int, int]]]:
    """Decode a progressive (SOF2) 3-component YCbCr JPEG to (width,
    height, row-major RGB): accumulate coefficients across interleaved DC
    scans (MCU order, per-component predictors) and single-component AC
    scans, then dequantize + IDCT once and color-convert with
    clamp-sampled chroma upsampling. Sampling factors 1-2 per axis, like
    the baseline color decoder."""
    if blob[:2] != JPEG_SOI:
        raise JpegFormatError("bad JPEG SOI")
    pos = 2
    qtables: dict[int, list[int]] = {}
    htables: dict[int, dict] = {}
    width = height = None
    comps: list[tuple[int, int, int, int]] = []  # (cid, tq, h, v)
    coefs: dict[int, list[list[int]]] = {}  # cid -> padded-grid blocks
    grid: dict[int, tuple[int, int]] = {}  # cid -> (padded bx, padded by)
    ni_grid: dict[int, tuple[int, int]] = {}  # cid -> non-interleaved dims
    mcus = (0, 0)

    def apply_scan(data: bytes, scan_bytes: bytes) -> None:
        ns = data[0]
        scan_comps = []  # (cid, dc_tbl_id, ac_tbl_id)
        for c in range(ns):
            cid, tsel = data[1 + 2 * c : 3 + 2 * c]
            scan_comps.append((cid, tsel >> 4, tsel & 0x0F))
        ss, se, ahal = data[-3], data[-2], data[-1]
        ah, al = ahal >> 4, ahal & 0x0F
        reader = _BitReader(scan_bytes)
        factors = {cid: (h, v) for cid, _, h, v in comps}

        if ss == 0:  # DC scan
            if ns > 1:  # interleaved: MCU order, h×v blocks per comp
                seq = []
                mcus_x, mcus_y = mcus
                for my in range(mcus_y):
                    for mx in range(mcus_x):
                        for cid, _td, _ta in scan_comps:
                            h_i, v_i = factors[cid]
                            pbx = grid[cid][0]
                            for v_blk in range(v_i):
                                for h_blk in range(h_i):
                                    idx = (my * v_i + v_blk) * pbx + (
                                        mx * h_i + h_blk
                                    )
                                    seq.append((cid, coefs[cid][idx]))
            else:
                cid = scan_comps[0][0]
                nbx, nby = ni_grid[cid]
                pbx = grid[cid][0]
                seq = [
                    (cid, coefs[cid][by * pbx + bx])
                    for by in range(nby)
                    for bx in range(nbx)
                ]
            if ah == 0:
                dc_tbl_of = {}
                for cid, td, _ta in scan_comps:
                    tbl = htables.get(td)
                    if tbl is None:
                        raise JpegFormatError("missing DC Huffman table")
                    dc_tbl_of[cid] = tbl
                _prog_dc_first(reader, seq, dc_tbl_of, al)
            else:
                _prog_dc_refine(reader, seq, al)
            return

        # AC scans are single-component (T.81 G.1.1.1.1); blocks iterate
        # the component's own (non-interleaved) grid inside the padded
        # MCU-grid storage.
        if ns != 1:
            raise JpegFormatError("progressive AC scan must be single-component")
        cid, _td, ta = scan_comps[0]
        ac_tbl = htables.get(0x10 | ta)
        if ac_tbl is None:
            raise JpegFormatError("missing AC Huffman table")
        nbx, nby = ni_grid[cid]
        pbx = grid[cid][0]
        blocks = [
            coefs[cid][by * pbx + bx]
            for by in range(nby)
            for bx in range(nbx)
        ]
        if ah == 0:
            _prog_ac_first(reader, blocks, ac_tbl, ss, se, al)
        else:
            _prog_ac_refine(reader, blocks, ac_tbl, ss, se, al)

    while pos + 4 <= len(blob):
        if blob[pos] != 0xFF:
            raise JpegFormatError(f"expected marker at {pos}")
        marker = blob[pos + 1]
        if marker == 0xD9:
            break
        (length,) = struct.unpack(">H", blob[pos + 2 : pos + 4])
        data = blob[pos + 4 : pos + 2 + length]
        if marker == 0xDB:
            p = 0
            while p < len(data):
                pq_tq = data[p]
                if pq_tq >> 4:
                    raise JpegFormatError("16-bit quant tables unsupported")
                qtables[pq_tq & 0x0F] = list(data[p + 1 : p + 65])
                p += 65
        elif marker == 0xC2:
            precision, height, width, n_comp = struct.unpack(">BHHB", data[:6])
            if precision != 8 or n_comp != 3:
                raise JpegFormatError(
                    "decode_progressive_color needs 3 components"
                )
            for c in range(3):
                cid, hv, tq = data[6 + 3 * c : 9 + 3 * c]
                h_i, v_i = hv >> 4, hv & 0x0F
                if not (1 <= h_i <= 2 and 1 <= v_i <= 2):
                    raise JpegFormatError(
                        f"sampling factor {h_i}x{v_i} unsupported"
                    )
                comps.append((cid, tq, h_i, v_i))
            hmax = max(h for _, _, h, _ in comps)
            vmax = max(v for _, _, _, v in comps)
            mcus = (
                (width + 8 * hmax - 1) // (8 * hmax),
                (height + 8 * vmax - 1) // (8 * vmax),
            )
            for cid, _tq, h_i, v_i in comps:
                pbx, pby = mcus[0] * h_i, mcus[1] * v_i
                grid[cid] = (pbx, pby)
                # non-interleaved dims: ceil over the component's actual
                # sample area (T.81 A.1.1), NOT the padded MCU grid
                cw = (width * h_i + hmax - 1) // hmax
                chh = (height * v_i + vmax - 1) // vmax
                ni_grid[cid] = ((cw + 7) // 8, (chh + 7) // 8)
                coefs[cid] = [[0] * 64 for _ in range(pbx * pby)]
        elif marker in (0xC0, 0xC1):
            raise JpegFormatError("baseline stream: use decode_baseline_color")
        elif marker == 0xC4:
            _parse_dht(data, htables)
        elif marker == 0xDA:
            if not coefs:
                raise JpegFormatError("SOS before SOF2")
            scan_start = pos + 2 + length
            end = scan_start
            while end + 1 < len(blob):
                if blob[end] == 0xFF and blob[end + 1] not in (0x00,):
                    if 0xD0 <= blob[end + 1] <= 0xD7:
                        # T.81 allows RSTn inside progressive scans but we
                        # do not decode them — fail loudly instead of
                        # misparsing the marker as a segment header
                        raise JpegFormatError(
                            "restart markers inside progressive scans "
                            "unsupported"
                        )
                    break
                end += 1
            apply_scan(data, blob[scan_start:end])
            pos = end
            continue
        pos += 2 + length
    if not coefs or width is None:
        raise JpegFormatError("missing SOF2/SOS")

    hmax = max(h for _, _, h, _ in comps)
    vmax = max(v for _, _, _, v in comps)
    plane_px: dict[int, list[int]] = {}
    for cid, tq, h_i, v_i in comps:
        qt = qtables.get(tq)
        if qt is None:
            raise JpegFormatError("missing quant table")
        pbx, pby = grid[cid]
        pw = pbx * 8
        plane = [0] * (pw * pby * 8)
        for bi, zz in enumerate(coefs[cid]):
            block = _dequant_idct(zz, qt)
            ox = (bi % pbx) * 8
            oy = (bi // pbx) * 8
            for yy in range(8):
                row = (oy + yy) * pw + ox
                for xx in range(8):
                    v = block[yy * 8 + xx] + 128
                    plane[row + xx] = 0 if v < 0 else (255 if v > 255 else v)
        plane_px[cid] = plane

    ordered = [cid for cid, *_ in comps]
    factors = {cid: (h, v) for cid, _, h, v in comps}
    rgb = _planes_to_rgb(
        plane_px,
        {cid: grid[cid][0] * 8 for cid in plane_px},
        factors, ordered, width, height, hmax, vmax,
    )
    return width, height, rgb


def decode_gray_auto(blob: bytes) -> tuple[int, int, list[int]]:
    """Dispatch a grayscale JPEG to the baseline or progressive decoder by
    its SOF marker — one entry point for the pixel operator."""
    from appengine_mapreduce_spark.functions.jpeg import decode_jpeg_meta

    if decode_jpeg_meta(blob).progressive:
        return decode_progressive_gray(blob)
    return decode_baseline_gray(blob)


def decode_color_auto(blob: bytes) -> tuple[int, int, list[tuple[int, int, int]]]:
    """Dispatch a 3-component JPEG to the baseline or progressive color
    decoder by its SOF marker."""
    from appengine_mapreduce_spark.functions.jpeg import decode_jpeg_meta

    if decode_jpeg_meta(blob).progressive:
        return decode_progressive_color(blob)
    return decode_baseline_color(blob)
