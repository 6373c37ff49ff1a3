"""Dependency-free JPEG PIXEL codec.

Implements the public ITU-T T.81 / ISO 10918-1 processes for 8-bit
images: entropy decode (canonical Huffman, byte-stuffed bitstream),
dequantization, inverse zigzag, 2-D 8×8 IDCT, level shift — and the
matching encoders used for fixtures (forward DCT + quantization + Huffman
with the Annex K example tables).

ONE decoder reads every supported stream. ``functions/jpeg.iter_segments``
walks the markers (DQT, DHT, DRI, SOF0/1/2, SOS, fill bytes, standalone
markers), and each scan is entropy-decoded into per-component coefficient
blocks, for 1 or 3 components at sampling factors 1–2 per axis:

- a sequential stream (SOF0 baseline / SOF1) is one scan that carries
  every coefficient of every block;
- a progressive stream (SOF2) is the T.81 Annex G scan script: DC
  first/refinement, spectral-selection AC first scans with EOB runs, and
  successive-approximation AC refinement.

Restart intervals (DRI/RSTn) work in both: predictors and EOB runs reset
and the bitstream re-aligns at each marker. The blocks are dequantized
and inverse-transformed once. ``decode_gray`` returns the one
component's plane; ``decode_color`` upsamples Y/Cb/Cr (4:4:4, 4:2:2,
4:2:0) and applies the JFIF colour transform.

Not supported, each raising ``JpegFormatError``: sampling factors above
2, 12-bit samples and 16-bit quantization tables, and the lossless,
hierarchical and arithmetic-coded processes. Each needs its own decode
path and none is produced by the fixture encoders.

The five public encoders are thin calls into one component-generic
writer, ``_encode``.

All table constants below are published in T.81 itself (zigzag order
§A.3.6, example Huffman tables Annex K.3) — public spec, not library code.
"""

from __future__ import annotations

import math
import struct
from functools import partial

import numpy as np

from appengine_mapreduce_spark.functions.jpeg import (
    _SOF_MARKERS,
    JPEG_SOI,
    JpegFormatError,
    _segment,
    iter_segments,
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

_COS = [
    [math.cos((2 * x + 1) * u * math.pi / 16) for u in range(8)]
    for x in range(8)
]
_C = [1 / math.sqrt(2)] + [1.0] * 7

# DCT basis as a matrix: _M[u, x] = C[u] * cos((2x+1)uπ/16). The 2-D
# transforms become 8×8 matmuls over a stack of blocks (IDCT:
# 0.25·Mᵀ·F·M, fDCT: 0.25·M·f·Mᵀ) — numpy BLAS instead of 64×64-term
# Python loops.
_M = np.array([[_C[u] * _COS[x][u] for x in range(8)] for u in range(8)])
_ZIGZAG_NP = np.array(ZIGZAG)


def _canonical_codes(counts: list[int], symbols: list[int]):
    """T.81 §C.2: assign consecutive codes per length -> {symbol: (length,
    code)}."""
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


def _ceil_div(a: int, b: int) -> int:
    return -(-a // b)


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
        """Discard padding bits and consume an RSTn marker (any D0-D7)
        and the fill bytes before it."""
        self.nbits = 0
        self.acc = 0
        data, pos = self.data, self.pos
        while data[pos : pos + 2] == b"\xff\xff":
            pos += 1
        marker = data[pos : pos + 2]
        if len(marker) < 2 or marker[0] != 0xFF or not 0xD0 <= marker[1] <= 0xD7:
            raise JpegFormatError("expected restart marker")
        self.pos = pos + 2


def _category(v: int) -> int:
    return v.bit_length() if v >= 0 else (-v).bit_length()


def _read_symbol(reader: "_BitReader", table: list[dict]) -> int:
    """Walk the canonical code one bit at a time (T.81 §F.2.2.3), probing
    the table's per-length {code: symbol} dicts."""
    code = 0
    bit = reader.bit
    for length in range(1, 17):
        code = (code << 1) | bit()
        sym = table[length].get(code)
        if sym is not None:
            return sym
    raise JpegFormatError("invalid Huffman code")


def _extend(v: int, t: int) -> int:
    """Sign-extend a t-bit magnitude field (T.81 §F.2.2.1 EXTEND)."""
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _trunc_div2(v: int) -> int:
    """AC point transform for Al=1: divide by 2 rounding toward zero."""
    return -((-v) >> 1) if v < 0 else v >> 1


# --- frame geometry, shared by the writer and the decoder ------------------

class _Frame:
    """Block layout of one frame (T.81 A.2): for each component
    ``(cid, h, v, tq)`` in SOF order, its zigzag coefficient blocks on the
    padded MCU grid (``mcus_x·h`` × ``mcus_y·v`` blocks), in raster
    order."""

    def __init__(self, width: int, height: int, comps: list, progressive: bool):
        if width == 0 or height == 0:
            raise JpegFormatError("zero dimension in SOF")
        for _cid, h, v, _tq in comps:
            if not (1 <= h <= 2 and 1 <= v <= 2):
                raise JpegFormatError(f"sampling factor {h}x{v} unsupported")
        self.width, self.height = width, height
        self.comps, self.progressive = comps, progressive
        self.hmax = max(h for _, h, _, _ in comps)
        self.vmax = max(v for _, _, v, _ in comps)
        self.mcus_x = _ceil_div(width, 8 * self.hmax)
        self.mcus_y = _ceil_div(height, 8 * self.vmax)
        self.factors = {cid: (h, v) for cid, h, v, _ in comps}
        self.coefs = {
            cid: [[0] * 64 for _ in range(self.mcus_x * h * self.mcus_y * v)]
            for cid, h, v, _ in comps
        }

    def mcus(self, cids: list[int]) -> list[list[tuple[int, list[int]]]]:
        """A scan's MCUs in coding order, each a list of (cid, block). A
        one-component scan is non-interleaved: one block per MCU over the
        component's own sample area (A.2.2). Otherwise each MCU holds
        h×v blocks of each component in turn (A.2.3)."""
        if len(cids) == 1:
            (cid,) = cids
            h, v = self.factors[cid]
            nbx = _ceil_div(_ceil_div(self.width * h, self.hmax), 8)
            nby = _ceil_div(_ceil_div(self.height * v, self.vmax), 8)
            pbx, blocks = self.mcus_x * h, self.coefs[cid]
            return [
                [(cid, blocks[by * pbx + bx])]
                for by in range(nby)
                for bx in range(nbx)
            ]
        out = []
        for my in range(self.mcus_y):
            for mx in range(self.mcus_x):
                mcu = []
                for cid in cids:
                    h, v = self.factors[cid]
                    pbx, blocks = self.mcus_x * h, self.coefs[cid]
                    for vb in range(v):
                        row = (my * v + vb) * pbx + mx * h
                        mcu += [(cid, blocks[row + hb]) for hb in range(h)]
                out.append(mcu)
        return out


def _intervals(mcus: list, restart_interval: int) -> list[list]:
    """Split a scan's MCUs at its restart markers, each interval's blocks
    flattened to (cid, block) pairs in coding order. DC predictors and
    EOB runs start afresh in every interval."""
    step = restart_interval or len(mcus)
    return [
        [blk for mcu in mcus[i : i + step] for blk in mcu]
        for i in range(0, len(mcus), step)
    ]


# --- scan encoders: each writes ONE restart interval of one scan ----------

def _enc_sequential(
    seq: list[tuple[int, list[int]]], dc_codes: dict, ac_codes: dict
) -> bytes:
    """Sequential scan: each block's DC difference (one predictor per
    component), then its AC run/size symbols with ZRL and EOB."""
    w = _BitWriter()
    prev: dict[int, int] = {}
    for ci, zz in seq:
        diff = zz[0] - prev.get(ci, 0)
        prev[ci] = zz[0]
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
    return w.flush()


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
    seq: list[tuple[int, list[int]]], ac_codes: dict, ss: int, se: int, al: int
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

    for _ci, zz in seq:
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
            if (run << 4) | size not in ac_codes:
                raise ValueError(
                    f"AC coefficient {v} needs {size} bits; the progressive AC "
                    f"table codes at most {max(s & 0x0F for s in ac_codes)}"
                )
            length, code = ac_codes[(run << 4) | size]
            w.put(code, length)
            w.put(v if v >= 0 else v + (1 << size) - 1, size)
            run = 0
        if last_nz < se - ss:
            eobrun += 1
    flush_eob()
    return w.flush()


def _enc_ac_refine(
    seq: list[tuple[int, list[int]]], ac_codes: dict, ss: int, se: int, al: int
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

    for _ci, zz in seq:
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


# --- the one writer --------------------------------------------------------

def _fdct_blocks(
    plane: np.ndarray, pbx: int, pby: int, qt_zz: list[int]
) -> list[list[int]]:
    """Edge-replicate one component's samples to its pbx×pby block grid
    and return every block's quantized zigzag coefficients, in raster
    order."""
    ph, pw = plane.shape
    padded = np.pad(plane, ((0, 8 * pby - ph), (0, 8 * pbx - pw)), mode="edge")
    blocks = (padded.astype(np.float64) - 128).reshape(pby, 8, pbx, 8)
    blocks = blocks.swapaxes(1, 2).reshape(-1, 8, 8)
    coef = 0.25 * (_M @ blocks @ _M.T)
    zz = coef.reshape(-1, 64)[:, _ZIGZAG_NP] / np.asarray(qt_zz, dtype=np.float64)
    # np.rint rounds half-to-even, like Python's round().
    return np.rint(zz).astype(np.int64).tolist()


def _encode(
    planes: list[np.ndarray],
    factors: list[int],
    qt_zz: list[int] | None,
    ac_bands: tuple[tuple[int, int], ...] | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Write a JPEG stream. ``planes`` holds each component's samples at
    its own resolution, the first at full resolution; ``factors`` gives
    each component's SOF sampling byte (H<<4 | V). All components share
    quantization table 0 and Huffman tables 0.

    ``ac_bands`` None writes a baseline stream (SOF0): one interleaved
    sequential scan. Otherwise a progressive stream (SOF2): interleaved
    DC first (Al=1) and DC refinement scans, then an AC first scan
    (Al=1) per band and component, then the same AC refinement scans
    (Al=0). ``restart_interval`` > 0 adds DRI and an RSTn marker every
    that many MCUs of each scan."""
    qt = list(qt_zz or STD_QT_ZZ)
    height, width = planes[0].shape
    comps = [(i + 1, hv >> 4, hv & 0x0F, 0) for i, hv in enumerate(factors)]
    frame = _Frame(width, height, comps, ac_bands is not None)
    for (cid, h, v, _tq), plane in zip(comps, planes):
        frame.coefs[cid] = _fdct_blocks(plane, frame.mcus_x * h, frame.mcus_y * v, qt)

    cids = [c[0] for c in comps]
    dc_codes = _canonical_codes(DC_COUNTS, DC_SYMBOLS)
    ac_counts, ac_symbols = (
        (AC_COUNTS, AC_SYMBOLS) if ac_bands is None
        else (PROG_AC_COUNTS, PROG_AC_SYMBOLS)
    )
    ac_codes = _canonical_codes(ac_counts, ac_symbols)
    if ac_bands is None:
        script = [(cids, 0, 63, 0, 0, partial(
            _enc_sequential, dc_codes=dc_codes, ac_codes=ac_codes))]
    else:
        script = [
            (cids, 0, 0, 0, 1, partial(_enc_dc_first, dc_codes=dc_codes, al=1)),
            (cids, 0, 0, 1, 0, partial(_enc_dc_refine, al=0)),
        ]
        for ah, al, enc in ((0, 1, _enc_ac_first), (1, 0, _enc_ac_refine)):
            for ss, se in ac_bands:
                script += [
                    ([cid], ss, se, ah, al,
                     partial(enc, ac_codes=ac_codes, ss=ss, se=se, al=al))
                    for cid in cids
                ]

    sof = struct.pack(">BHHB", 8, height, width, len(comps)) + bytes(
        b for cid, h, v, tq in comps for b in (cid, (h << 4) | v, tq)
    )
    out = [JPEG_SOI, _segment(0xDB, bytes((0x00, *qt)))]
    if restart_interval:
        out.append(_segment(0xDD, struct.pack(">H", restart_interval)))
    out += [
        _segment(0xC2 if frame.progressive else 0xC0, sof),
        _segment(0xC4, bytes((0x00, *DC_COUNTS, *DC_SYMBOLS))),
        _segment(0xC4, bytes((0x10, *ac_counts, *ac_symbols))),
    ]
    for scan_cids, ss, se, ah, al, enc in script:
        sel = bytes(b for cid in scan_cids for b in (cid, 0x00))
        out.append(_segment(
            0xDA, bytes((len(scan_cids), *sel, ss, se, (ah << 4) | al))
        ))
        for k, seq in enumerate(_intervals(frame.mcus(scan_cids), restart_interval)):
            if k:
                out.append(bytes((0xFF, 0xD0 + (k - 1) % 8)))
            out.append(enc(seq))
    out.append(b"\xff\xd9")
    return b"".join(out)


def _to_ycbcr(
    rgb: list[tuple[int, int, int]], width: int, height: int
) -> list[np.ndarray]:
    """JFIF forward colour transform, rounded half-to-even and clamped:
    the Y, Cb, Cr planes."""
    pixels = np.asarray(rgb, dtype=np.float64).reshape(height, width, 3)
    r, g, b = pixels.transpose(2, 0, 1)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128
    return list(np.clip(np.rint(np.stack([y, cb, cr])), 0, 255).astype(np.int64))


def _halve(plane: np.ndarray) -> np.ndarray:
    """2× downsample per axis: the rounded mean of each 2×2 cell's
    in-image samples."""
    ph, pw = plane.shape
    pad = ((0, ph % 2), (0, pw % 2))

    def cell_sums(a: np.ndarray) -> np.ndarray:
        a = np.pad(a, pad)
        return a.reshape(a.shape[0] // 2, 2, a.shape[1] // 2, 2).sum(axis=(1, 3))

    return np.rint(cell_sums(plane) / cell_sums(np.ones_like(plane))).astype(np.int64)


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
    plane = np.asarray(pixels, dtype=np.int64).reshape(height, width)
    return _encode([plane], [0x11], qt_zz, restart_interval=restart_interval)


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
    return _encode(
        _to_ycbcr(rgb, width, height), [0x11] * 3, qt_zz,
        restart_interval=restart_interval,
    )


def encode_baseline_420(
    rgb: list[tuple[int, int, int]],
    width: int,
    height: int,
    qt_zz: list[int] | None = None,
) -> bytes:
    """Encode RGB as baseline 4:2:0 YCbCr JPEG — Y at full resolution
    (2×2 blocks per MCU), chroma downsampled 2× per axis by 2×2 mean
    (1 block per MCU each). This is the common web/camera layout."""
    y, cb, cr = _to_ycbcr(rgb, width, height)
    return _encode([y, _halve(cb), _halve(cr)], [0x22, 0x11, 0x11], qt_zz)


def encode_progressive_gray(
    pixels: list[int], width: int, height: int, qt_zz: list[int] | None = None
) -> bytes:
    """Encode a REAL progressive (SOF2) grayscale JPEG exercising every
    scan type the standard defines: DC first (Al=1), DC refinement, AC
    first with successive approximation (Al=1, EOB runs across blocks,
    bands 1-5 and 6-63), and AC refinement (correction bits +
    newly-nonzero insertion)."""
    plane = np.asarray(pixels, dtype=np.int64).reshape(height, width)
    return _encode([plane], [0x11], qt_zz, ac_bands=((1, 5), (6, 63)))


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
    T.81 G.1.1.1.1."""
    return _encode(
        _to_ycbcr(rgb, width, height), [0x11] * 3, qt_zz, ac_bands=((1, 63),)
    )


# --- scan decoders: each reads ONE restart interval of one scan into the
# --- frame's coefficient blocks.

def _read_sequential(
    reader: "_BitReader", seq: list[tuple[int, list[int]]],
    dc_of: dict, ac_of: dict,
) -> None:
    """Sequential scan: each block's DC difference, then its AC run/size
    symbols up to EOB (T.81 F.2.2); one DC predictor per component."""
    prev: dict[int, int] = {}
    for ci, zz in seq:
        t = _read_symbol(reader, dc_of[ci])
        prev[ci] = zz[0] = prev.get(ci, 0) + (_extend(reader.bits(t), t) if t else 0)
        ac_tbl = ac_of[ci]
        i = 1
        while i < 64:
            sym = _read_symbol(reader, ac_tbl)
            if sym == 0x00:  # EOB
                break
            if sym == 0xF0:  # ZRL
                i += 16
                continue
            i += sym >> 4
            if i > 63:
                raise JpegFormatError("AC run overflow")
            size = sym & 0x0F
            zz[i] = _extend(reader.bits(size), size)
            i += 1


def _prog_dc_first(
    reader: "_BitReader", seq: list[tuple[int, list[int]]],
    dc_of: dict, al: int,
) -> None:
    """DC first scan over ``seq`` = [(comp_idx, zz_block)] in scan order
    (MCU-interleaved for multi-component scans); one DC predictor and one
    Huffman table (``dc_of[comp_idx]``) per component."""
    prev: dict[int, int] = {}
    for ci, zz in seq:
        t = _read_symbol(reader, dc_of[ci])
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
    reader: "_BitReader", seq: list[tuple[int, list[int]]], ac_tbl: list,
    ss: int, se: int, al: int,
) -> None:
    """AC first scan (always single-component per T.81 G.1.1.1.1)."""
    eobrun = 0
    for _ci, zz in seq:
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
    reader: "_BitReader", seq: list[tuple[int, list[int]]], ac_tbl: list,
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

    for _ci, zz in seq:
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


# --- the one decoder -------------------------------------------------------

def _parse_dht(data: bytes, tables: dict) -> None:
    """DHT segment -> ``tables[Tc<<4 | Th]`` = 17 per-length {code:
    symbol} dicts (index = code length)."""
    pos = 0
    while pos < len(data):
        counts = list(data[pos + 1 : pos + 17])
        n = sum(counts)
        table: list[dict] = [{} for _ in range(17)]
        symbols = list(data[pos + 17 : pos + 17 + n])
        for sym, (length, code) in _canonical_codes(counts, symbols).items():
            table[length][code] = sym
        tables[data[pos]] = table
        pos += 17 + n


def _decode_scan(
    frame: _Frame, data: bytes, htables: dict, restart_interval: int
) -> None:
    """Apply one SOS segment (scan header + entropy-coded data) to the
    frame's coefficient blocks."""
    ns = data[0]
    sel = {data[1 + 2 * i]: data[2 + 2 * i] for i in range(ns)}  # cid -> Td|Ta
    ss, se, ahal = data[1 + 2 * ns : 4 + 2 * ns]
    ah, al = ahal >> 4, ahal & 0x0F
    if any(cid not in frame.factors for cid in sel):
        raise JpegFormatError("scan names a component the frame lacks")

    def tables(ac: bool) -> dict:
        out = {}
        for cid, tdta in sel.items():
            out[cid] = htables.get(0x10 | (tdta & 0x0F) if ac else tdta >> 4)
            if out[cid] is None:
                raise JpegFormatError(f"missing {'AC' if ac else 'DC'} Huffman table")
        return out

    if not frame.progressive:
        read = partial(_read_sequential, dc_of=tables(False), ac_of=tables(True))
    elif ss == 0:
        if se != 0:
            raise JpegFormatError("progressive DC scan carries AC coefficients")
        if ah:
            read = partial(_prog_dc_refine, al=al)
        else:
            read = partial(_prog_dc_first, dc_of=tables(False), al=al)
    else:
        if ns != 1:
            raise JpegFormatError("progressive AC scan must be single-component")
        (ac_tbl,) = tables(True).values()
        read = partial(
            _prog_ac_refine if ah else _prog_ac_first,
            ac_tbl=ac_tbl, ss=ss, se=se, al=al,
        )
    reader = _BitReader(data[4 + 2 * ns :])
    for k, seq in enumerate(_intervals(frame.mcus(list(sel)), restart_interval)):
        if k:
            reader.restart()
        read(reader, seq)


def _decode(blob: bytes, n_components: int) -> tuple[int, int, list[np.ndarray]]:
    """Decode every scan of ``blob`` into coefficient blocks, then
    dequantize + IDCT each component once -> (width, height, one
    full-resolution int plane per component, upsampled by nearest sample:
    the x*h//hmax index map)."""
    qtables: dict[int, list[int]] = {}
    htables: dict[int, list[dict]] = {}
    restart_interval = 0
    frame = None
    scanned = False
    for marker, data in iter_segments(blob):
        if marker == 0xDB:
            for p in range(0, len(data), 65):
                if data[p] >> 4:
                    raise JpegFormatError("16-bit quant tables unsupported")
                qtables[data[p] & 0x0F] = list(data[p + 1 : p + 65])
        elif marker == 0xC4:
            _parse_dht(data, htables)
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack(">H", data[:2])
        elif marker in (0xC0, 0xC1, 0xC2):
            precision, height, width, n = struct.unpack(">BHHB", data[:6])
            if precision != 8:
                raise JpegFormatError(f"{precision}-bit samples unsupported")
            if n != n_components:
                raise JpegFormatError(
                    f"{n}-component stream, expected {n_components}"
                )
            comps = [
                (data[6 + 3 * c], data[7 + 3 * c] >> 4, data[7 + 3 * c] & 0x0F,
                 data[8 + 3 * c])
                for c in range(n)
            ]
            frame = _Frame(width, height, comps, marker == 0xC2)
        elif marker in _SOF_MARKERS:
            raise JpegFormatError(
                f"JPEG process of SOF marker FF{marker:02X} unsupported"
            )
        elif marker == 0xDA:
            if frame is None:
                raise JpegFormatError("SOS before SOF")
            _decode_scan(frame, data, htables, restart_interval)
            scanned = True
    if frame is None or not scanned:
        raise JpegFormatError("missing SOF/SOS")

    planes = []
    for cid, h, v, tq in frame.comps:
        qt = qtables.get(tq)
        if qt is None:
            raise JpegFormatError("missing quant table")
        pbx, pby = frame.mcus_x * h, frame.mcus_y * v
        coef = np.zeros((pbx * pby, 64))
        coef[:, _ZIGZAG_NP] = np.asarray(frame.coefs[cid], dtype=np.float64) * (
            np.asarray(qt, dtype=np.float64)
        )
        spatial = 0.25 * (_M.T @ coef.reshape(-1, 8, 8) @ _M)
        blocks = np.clip(np.rint(spatial).astype(np.int64) + 128, 0, 255)
        plane = blocks.reshape(pby, pbx, 8, 8).swapaxes(1, 2).reshape(8 * pby, 8 * pbx)
        xs = (np.arange(frame.width) * h) // frame.hmax
        ys = (np.arange(frame.height) * v) // frame.vmax
        planes.append(plane[ys[:, None], xs[None, :]])
    return frame.width, frame.height, planes


def decode_gray(blob: bytes) -> tuple[int, int, list[int]]:
    """Decode a grayscale (1-component) JPEG, baseline or progressive, to
    (width, height, row-major 8-bit pixels)."""
    width, height, (y,) = _decode(blob, 1)
    return width, height, y.ravel().tolist()


def decode_color(blob: bytes) -> tuple[int, int, list[tuple[int, int, int]]]:
    """Decode a 3-component YCbCr JPEG, baseline or progressive, to
    (width, height, row-major RGB tuples) through the inverse JFIF
    transform (np.rint rounds half-to-even, like Python's round())."""
    width, height, (y, cb, cr) = _decode(blob, 3)
    r = y + 1.402 * (cr - 128)
    g = y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)
    b = y + 1.772 * (cb - 128)
    out = np.clip(np.rint(np.stack([r, g, b], axis=-1)), 0, 255)
    rgb = out.astype(np.int64).reshape(-1, 3).tolist()
    return width, height, [tuple(px) for px in rgb]
