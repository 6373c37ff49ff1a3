"""Dependency-free audio, video and image container codecs.

Same design as ``functions/png.py`` / ``functions/jpeg.py``: parse the
PUBLIC formats with stdlib ``struct`` only. Every format answers the
routing questions a training-data pipeline asks (sample rate, channel
count, duration, dimensions, track and frame layout); where the codec is
pure arithmetic from a public spec, samples and pixels decode too, and
each decoder has a fixture encoder twin. MP3/AAC samples and H.264/VP9
frames do not decode (see ``operators/multimodal``).

- RIFF family, on one chunk walker (``_riff_chunks``) and one chunk
  writer (``_chunk``):
  - WAV: ``fmt ``/``fact``/``data`` parsed once (``_parse_wav``); PCM,
    G.711 µ-law/A-law and IMA ADPCM (mono and word-interleaved
    multi-channel) samples decode.
  - AVI: one header parse (``_parse_avi``: ``avih``, the ``strl`` list,
    ``movi`` chunks by stream id) feeds the MJPEG, raw DIB and MS-RLE
    video decoders and the PCM audio track; one packer writes them.
  - WebP: dimensions and variant from the VP8/VP8L/VP8X header.
- MP4/ISO BMFF: box walks to ``moov/mvhd`` (v0 and v1) and the
  ``trak`` count, and to the ``stbl`` sample tables (``stts``/``stsz``),
  per ISO/IEC 14496-12.
- MP3 and AAC (ADTS): frame-header walks for rate, channels, duration.
- BMP: 24-bit and 8-bit palette pixels, BI_RGB and BI_RLE8.
- GIF: screen, frame count, and LZW pixel decode with interlacing.
- TIFF: IFD walk for page metadata; uncompressed and PackBits strips.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass
from typing import NamedTuple


class MediaFormatError(ValueError):
    pass


# --- RIFF framing (WAV, AVI, WebP) ------------------------------------------

def _riff_chunks(blob: bytes, start: int, end: int):
    """Yield (fourcc, payload_start, payload_end) for each chunk of
    ``blob[start:end]``; chunks pad to even. A chunk that runs past
    ``end`` is capped to it in a WAVE file, so a cut recording still
    yields the samples it holds, and rejected in every other RIFF form."""
    pos = start
    while pos + 8 <= end:
        tag = blob[pos : pos + 4]
        (size,) = struct.unpack("<I", blob[pos + 4 : pos + 8])
        body = pos + 8
        if body + size > end:
            if blob[8:12] != b"WAVE":
                raise MediaFormatError(f"truncated RIFF chunk {tag!r} at {pos}")
            size = end - body
        yield tag, body, body + size
        pos = body + size + (size & 1)


def _chunk(tag: bytes, *parts: bytes) -> bytes:
    """One RIFF chunk holding ``parts``, padded to even. The first part
    of a LIST or RIFF chunk is its list type."""
    body = b"".join(parts)
    return tag + struct.pack("<I", len(body)) + body + b"\x00" * (len(body) & 1)


# --- WAV (RIFF) -------------------------------------------------------------

@dataclass(frozen=True)
class WavMeta:
    n_channels: int
    sample_rate: int
    bits_per_sample: int
    n_frames: int          # sample frames in the data chunk
    duration_ms: int
    audio_format: int = 1  # 1=PCM, 6=A-law, 7=µ-law (G.711)


def _parse_wav(blob: bytes) -> "tuple[WavMeta, int, int | None, bytes]":
    """Walk a WAV blob's chunks once: (meta, block_align, fact frame
    count or None, the first data chunk's payload). RIFF does not fix
    the chunk order, so ``fact`` may follow ``data``."""
    if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise MediaFormatError("bad RIFF/WAVE signature")
    fmt = payload = fact_frames = samples_per_block = None
    for tag, b, e in _riff_chunks(blob, 12, len(blob)):
        if tag == b"fmt ":
            if e - b < 16:
                raise MediaFormatError("truncated fmt chunk")
            fmt = struct.unpack("<HHIIHH", blob[b : b + 16])
            if fmt[0] == WAVE_FORMAT_IMA_ADPCM and e - b >= 20:
                (samples_per_block,) = struct.unpack("<H", blob[b + 18 : b + 20])
        elif tag == b"fact" and e - b >= 4:
            # dwSampleLength: the TRUE per-channel frame count — the WAV
            # spec's answer to compressed formats whose data-chunk size
            # no longer implies it (block padding, variable rate)
            (fact_frames,) = struct.unpack("<I", blob[b : b + 4])
        elif tag == b"data" and payload is None:
            # the FIRST data chunk, capped by the walk to the bytes
            # present, so a truncated blob reports frames that exist
            payload = blob[b:e]
    if fmt is None or payload is None:
        raise MediaFormatError("missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _byte_rate, block_align, bits = fmt
    if block_align == 0 or sample_rate == 0:
        raise MediaFormatError("zero block_align/sample_rate")
    data_size = len(payload)
    n_frames = data_size // block_align
    if audio_format == WAVE_FORMAT_IMA_ADPCM and samples_per_block:
        # fact-less compressed files: whole blocks at samples_per_block
        # each, PLUS the trailing partial block decode_wav_samples also
        # decodes (headers -> 1 frame, then 2 nibble frames per byte;
        # multi-channel blocks interleave 4-byte words per channel, so
        # the shortest channel — the last — bounds the frame count) —
        # so meta and samples agree for truncated fact-less files too
        n_frames = (data_size // block_align) * samples_per_block
        rem = data_size % block_align
        hdr = 4 * max(1, n_channels)
        if rem >= hdr:
            g, leftover = divmod(rem - hdr, hdr)
            last_ch_bytes = g * 4 + min(
                4, max(0, leftover - 4 * (max(1, n_channels) - 1)))
            n_frames += 1 + 2 * last_ch_bytes
    if audio_format != WAVE_FORMAT_PCM and fact_frames is not None:
        # the fact chunk's dwSampleLength is authoritative, but cap it
        # at what the payload can actually decode: a corrupt fact that
        # OVERSTATES the sample count must not leave meta.n_frames
        # disagreeing with len(samples)
        cap = None
        if audio_format in (WAVE_FORMAT_MULAW, WAVE_FORMAT_ALAW):
            cap = data_size // max(1, n_channels)
        elif audio_format == WAVE_FORMAT_IMA_ADPCM and samples_per_block:
            cap = n_frames  # the payload-derived estimate above
        n_frames = fact_frames if cap is None else min(fact_frames, cap)
    meta = WavMeta(
        n_channels=n_channels,
        sample_rate=sample_rate,
        bits_per_sample=bits,
        n_frames=n_frames,
        duration_ms=n_frames * 1000 // sample_rate,
        audio_format=audio_format,
    )
    return meta, block_align, fact_frames, payload


def decode_wav_meta(blob: bytes) -> WavMeta:
    """Walk the RIFF chunks of a WAV blob; no sample decoding."""
    return _parse_wav(blob)[0]


def _wav_fmt(
    audio_format: int, n_channels: int, sample_rate: int, block_align: int,
    bits: int, samples_per_block: int = 0,
) -> bytes:
    """A WAVEFORMATEX ``fmt `` body. IMA ADPCM (``samples_per_block``
    set) appends cbSize=2 and samplesPerBlock, per the public Microsoft
    WAVE registry entry, and its byte rate counts whole blocks."""
    fmt = struct.pack(
        "<HHIIHH", audio_format, n_channels, sample_rate,
        sample_rate * block_align // max(1, samples_per_block), block_align, bits,
    )
    return fmt + struct.pack("<HH", 2, samples_per_block) if samples_per_block else fmt


def _wav(fmt: bytes, data: bytes, fact_frames: "int | None" = None) -> bytes:
    """RIFF/WAVE holding ``fmt ``, an optional ``fact`` frame count and
    ``data``. Unlike :func:`_chunk`, an odd-length data chunk and the
    RIFF chunk around it get no pad byte: readers tolerate a missing
    final pad, and tests/test_media_golden.py pins these bytes."""
    body = b"WAVE" + _chunk(b"fmt ", fmt)
    if fact_frames is not None:
        body += _chunk(b"fact", struct.pack("<I", fact_frames))
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav(
    n_channels: int = 1,
    sample_rate: int = 16000,
    bits_per_sample: int = 16,
    n_frames: int = 0,
    fill: int = 0,
) -> bytes:
    """Emit a valid PCM WAV blob (silence/constant fill) for fixtures."""
    block_align = n_channels * bits_per_sample // 8
    data = bytes([fill & 0xFF]) * (n_frames * block_align)
    fmt = _wav_fmt(WAVE_FORMAT_PCM, n_channels, sample_rate, block_align, bits_per_sample)
    return _wav(fmt, data)


# --- MP4 / ISO BMFF ---------------------------------------------------------

@dataclass(frozen=True)
class Mp4Meta:
    timescale: int
    duration: int
    duration_ms: int
    n_tracks: int
    major_brand: str


def _iter_boxes(blob: bytes, start: int, end: int):
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", blob[pos : pos + 4])
        tag = blob[pos + 4 : pos + 8]
        if size == 1:  # 64-bit largesize
            (size,) = struct.unpack(">Q", blob[pos + 8 : pos + 16])
            header = 16
        elif size == 0:  # box extends to end of enclosing container
            size = end - pos
            header = 8
        else:
            header = 8
        if size < header or pos + size > end:
            raise MediaFormatError(f"bad box size {size} at {pos}")
        yield tag, pos + header, pos + size
        pos += size


def decode_mp4_meta(blob: bytes) -> Mp4Meta:
    """Box-walk to moov/mvhd (v0/v1) and count trak boxes."""
    major_brand = None
    mvhd = None
    n_tracks = 0
    for tag, body_start, box_end in _iter_boxes(blob, 0, len(blob)):
        if tag == b"ftyp":
            major_brand = blob[body_start : body_start + 4].decode("ascii", "replace")
        elif tag == b"moov":
            for t2, b2, e2 in _iter_boxes(blob, body_start, box_end):
                if t2 == b"mvhd":
                    version = blob[b2]
                    if version == 1:
                        timescale, duration = struct.unpack(
                            ">IQ", blob[b2 + 20 : b2 + 32]
                        )
                    else:
                        timescale, duration = struct.unpack(
                            ">II", blob[b2 + 12 : b2 + 20]
                        )
                    mvhd = (timescale, duration)
                elif t2 == b"trak":
                    n_tracks += 1
    if mvhd is None:
        raise MediaFormatError("missing moov/mvhd box")
    timescale, duration = mvhd
    if timescale == 0:
        raise MediaFormatError("zero timescale")
    return Mp4Meta(
        timescale=timescale,
        duration=duration,
        duration_ms=duration * 1000 // timescale,
        n_tracks=n_tracks,
        major_brand=major_brand or "",
    )


def _box(tag: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body) + 8) + tag + body


def encode_minimal_mp4(
    timescale: int = 1000,
    duration: int = 0,
    n_tracks: int = 1,
    version: int = 0,
    major_brand: bytes = b"isom",
) -> bytes:
    """Emit a structurally valid ftyp+moov(mvhd+trak*) stream for fixtures."""
    if version == 1:
        mvhd_body = bytes((1, 0, 0, 0)) + b"\x00" * 16 + struct.pack(
            ">IQ", timescale, duration
        ) + b"\x00" * 80
    else:
        mvhd_body = bytes((0, 0, 0, 0)) + b"\x00" * 8 + struct.pack(
            ">II", timescale, duration
        ) + b"\x00" * 80
    moov = _box(b"mvhd", mvhd_body)
    for _ in range(n_tracks):
        moov += _box(b"trak", b"")
    return _box(b"ftyp", major_brand + b"\x00\x00\x02\x00isom") + _box(b"moov", moov)


def encode_wav_pcm16(
    samples: "list[int]", n_channels: int = 1, sample_rate: int = 16000
) -> bytes:
    """Emit a valid PCM16 WAV blob from explicit int16 samples (interleaved
    if multi-channel) — the fixture twin of :func:`decode_wav_samples`."""
    import array

    fmt = _wav_fmt(WAVE_FORMAT_PCM, n_channels, sample_rate, 2 * n_channels, 16)
    return _wav(fmt, array.array("h", samples).tobytes())


def decode_wav_samples(blob: bytes) -> "tuple[WavMeta, list[int]]":
    """REAL PCM sample decode (stdlib-only): RIFF walk + int16/uint8 frame
    unpack. PCM is uncompressed, so 'audio decode' needs no codec library
    at all for WAV. Perceptual codecs (MP3/AAC/Opus) do not decode: they
    need ISO tables this project does not ship."""
    import array

    meta, block_align, fact_frames, payload = _parse_wav(blob)
    if meta.audio_format == WAVE_FORMAT_IMA_ADPCM:
        samples = _decode_wav_adpcm_payload(
            payload, block_align, meta.n_channels)
        # the fact chunk's dwSampleLength is the true PER-CHANNEL count
        # — drop the final block's nibble-padding samples (absent fact:
        # keep all, the standard fact-less behavior)
        if fact_frames is not None:
            samples = samples[: fact_frames * meta.n_channels]
        return meta, samples
    if meta.audio_format in (WAVE_FORMAT_MULAW, WAVE_FORMAT_ALAW):
        # honor a fact chunk here too, so meta.n_frames (which prefers
        # fact for non-PCM formats) always agrees with len(samples)
        if fact_frames is not None:
            payload = payload[: fact_frames * max(1, meta.n_channels)]
        expand = (mulaw_expand if meta.audio_format == WAVE_FORMAT_MULAW
                  else alaw_expand)
        return meta, [expand(b) for b in payload]
    if meta.audio_format != WAVE_FORMAT_PCM:
        raise MediaFormatError(
            f"unsupported audio format {meta.audio_format}"
        )
    if meta.bits_per_sample == 16:
        arr = array.array("h")
        arr.frombytes(payload[: len(payload) - (len(payload) % 2)])
        return meta, arr.tolist()
    if meta.bits_per_sample == 8:
        # WAV 8-bit is unsigned, centered at 128
        return meta, [b - 128 for b in payload]
    raise MediaFormatError(f"unsupported bits_per_sample {meta.bits_per_sample}")


# --- G.711 companded audio (µ-law / A-law) ----------------------------------
#
# The telephony codecs (ITU-T G.711): logarithmic 8-bit companding of
# 14/13-bit linear PCM. Pure bit arithmetic — REAL lossy-audio decode
# with no codec library; the formulas below are the public G.711
# segment/mantissa expansion. With these, only PERCEPTUAL codecs
# (MP3/AAC DSP, which need ISO filterbank tables this project does not
# ship) do not decode.

WAVE_FORMAT_PCM = 1
WAVE_FORMAT_ALAW = 6
WAVE_FORMAT_MULAW = 7

_MULAW_BIAS = 0x84   # 132
_MULAW_CLIP = 32635


def mulaw_expand(b: int) -> int:
    """One µ-law byte -> linear int16 (G.711 segment expansion)."""
    u = ~b & 0xFF
    exponent = (u >> 4) & 0x07
    mantissa = u & 0x0F
    magnitude = (((mantissa << 3) + _MULAW_BIAS) << exponent) - _MULAW_BIAS
    return -magnitude if u & 0x80 else magnitude


def mulaw_compress(x: int) -> int:
    """Linear int16 -> one µ-law byte (involution with expand: tested
    over every byte value EXCEPT 0x7F, µ-law negative zero, which
    expands to 0 and re-compresses to positive zero 0xFF — the standard
    G.711 alias; see tests/test_media_codecs.py)."""
    sign = 0x80 if x < 0 else 0
    if x < 0:
        x = -x
    x = min(x, _MULAW_CLIP) + _MULAW_BIAS
    exponent = 7
    mask = 0x4000
    while exponent > 0 and not (x & mask):
        exponent -= 1
        mask >>= 1
    mantissa = (x >> (exponent + 3)) & 0x0F
    return ~(sign | (exponent << 4) | mantissa) & 0xFF


def alaw_expand(b: int) -> int:
    """One A-law byte -> linear int16 (G.711; note A-law's sign bit SET
    means positive, and the stored byte is XORed with 0x55)."""
    a = b ^ 0x55
    exponent = (a >> 4) & 0x07
    mantissa = a & 0x0F
    if exponent == 0:
        magnitude = (mantissa << 4) + 8
    else:
        magnitude = ((mantissa << 4) + 0x108) << (exponent - 1)
    return magnitude if a & 0x80 else -magnitude


def alaw_compress(x: int) -> int:
    """Linear int16 -> one A-law byte."""
    sign = 0x80 if x >= 0 else 0
    if x < 0:
        x = -x - 1  # A-law folds negatives as one's complement
    x = min(x, 0x7FFF)
    if x < 0x100:
        exponent = 0
        mantissa = x >> 4
    else:
        exponent = 1
        while x >= (0x100 << exponent) and exponent < 7:
            exponent += 1
        mantissa = (x >> (exponent + 3)) & 0x0F
    return (sign | (exponent << 4) | mantissa) ^ 0x55


def encode_wav_companded(
    data: bytes, law: str = "mu",
    n_channels: int = 1, sample_rate: int = 8000,
) -> bytes:
    """Fixture encoder: wrap already-companded G.711 bytes in a WAV
    container (format code 7 for µ-law, 6 for A-law; 8 bits/sample) —
    lets an oracle pin the exact byte stream without the compressor."""
    fmt_code = WAVE_FORMAT_MULAW if law == "mu" else WAVE_FORMAT_ALAW
    return _wav(_wav_fmt(fmt_code, n_channels, sample_rate, n_channels, 8), data)


def encode_wav_g711(
    samples: "list[int]", law: str = "mu",
    n_channels: int = 1, sample_rate: int = 8000,
) -> bytes:
    """Fixture encoder: compress linear samples to a G.711 WAV (format
    code 7 for µ-law, 6 for A-law; 8 bits/sample)."""
    comp = mulaw_compress if law == "mu" else alaw_compress
    data = bytes(comp(int(s)) for s in samples)
    return encode_wav_companded(data, law, n_channels, sample_rate)


# --- IMA ADPCM (DVI4; WAV format 0x11) --------------------------------------
#
# PREDICTIVE lossy audio: 4-bit differential coding with an adaptive
# step size — the third codec family after companded (G.711) and
# transform-free lossless (FLAC). Unlike the perceptual codecs, the IMA
# algorithm is fully public arithmetic (the 1992 IMA Digital Audio
# Focus Group spec; also RFC 3551's DVI4) and — decisively for the
# honesty bar — the step/index tables below are CROSS-VALIDATED against
# an INDEPENDENT in-container implementation: CPython's stdlib
# ``audioop`` ships its own copy of IMA ADPCM, so
# tests/test_multimodal.py asserts byte-exact agreement of this decoder
# with ``audioop.adpcm2lin`` over random streams. A transcription error
# in either table cannot pass that test. (MP3/AAC samples do not decode
# for the same reason inverted: their ISO tables have no source here to
# transcribe from or validate against.)

WAVE_FORMAT_IMA_ADPCM = 0x11

_IMA_STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17,
    19, 21, 23, 25, 28, 31, 34, 37, 41, 45,
    50, 55, 60, 66, 73, 80, 88, 97, 107, 118,
    130, 143, 157, 173, 190, 209, 230, 253, 279, 307,
    337, 371, 408, 449, 494, 544, 598, 658, 724, 796,
    876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358,
    5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
    15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
_IMA_INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8)


def ima_adpcm_decode_nibbles(
    nibbles: "list[int]", predictor: int = 0, index: int = 0,
) -> "list[int]":
    """Decode a 4-bit IMA ADPCM nibble stream to linear int16 samples.

    The reconstruction recurrence (diff accumulates step>>3 plus the
    step halvings selected by the nibble's magnitude bits; bit 3 is the
    sign; the step index walks _IMA_INDEX_TABLE clamped to [0, 88]) is
    the published IMA algorithm verbatim — byte-exact vs stdlib
    ``audioop.adpcm2lin``."""
    if not 0 <= index <= 88:
        raise MediaFormatError(f"ADPCM step index {index} out of range")
    out = []
    for n in nibbles:
        step = _IMA_STEP_TABLE[index]
        diff = step >> 3
        if n & 1:
            diff += step >> 2
        if n & 2:
            diff += step >> 1
        if n & 4:
            diff += step
        predictor = predictor - diff if n & 8 else predictor + diff
        predictor = max(-32768, min(32767, predictor))
        index = max(0, min(88, index + _IMA_INDEX_TABLE[n & 7]))
        out.append(predictor)
    return out


def ima_adpcm_encode_nibbles(
    samples: "list[int]", predictor: int = 0, index: int = 0,
) -> "tuple[list[int], int, int]":
    """Encode linear int16 samples to IMA nibbles; returns
    (nibbles, final_predictor, final_index). The encoder tracks the
    DECODER's reconstruction (standard closed-loop DPCM) so error never
    accumulates past one step."""
    nibbles = []
    for s in samples:
        step = _IMA_STEP_TABLE[index]
        delta = int(s) - predictor
        n = 0
        if delta < 0:
            n = 8
            delta = -delta
        if delta >= step:
            n |= 4
            delta -= step
        if delta >= step >> 1:
            n |= 2
            delta -= step >> 1
        if delta >= step >> 2:
            n |= 1
        diff = step >> 3
        if n & 1:
            diff += step >> 2
        if n & 2:
            diff += step >> 1
        if n & 4:
            diff += step
        predictor = predictor - diff if n & 8 else predictor + diff
        predictor = max(-32768, min(32767, predictor))
        index = max(0, min(88, index + _IMA_INDEX_TABLE[n & 7]))
        nibbles.append(n)
    return nibbles, predictor, index


def _ima_block(headers, nibbles, n_nibbles: int) -> bytes:
    """One IMA ADPCM block in the registered WAVE layout: a (first
    sample, step index) header per channel, then each channel's nibbles,
    zero-padded to ``n_nibbles``, packed low nibble first and interleaved
    in 4-byte words (ch0 word, ch1 word, ..., repeat)."""
    packed = []
    for nibs in nibbles:
        nibs = list(nibs) + [0] * (n_nibbles - len(nibs))
        packed.append(bytes(
            (lo & 0x0F) | ((hi & 0x0F) << 4) for lo, hi in zip(nibs[0::2], nibs[1::2])))
    return b"".join(
        [struct.pack("<hBB", first, index, 0) for first, index in headers]
        + [p[w : w + 4] for w in range(0, n_nibbles // 2, 4) for p in packed]
    )


def _ima_encode(channels: "list[list[int]]", samples_per_block: int) -> bytes:
    """Closed-loop encode equal-length channels into IMA ADPCM blocks of
    ``samples_per_block`` frames. Each block header stores the channel's
    first sample VERBATIM plus the running step index (so blocks are
    independently seekable — the format's design point); the rest are
    nibbles, and a short last block zero-pads them."""
    data = bytearray()
    indices = [0] * len(channels)
    for pos in range(0, len(channels[0]), samples_per_block):
        headers, nibbles = [], []
        for ch, samples in enumerate(channels):
            part = samples[pos : pos + samples_per_block]
            headers.append((int(part[0]), indices[ch]))
            nibs, _pred, indices[ch] = ima_adpcm_encode_nibbles(
                part[1:], predictor=int(part[0]), index=indices[ch])
            nibbles.append(nibs)
        data += _ima_block(headers, nibbles, samples_per_block - 1)
    return bytes(data)


def encode_wav_adpcm_nibbles(
    nibbles: "list[int]", predictor: int = 0, index: int = 0,
    sample_rate: int = 8000,
) -> bytes:
    """Fixture encoder: pin an EXACT nibble stream (plus initial block
    header state) inside a one-block mono IMA ADPCM WAV — the analog of
    encode_wav_companded for G.711: the oracle can replay the identical
    stream without running a compressor. Odd nibble counts pad the last
    byte's high nibble with 0; the fact chunk records the TRUE sample
    count (1 + len(nibbles)) so decode drops the padding sample, per
    the WAV spec's compressed-format contract."""
    if not 0 <= index <= 88:
        raise MediaFormatError(f"ADPCM step index {index} out of range")
    block = _ima_block([(predictor, index)], [nibbles], len(nibbles) + len(nibbles) % 2)
    samples_per_block = (len(block) - 4) * 2 + 1
    fmt = _wav_fmt(
        WAVE_FORMAT_IMA_ADPCM, 1, sample_rate, len(block), 4, samples_per_block)
    return _wav(fmt, block, 1 + len(nibbles))


def encode_wav_adpcm(
    samples: "list[int]", sample_rate: int = 8000,
    samples_per_block: int = 505,
) -> bytes:
    """Compress linear int16 samples into a mono multi-block IMA ADPCM
    WAV: each block holds its first sample verbatim, then
    samples_per_block-1 closed-loop-encoded nibbles, low nibble first."""
    if samples_per_block < 2 or samples_per_block % 2 == 0:
        raise MediaFormatError("samples_per_block must be odd and >= 3")
    block_align = 4 + (samples_per_block - 1) // 2
    fmt = _wav_fmt(
        WAVE_FORMAT_IMA_ADPCM, 1, sample_rate, block_align, 4, samples_per_block)
    return _wav(fmt, _ima_encode([samples], samples_per_block), len(samples))


def encode_wav_adpcm_nibbles_multi(
    nibbles: "list[list[int]]",
    predictors: "list[int]",
    indices: "list[int]",
    sample_rate: int = 8000,
) -> bytes:
    """Fixture encoder: pin EXACT per-channel nibble streams (plus each
    channel's initial block-header state) inside a ONE-block
    multi-channel IMA ADPCM WAV — the stereo analog of
    encode_wav_adpcm_nibbles, so an oracle can replay the identical
    per-channel streams without running a compressor. Each channel's
    nibble count must be a multiple of 8 (whole interleave words) and
    equal across channels."""
    n_ch = len(nibbles)
    if n_ch < 1 or len(predictors) != n_ch or len(indices) != n_ch:
        raise MediaFormatError("need matching nibbles/predictors/indices")
    n = len(nibbles[0])
    if any(len(x) != n for x in nibbles) or n % 8 or n == 0:
        raise MediaFormatError(
            "per-channel nibble counts must be equal, nonzero and "
            "multiples of 8 (whole interleave words)")
    for idx in indices:
        if not 0 <= idx <= 88:
            raise MediaFormatError(f"ADPCM step index {idx} out of range")
    block = _ima_block(zip(predictors, indices), nibbles, n)
    fmt = _wav_fmt(WAVE_FORMAT_IMA_ADPCM, n_ch, sample_rate, len(block), 4, 1 + n)
    return _wav(fmt, block, 1 + n)


def encode_wav_adpcm_multi(
    channels: "list[list[int]]", sample_rate: int = 8000,
    samples_per_block: int = 505,
) -> bytes:
    """Compress N channels of linear int16 samples into an interleaved
    multi-channel IMA ADPCM WAV (mono stays on encode_wav_adpcm). Block
    layout per the registered WAVE format: one 4-byte header per channel
    (first sample verbatim + running step index), then the channels'
    closed-loop nibble streams interleaved in 4-byte words.
    samples_per_block must be ≡ 1 (mod 8) so every channel's
    samples_per_block-1 nibbles fill whole words; a short
    final block zero-pads its nibbles and the fact chunk records the
    true per-channel frame count so decode drops the padding."""
    if not channels or not channels[0]:
        raise MediaFormatError("need at least one channel with samples")
    n_ch = len(channels)
    n_frames = len(channels[0])
    if any(len(c) != n_frames for c in channels):
        raise MediaFormatError("channels must be equal length")
    if samples_per_block < 9 or (samples_per_block - 1) % 8:
        raise MediaFormatError(
            "samples_per_block must be 1 mod 8 and >= 9 for "
            "word-interleaved multi-channel blocks")
    block_align = 4 * n_ch * (1 + (samples_per_block - 1) // 8)
    fmt = _wav_fmt(
        WAVE_FORMAT_IMA_ADPCM, n_ch, sample_rate, block_align, 4, samples_per_block)
    return _wav(fmt, _ima_encode(channels, samples_per_block), n_frames)


def _decode_wav_adpcm_payload(
    payload: bytes, block_align: int, n_channels: int = 1,
) -> "list[int]":
    """Block walk for format-0x11 data: each block = one 4-byte header
    PER CHANNEL (int16 first sample, uint8 step index, reserved), then
    the channels' nibble streams interleaved in 4-byte words (ch0 word,
    ch1 word, ..., repeat), low nibble first within each byte — the
    registered WAVE layout. Output frames are interleaved
    (ch0, ch1, ...). A trailing partial block decodes if it has at
    least its headers; within it, each channel decodes the bytes it
    actually received and the block emits only COMPLETE frames (the
    shortest channel bounds it)."""
    if n_channels < 1:
        raise MediaFormatError("ADPCM needs at least one channel")
    hdr = 4 * n_channels
    if block_align < hdr:
        # headers only = one verbatim frame — legal
        raise MediaFormatError("ADPCM block_align too small")
    samples: list[int] = []
    for off in range(0, len(payload), block_align):
        block = payload[off : off + block_align]
        if len(block) < hdr:
            break  # trailing sub-header fragment: no samples to recover
        preds: list[int] = []
        idxs: list[int] = []
        for ch in range(n_channels):
            pred, idx, _res = struct.unpack(
                "<hBB", block[4 * ch : 4 * ch + 4])
            if idx > 88:
                raise MediaFormatError(
                    f"ADPCM step index {idx} out of range")
            preds.append(pred)
            idxs.append(idx)
        samples.extend(preds)
        nibbles: list[list[int]] = [[] for _ in range(n_channels)]
        for p, b in enumerate(block[hdr:]):
            ch = (p // 4) % n_channels
            nibbles[ch].append(b & 0x0F)
            nibbles[ch].append(b >> 4)
        decoded = [
            ima_adpcm_decode_nibbles(nibbles[ch], preds[ch], idxs[ch])
            for ch in range(n_channels)
        ]
        for f in range(min(len(d) for d in decoded)):
            samples.extend(decoded[ch][f] for ch in range(n_channels))
    return samples


# --- MP4 sample tables (stbl: stts/stsz) ------------------------------------

@dataclass(frozen=True)
class Mp4TrackSamples:
    n_samples: int
    total_bytes: int
    max_sample_bytes: int
    duration_units: int  # sum of stts deltas, in the track's timescale


def encode_mp4_with_samples(
    sample_sizes: "list[int]",
    sample_delta: int = 512,
    timescale: int = 90000,
) -> bytes:
    """Emit ftyp+moov(mvhd+trak(mdia(mdhd+minf(stbl(stts+stsz))))) with a
    real sample table: one stts run (n_samples × sample_delta) and
    per-sample sizes in stsz — the frame-level metadata layout every
    ISO-BMFF video carries."""
    n = len(sample_sizes)
    stts = bytes(4) + struct.pack(">I", 1) + struct.pack(
        ">II", n, sample_delta
    ) if n else bytes(4) + struct.pack(">I", 0)
    stsz = bytes(4) + struct.pack(">II", 0, n) + b"".join(
        struct.pack(">I", s) for s in sample_sizes
    )
    stbl = _box(b"stts", stts) + _box(b"stsz", stsz)
    mdhd = bytes((0, 0, 0, 0)) + b"\x00" * 8 + struct.pack(
        ">II", timescale, n * sample_delta
    ) + b"\x00" * 4
    mdia = _box(b"mdhd", mdhd) + _box(b"minf", _box(b"stbl", stbl))
    trak = _box(b"mdia", mdia)
    mvhd_body = bytes((0, 0, 0, 0)) + b"\x00" * 8 + struct.pack(
        ">II", timescale, n * sample_delta
    ) + b"\x00" * 80
    moov = _box(b"mvhd", mvhd_body) + _box(b"trak", trak)
    return _box(b"ftyp", b"isom" + b"\x00\x00\x02\x00isom") + _box(b"moov", moov)


def _stbl_boxes(blob: bytes, start: int, end: int):
    """Yield (start, end) of every stbl box under moov/trak/mdia/minf."""
    for tag, b, e in _iter_boxes(blob, start, end):
        if tag in (b"moov", b"trak", b"mdia", b"minf"):
            yield from _stbl_boxes(blob, b, e)
        elif tag == b"stbl":
            yield b, e


def decode_mp4_track_samples(blob: bytes) -> Mp4TrackSamples:
    """Walk moov→trak→mdia→minf→stbl and decode stts (durations) + stsz
    (sizes) — REAL frame-level container metadata, stdlib-only: frame
    count, byte sizes, and track duration without touching any codec
    (frame PIXELS of these codecs do not decode)."""
    # Per-FILE aggregation, consistent across tracks: sample counts and
    # byte totals SUM over every track's stsz, duration is the MAX track
    # duration (the wall-clock length of the file) — never a mix of
    # last-track sizes with summed durations.
    n_samples = total = mx = dur = 0
    found = False
    for start, end in _stbl_boxes(blob, 0, len(blob)):
        track_dur = 0
        for tag, b, e in _iter_boxes(blob, start, end):
            if tag == b"stts":
                (n_ent,) = struct.unpack(">I", blob[b + 4 : b + 8])
                for i in range(n_ent):
                    cnt, delta = struct.unpack(
                        ">II", blob[b + 8 + 8 * i : b + 16 + 8 * i]
                    )
                    track_dur += cnt * delta
                found = True
            elif tag == b"stsz":
                uniform, n = struct.unpack(">II", blob[b + 4 : b + 12])
                n_samples += n
                if uniform:
                    total += uniform * n
                    mx = max(mx, uniform if n else 0)
                else:
                    sizes = [
                        struct.unpack(">I", blob[b + 12 + 4 * i : b + 16 + 4 * i])[0]
                        for i in range(n)
                    ]
                    total += sum(sizes)
                    mx = max(mx, max(sizes) if sizes else 0)
                found = True
        dur = max(dur, track_dur)
    if not found:
        raise MediaFormatError("no sample table (stbl) in stream")
    return Mp4TrackSamples(
        n_samples=n_samples,
        total_bytes=total,
        max_sample_bytes=mx,
        duration_units=dur,
    )


# --- MP3 (MPEG audio Layer III) frame headers --------------------------------
#
# The MPEG-1/2 audio frame header (ISO/IEC 11172-3 / 13818-3) is pure bit
# fields: 11-bit sync, version, layer, bitrate index, sampling-rate index,
# padding. Walking frame-to-frame (each header gives its own frame length)
# yields frame count, duration and CBR/VBR-ness without any DSP — the
# routing metadata an audio corpus filters on. SAMPLE decode (the
# polyphase filterbank / MDCT) needs ISO tables this project does not
# ship, so it does not decode.

# bitrate tables in kbps, index 1..14 (0 = free format, 15 = invalid)
_MP3_BITRATES_V1_L3 = (
    0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
)
_MP3_BITRATES_V2_L3 = (
    0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160,
)
_MP3_SAMPLERATES = {
    3: (44100, 48000, 32000),   # MPEG-1
    2: (22050, 24000, 16000),   # MPEG-2
    0: (11025, 12000, 8000),    # MPEG-2.5
}


@dataclass(frozen=True)
class Mp3Meta:
    mpeg_version: str      # '1', '2', or '2.5'
    sample_rate: int
    n_frames: int
    duration_ms: int
    bitrate_kbps: int      # first frame's bitrate
    is_cbr: bool
    channel_mode: str      # 'stereo', 'joint', 'dual', 'mono'


_MP3_CHANNEL_MODES = ("stereo", "joint", "dual", "mono")


def _mp3_frame_header(blob: bytes, pos: int):
    """Parse one frame header at ``pos``; returns (frame_bytes,
    samples_per_frame, sample_rate, bitrate_kbps, version_bits,
    channel_mode_bits) or raises."""
    if pos + 4 > len(blob):
        raise MediaFormatError("truncated MP3 frame header")
    b0, b1, b2, b3 = blob[pos : pos + 4]
    if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
        raise MediaFormatError(f"lost MP3 sync at {pos}")
    version_bits = (b1 >> 3) & 0x3      # 3=MPEG1, 2=MPEG2, 0=MPEG2.5
    layer_bits = (b1 >> 1) & 0x3        # 1 = Layer III
    if version_bits == 1 or layer_bits != 1:
        raise MediaFormatError("only MPEG-1/2/2.5 Layer III supported")
    bitrate_idx = (b2 >> 4) & 0xF
    sr_idx = (b2 >> 2) & 0x3
    padding = (b2 >> 1) & 0x1
    if bitrate_idx in (0, 15) or sr_idx == 3:
        raise MediaFormatError("free-format/invalid bitrate or samplerate")
    table = (
        _MP3_BITRATES_V1_L3 if version_bits == 3 else _MP3_BITRATES_V2_L3
    )
    bitrate = table[bitrate_idx]
    sample_rate = _MP3_SAMPLERATES[version_bits][sr_idx]
    spf = 1152 if version_bits == 3 else 576  # Layer III samples/frame
    frame_bytes = (spf // 8) * bitrate * 1000 // sample_rate + padding
    return frame_bytes, spf, sample_rate, bitrate, version_bits, (b3 >> 6) & 0x3


def decode_mp3_meta(blob: bytes) -> Mp3Meta:
    """Walk every MP3 frame (skipping a leading ID3v2 tag): frame count,
    exact duration from per-frame sample counts, CBR/VBR detection."""
    pos = 0
    if blob[:3] == b"ID3":
        if len(blob) < 10:
            raise MediaFormatError("truncated ID3v2 tag")
        # syncsafe 28-bit size, header excluded; the footer flag
        # (ID3v2.4 §3.1, flag bit 0x10) adds a 10-byte footer that the
        # size field does NOT count
        size = (
            (blob[6] & 0x7F) << 21 | (blob[7] & 0x7F) << 14
            | (blob[8] & 0x7F) << 7 | (blob[9] & 0x7F)
        )
        pos = 10 + size + (10 if blob[5] & 0x10 else 0)
    n_frames = 0
    total_samples = 0
    sample_rate = None
    first_bitrate = None
    bitrates = set()
    version_bits = None
    mode_bits = 0
    while pos + 4 <= len(blob):
        if blob[pos] == 0x00:  # trailing padding/tag area
            break
        fb, spf, sr, br, vb, mb = _mp3_frame_header(blob, pos)
        if sample_rate is None:
            sample_rate, first_bitrate, version_bits, mode_bits = sr, br, vb, mb
        if fb < 4:
            raise MediaFormatError("MP3 frame length smaller than header")
        n_frames += 1
        total_samples += spf
        bitrates.add(br)
        pos += fb
    if n_frames == 0 or sample_rate is None:
        raise MediaFormatError("no MP3 frames found")
    version = {3: "1", 2: "2", 0: "2.5"}[version_bits]
    return Mp3Meta(
        mpeg_version=version,
        sample_rate=sample_rate,
        n_frames=n_frames,
        duration_ms=total_samples * 1000 // sample_rate,
        bitrate_kbps=first_bitrate,
        is_cbr=len(bitrates) == 1,
        channel_mode=_MP3_CHANNEL_MODES[mode_bits],
    )


def encode_minimal_mp3(
    n_frames: int,
    bitrate_idx: int = 9,
    sr_idx: int = 0,
    mpeg1: bool = True,
    channel_mode: int = 0,
    id3_bytes: int = 0,
    vbr_step: int = 0,
    id3_footer: bool = False,
) -> bytes:
    """Fixture encoder: syntactically valid Layer III frame headers with
    zero-filled payloads (header-walk testing needs valid FRAMING, not
    valid audio). ``vbr_step`` bumps the bitrate index every frame to
    exercise VBR detection; ``id3_bytes`` prepends an ID3v2 tag
    (``id3_footer`` sets the v2.4 footer flag and appends the 10-byte
    footer, which the syncsafe size does not count)."""
    out = bytearray()
    if id3_bytes:
        size = id3_bytes
        flags = 0x10 if id3_footer else 0
        out += b"ID3" + bytes((4, 0, flags)) + bytes(
            ((size >> 21) & 0x7F, (size >> 14) & 0x7F,
             (size >> 7) & 0x7F, size & 0x7F)
        )
        out += bytes(id3_bytes)
        if id3_footer:
            out += b"3DI" + bytes((4, 0, flags)) + bytes(
                ((size >> 21) & 0x7F, (size >> 14) & 0x7F,
                 (size >> 7) & 0x7F, size & 0x7F)
            )
    version_bits = 3 if mpeg1 else 2
    table = _MP3_BITRATES_V1_L3 if mpeg1 else _MP3_BITRATES_V2_L3
    sample_rate = _MP3_SAMPLERATES[version_bits][sr_idx]
    spf = 1152 if mpeg1 else 576
    for i in range(n_frames):
        bi = bitrate_idx + (i * vbr_step) % max(1, 14 - bitrate_idx + 1)
        bi = min(14, max(1, bi))
        bitrate = table[bi]
        frame_bytes = (spf // 8) * bitrate * 1000 // sample_rate
        b1 = 0xE0 | (version_bits << 3) | (1 << 1) | 1  # layer III, no CRC
        b2 = (bi << 4) | (sr_idx << 2)                  # no padding
        b3 = (channel_mode & 0x3) << 6
        out += bytes((0xFF, b1, b2, b3)) + bytes(frame_bytes - 4)
    return bytes(out)


# --- AAC (ADTS framing) ------------------------------------------------------
#
# ADTS (Audio Data Transport Stream, ISO/IEC 13818-7 §6.2) wraps raw AAC
# frames in self-describing headers: 12-bit sync, MPEG-4 audio object
# type, sampling-frequency index, channel configuration, 13-bit frame
# length. Like MP3, the header walk yields count/duration/bitrate without
# any DSP; SAMPLES do not decode (same missing ISO tables as MP3).

_ADTS_SAMPLERATES = (
    96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
    16000, 12000, 11025, 8000, 7350,
)


@dataclass(frozen=True)
class AacMeta:
    profile: str           # 'Main', 'LC', 'SSR', 'LTP'
    sample_rate: int
    n_channels: int
    n_frames: int
    duration_ms: int
    total_bytes: int       # sum of frame payloads (header excluded)


_AAC_PROFILES = ("Main", "LC", "SSR", "LTP")


def decode_aac_adts_meta(blob: bytes) -> AacMeta:
    """Walk every ADTS frame: sync + header fields + 13-bit frame length.
    Each AAC frame carries 1024 PCM samples per channel; duration follows
    exactly from frame count and the sampling-frequency index."""
    pos = 0
    n_frames = 0
    sample_rate = None
    profile_bits = 0
    channels = 0
    payload = 0
    while pos + 7 <= len(blob):
        if blob[pos] == 0x00:  # zero padding/tag tail
            break
        b = blob[pos : pos + 7]
        if b[0] != 0xFF or (b[1] & 0xF0) != 0xF0:
            raise MediaFormatError(f"lost ADTS sync at {pos}")
        protection_absent = b[1] & 0x1
        prof = (b[2] >> 6) & 0x3
        sf_idx = (b[2] >> 2) & 0xF
        if sf_idx >= len(_ADTS_SAMPLERATES):
            raise MediaFormatError("reserved sampling-frequency index")
        chan = ((b[2] & 0x1) << 2) | ((b[3] >> 6) & 0x3)
        frame_len = ((b[3] & 0x03) << 11) | (b[4] << 3) | ((b[5] >> 5) & 0x7)
        header_len = 7 if protection_absent else 9
        if frame_len < header_len:
            raise MediaFormatError("ADTS frame length smaller than header")
        if sample_rate is None:
            sample_rate = _ADTS_SAMPLERATES[sf_idx]
            profile_bits = prof
            channels = chan
        n_frames += 1
        payload += frame_len - header_len
        pos += frame_len
    if n_frames == 0 or sample_rate is None:
        raise MediaFormatError("no ADTS frames found")
    return AacMeta(
        profile=_AAC_PROFILES[profile_bits],
        sample_rate=sample_rate,
        n_channels=channels,
        n_frames=n_frames,
        duration_ms=n_frames * 1024 * 1000 // sample_rate,
        total_bytes=payload,
    )


def encode_minimal_adts(
    n_frames: int,
    sf_idx: int = 4,
    channels: int = 2,
    profile: int = 1,
    payload_bytes: int = 200,
    with_crc_field: bool = False,
) -> bytes:
    """Fixture encoder: framing-valid ADTS stream with zero payloads."""
    out = bytearray()
    header_len = 9 if with_crc_field else 7
    frame_len = header_len + payload_bytes
    for _ in range(n_frames):
        b1 = 0xF0 | (0 << 3) | (0 << 1) | (0 if with_crc_field else 1)
        b2 = ((profile & 0x3) << 6) | ((sf_idx & 0xF) << 2) | ((channels >> 2) & 0x1)
        b3 = ((channels & 0x3) << 6) | ((frame_len >> 11) & 0x03)
        b4 = (frame_len >> 3) & 0xFF
        b5 = ((frame_len & 0x7) << 5) | 0x1F
        b6 = 0xFC
        out += bytes((0xFF, b1, b2, b3, b4, b5, b6))
        if with_crc_field:
            out += b"\x00\x00"
        out += bytes(payload_bytes)
    return bytes(out)


# --- AVI (RIFF) container with MJPEG video frames ----------------------------
#
# AVI is RIFF framing (the same chunk walk as WAV): RIFF('AVI ' LIST(hdrl
# avih ...) LIST(movi <00dc frame chunks>)). With the MJPG codec every
# '##dc' chunk is a complete JPEG — which functions/jpeg_pixels.py
# decodes for real. That makes VIDEO FRAME PIXELS a real decode path for
# the MJPEG profile (the classic capture/intermediate format), stdlib +
# numpy only; modern inter-frame codecs (H.264/VP9) do not decode: they
# need a codec library.


@dataclass(frozen=True)
class AviMeta:
    width: int
    height: int
    n_frames: int
    us_per_frame: int
    codec: str


class _Avi(NamedTuple):
    """An AVI file's chunks, in file order."""
    avih: list  # (µs per frame, width, height) per avih chunk
    strf: list  # (stream index, strh fccType or None, body) per strf chunk
    movi: list  # (fourcc, payload) per 'NNdc' video / 'NNwb' audio chunk

    def frames(self) -> "list[bytes]":
        return [p for tag, p in self.movi if tag[2:] == b"dc"]


def _parse_avi(blob: bytes) -> _Avi:
    """Walk RIFF → LIST hdrl (avih; one LIST strl per stream, whose strh
    names the stream type and strf holds its format) and LIST movi (data
    chunks named by two-digit stream id + type)."""
    if blob[:4] != b"RIFF" or blob[8:12] != b"AVI ":
        raise MediaFormatError("bad RIFF/AVI signature")
    avi = _Avi([], [], [])
    n_streams = 0

    def walk(start: int, end: int, in_strl: bool) -> None:
        nonlocal n_streams
        kind = None
        for tag, b, e in _riff_chunks(blob, start, end):
            if tag == b"LIST":  # the list type, then its chunks
                walk(b + 4, e, blob[b : b + 4] == b"strl")
            elif tag == b"avih":
                (us,) = struct.unpack("<I", blob[b : b + 4])
                avi.avih.append((us, *struct.unpack("<II", blob[b + 32 : b + 40])))
            elif tag == b"strh" and in_strl:
                kind = blob[b : b + 4]
                n_streams += 1
            elif tag == b"strf":
                avi.strf.append((n_streams - 1, kind, blob[b:e]))
            elif tag[2:] in (b"dc", b"wb"):
                avi.movi.append((tag, blob[b:e]))

    walk(12, len(blob), False)
    return avi


def decode_avi_mjpeg(blob: bytes) -> "tuple[AviMeta, list[bytes]]":
    """Parse an AVI container and return (meta, [frame JPEG bytes]):
    dimensions and frame time from the last avih, the codec 4CC from the
    last strf, one frame per ``..dc`` chunk. Rejects non-MJPG streams —
    their frames would not be JPEGs."""
    avi = _parse_avi(blob)
    us_per_frame, width, height = avi.avih[-1] if avi.avih else (0, 0, 0)
    if not width or not height:
        raise MediaFormatError("missing avih header")
    # BITMAPINFOHEADER: biCompression 4CC at offset 16
    codec = next((s[16:20].decode("ascii", "replace")
                  for _, _, s in reversed(avi.strf) if len(s) >= 40), "")
    if codec not in ("MJPG", "mjpg"):
        raise MediaFormatError(
            f"codec {codec!r} is not MJPG — frame decode unsupported"
        )
    frames = avi.frames()
    return AviMeta(width, height, len(frames), us_per_frame, codec), frames


def _avi_video(blob: bytes) -> "tuple[int, int, int, bytes | None, list[bytes]]":
    """(width, height, µs per frame, first BITMAPINFOHEADER strf or
    None, ``..dc`` frames): the frame size from the last avih, the frame
    time from the last non-zero one."""
    avi = _parse_avi(blob)
    _us, width, height = avi.avih[-1] if avi.avih else (0, 0, 0)
    if not width or not height:
        raise MediaFormatError("missing avih header")
    us_per_frame = next((us for us, _, _ in reversed(avi.avih) if us), 0)
    strf = next((s for _, _, s in avi.strf if len(s) >= 40), None)
    return width, height, us_per_frame, strf, avi.frames()


def _bitmapinfo(
    width: int, height: int, bpp: int, compression: bytes, image_size: int,
    palette: "list[tuple[int, int, int]]" = (),
) -> bytes:
    """A video strf body: BITMAPINFOHEADER, then the palette as BGRX."""
    return struct.pack(
        "<IiiHH4sIiiII", 40, width, height, 1, bpp, compression, image_size,
        0, 0, len(palette), 0,
    ) + b"".join(bytes((b, g, r, 0)) for r, g, b in palette)


def _avi(
    width: int, height: int, fps: int, handler: bytes, strf: bytes,
    frames: "list[bytes]", audio: "tuple | None" = None,
) -> bytes:
    """RIFF/AVI: LIST hdrl (avih, one LIST strl per stream) and LIST
    movi. Stream 00 is the video, one '00dc' chunk per frame; ``audio``,
    a (WAVEFORMATEX, sample rate, sample count, PCM bytes) tuple, adds
    stream 01 with one '01wb' chunk."""
    streams = [(b"vids", handler, fps, len(frames), strf)]
    movi = [_chunk(b"00dc", f) for f in frames]
    if audio:
        fmt, rate, n_samples, pcm = audio
        streams.append((b"auds", bytes(4), rate, n_samples, fmt))
        movi.append(_chunk(b"01wb", pcm))
    avih = struct.pack(
        "<14I", 1_000_000 // max(1, fps), 0, 0, 0x10, len(frames), 0,
        len(streams), 0, width, height, 0, 0, 0, 0,
    )
    strls = [
        _chunk(b"LIST", b"strl", _chunk(b"strh", kind, fcc, struct.pack(
            "<IHHIIIIIIIII", 0, 0, 0, 0, 1, rate, 0, length, 0, 0, 0, 0,
        )), _chunk(b"strf", body))
        for kind, fcc, rate, length, body in streams
    ]
    hdrl = _chunk(b"LIST", b"hdrl", _chunk(b"avih", avih), *strls)
    return _chunk(b"RIFF", b"AVI ", hdrl, _chunk(b"LIST", b"movi", *movi))


def encode_minimal_avi(
    frames: list[bytes], width: int, height: int, fps: int = 25
) -> bytes:
    """Fixture encoder: a structurally valid AVI wrapping pre-encoded
    MJPEG (JPEG) frames."""
    strf = _bitmapinfo(width, height, 24, b"MJPG", width * height * 3)
    return _avi(width, height, fps, b"MJPG", strf, frames)


# --- DIB / BMP pixel decode --------------------------------------------------
#
# The Windows bitmap layouts (public BITMAPINFOHEADER spec): bottom-up
# rows padded to 4 bytes, BGR order for 24-bit, palette indices for
# 8-bit, optional RLE8 compression — all algorithmic. Shared between BMP
# files and raw (uncompressed) AVI video streams.

_BI_RGB = 0
_BI_RLE8 = 1


def _dib_rows_to_rgb(
    data: bytes, width: int, height: int, bpp: int,
    palette: "list[tuple[int, int, int]] | None",
) -> "list[tuple[int, int, int]]":
    """Bottom-up padded DIB pixel data -> top-down RGB tuples."""
    bytes_per_px = bpp // 8
    stride = (width * bytes_per_px + 3) & ~3
    if len(data) < stride * height:
        raise MediaFormatError("DIB pixel data short")
    out: list[tuple[int, int, int]] = []
    for y in range(height - 1, -1, -1):
        row = data[y * stride : y * stride + width * bytes_per_px]
        if bpp == 24:
            for x in range(width):
                b, g, r = row[3 * x : 3 * x + 3]
                out.append((r, g, b))
        else:  # 8-bit palette
            assert palette is not None
            for x in range(width):
                out.append(palette[row[x]])
    return out


def bmp_rle8_decode(
    data: bytes, width: int, height: int
) -> bytes:
    """BI_RLE8: (count, value) runs, 0-escapes for end-of-line (0,0),
    end-of-bitmap (0,1), delta (0,2,dx,dy — fills with index 0), and
    absolute literal runs (0,n>=3, word-aligned). Returns bottom-up
    UNPADDED rows (stride = width) of palette indices."""
    rows = [bytearray(width) for _ in range(height)]
    x = y = 0
    pos = 0
    while pos + 1 < len(data):
        n, v = data[pos], data[pos + 1]
        pos += 2
        if n > 0:
            if x + n > width or y >= height:
                raise MediaFormatError("RLE8 run overflows row")
            rows[y][x : x + n] = bytes([v]) * n
            x += n
        elif v == 0:  # end of line
            x, y = 0, y + 1
        elif v == 1:  # end of bitmap
            break
        elif v == 2:  # delta
            if pos + 2 > len(data):
                raise MediaFormatError("RLE8 delta truncated")
            x += data[pos]
            y += data[pos + 1]
            pos += 2
        else:  # absolute mode: v literal bytes, word-aligned
            if pos + v > len(data) or x + v > width or y >= height:
                raise MediaFormatError("RLE8 absolute run truncated")
            rows[y][x : x + v] = data[pos : pos + v]
            x += v
            pos += v + (v & 1)
    # bottom-up row order, matching the uncompressed layout
    return b"".join(bytes(r) for r in rows)


def _rle8_runs(row: bytes) -> bytes:
    """One row as greedy RLE8 (count, value) runs of at most 255."""
    out = bytearray()
    x = 0
    while x < len(row):
        run = 1
        while x + run < len(row) and run < 255 and row[x + run] == row[x]:
            run += 1
        out += bytes((run, row[x]))
        x += run
    return bytes(out)


def bmp_rle8_encode(indices_bottom_up: bytes, width: int, height: int) -> bytes:
    """Fixture RLE8 encoder: greedy runs + end-of-line/end-of-bitmap."""
    return b"".join(
        _rle8_runs(indices_bottom_up[y * width : (y + 1) * width]) + bytes((0, 0))
        for y in range(height)
    ) + bytes((0, 1))


def _dib24(pixels: "list[tuple[int, int, int]]", width: int, height: int) -> bytes:
    """Top-down RGB tuples -> bottom-up BGR rows padded to 4 bytes."""
    stride = (width * 3 + 3) & ~3
    return b"".join(
        bytes(c for x in range(width) for c in pixels[y * width + x][::-1]).ljust(
            stride, b"\x00")
        for y in range(height - 1, -1, -1)
    )


@dataclass(frozen=True)
class BmpPixels:
    width: int
    height: int
    bits_per_pixel: int
    compression: int
    pixels: list  # [(r, g, b)] top-down row-major


def decode_bmp_pixels(blob: bytes) -> BmpPixels:
    """REAL BMP decode: BITMAPFILEHEADER + BITMAPINFOHEADER, 24-bit BGR
    and 8-bit palette layouts, BI_RGB and BI_RLE8 compressions."""
    if blob[:2] != b"BM" or len(blob) < 54:
        raise MediaFormatError("bad BMP signature")
    (data_off,) = struct.unpack("<I", blob[10:14])
    (hdr_size, width, height, _planes, bpp, compression) = struct.unpack(
        "<IiiHHI", blob[14:34]
    )
    if hdr_size < 40 or width <= 0 or height <= 0:
        raise MediaFormatError("unsupported BMP header")
    palette = None
    if bpp == 8:
        (n_colors,) = struct.unpack("<I", blob[46:50])
        n_colors = n_colors or 256
        pal_off = 14 + hdr_size
        if pal_off + 4 * n_colors > len(blob):
            raise MediaFormatError("BMP palette truncated")
        palette = [
            (blob[pal_off + 4 * i + 2], blob[pal_off + 4 * i + 1],
             blob[pal_off + 4 * i])
            for i in range(n_colors)
        ] + [(0, 0, 0)] * (256 - n_colors)
    elif bpp != 24:
        raise MediaFormatError(f"unsupported BMP bpp {bpp}")
    data = blob[data_off:]
    if compression == _BI_RLE8:
        if bpp != 8:
            raise MediaFormatError("RLE8 requires 8-bit BMP")
        unpadded = bmp_rle8_decode(data, width, height)
        # re-pad rows to the DIB stride the shared path expects
        stride = (width + 3) & ~3
        data = b"".join(
            unpadded[y * width : (y + 1) * width].ljust(stride, b"\x00")
            for y in range(height)
        )
    elif compression != _BI_RGB:
        raise MediaFormatError(f"unsupported BMP compression {compression}")
    return BmpPixels(
        width, height, bpp, compression,
        _dib_rows_to_rgb(data, width, height, bpp, palette),
    )


def encode_bmp(
    pixels: "list[tuple[int, int, int]]", width: int, height: int,
    bpp: int = 24, rle: bool = False,
    palette: "list[tuple[int, int, int]] | None" = None,
) -> bytes:
    """Fixture encoder: 24-bit BGR or 8-bit palette BMP (optionally
    RLE8-compressed). ``pixels`` are top-down RGB tuples; for 8-bit they
    must all appear in ``palette``."""
    if len(pixels) != width * height:
        raise MediaFormatError("pixel count mismatch")
    if bpp == 24:
        data = _dib24(pixels, width, height)
        pal_bytes = b""
        n_colors = 0
        compression = _BI_RGB
    else:
        assert palette is not None
        lookup = {c: i for i, c in enumerate(palette)}
        idx_bottom_up = bytearray()
        for y in range(height - 1, -1, -1):
            for x in range(width):
                idx_bottom_up.append(lookup[pixels[y * width + x]])
        n_colors = len(palette)
        pal_bytes = b"".join(
            bytes((b, g, r, 0)) for r, g, b in palette
        )
        if rle:
            data = bmp_rle8_encode(bytes(idx_bottom_up), width, height)
            compression = _BI_RLE8
        else:
            stride = (width + 3) & ~3
            data = b"".join(
                bytes(idx_bottom_up[y * width : (y + 1) * width]).ljust(
                    stride, b"\x00")
                for y in range(height)
            )
            compression = _BI_RGB
    data_off = 14 + 40 + len(pal_bytes)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, bpp, compression,
        len(data), 2835, 2835, n_colors, 0,
    )
    header = b"BM" + struct.pack(
        "<IHHI", data_off + len(data), 0, 0, data_off
    )
    return header + info + pal_bytes + data


def decode_avi_video_frames(
    blob: bytes,
) -> "tuple[AviMeta, str, list]":
    """AVI video frames with codec dispatch: returns (meta, codec,
    frames) where codec is 'MJPG' (frames = JPEG byte strings — decode
    via functions/jpeg_pixels) or 'DIB' (frames = top-down RGB tuple
    lists, decoded here from the raw bottom-up BGR layout). Inter-frame
    codecs (H.264/VP9) raise — they need a codec library."""
    width, height, us_per_frame, strf, frames = _avi_video(blob)
    compression = strf and strf[16:20]
    if compression in (b"MJPG", b"mjpg"):
        return AviMeta(width, height, len(frames), us_per_frame, "MJPG"), "MJPG", frames
    if compression == bytes(4):  # BI_RGB
        (bpp,) = struct.unpack("<H", strf[14:16])
        if bpp != 24:
            raise MediaFormatError(f"raw AVI bpp {bpp} unsupported")
        decoded = [_dib_rows_to_rgb(f, width, height, 24, None) for f in frames]
        return AviMeta(width, height, len(frames), us_per_frame, "DIB"), "DIB", decoded
    raise MediaFormatError(
        f"codec {compression!r} needs a codec library"
    )


def encode_minimal_avi_raw(
    frames_rgb: "list[list[tuple[int, int, int]]]",
    width: int, height: int, fps: int = 25,
) -> bytes:
    """Fixture encoder: AVI with an UNCOMPRESSED (BI_RGB) 24-bit video
    stream — bottom-up BGR rows padded to 4 bytes, the raw capture
    layout."""
    dib_frames = [_dib24(px, width, height) for px in frames_rgb]
    strf = _bitmapinfo(width, height, 24, bytes(4), ((width * 3 + 3) & ~3) * height)
    return _avi(width, height, fps, b"DIB ", strf, dib_frames)


# --- MS-RLE (BI_RLE8) INTER-FRAME video -------------------------------------
#
# Microsoft RLE video (the 'MRLE'/BI_RLE8 codec in AVI): each frame is
# an RLE8 stream applied ONTO the previous frame's canvas — end-of-line
# and delta escapes SKIP pixels, leaving prior content visible. This is
# genuine inter-frame video decode (temporal prediction via skip runs),
# implementable from the public RLE8 escape semantics alone; what does
# not decode is motion-compensated codecs (H.264/VP9), which need a full
# codec library.


def mrle_apply_frame(
    canvas: bytearray, data: bytes, width: int, height: int
) -> None:
    """Apply one MS-RLE frame in place. ``canvas`` holds bottom-up
    palette indices (stride = width) carried over from the previous
    frame; runs overwrite, EOL/delta escapes skip (temporal prediction)."""
    x = y = 0
    pos = 0
    while pos + 1 < len(data):
        n, v = data[pos], data[pos + 1]
        pos += 2
        if n > 0:
            if x + n > width or y >= height:
                raise MediaFormatError("MRLE run overflows row")
            canvas[y * width + x : y * width + x + n] = bytes([v]) * n
            x += n
        elif v == 0:
            x, y = 0, y + 1
        elif v == 1:
            return
        elif v == 2:
            if pos + 2 > len(data):
                raise MediaFormatError("MRLE delta truncated")
            x += data[pos]
            y += data[pos + 1]
            pos += 2
            if x > width or y > height:
                raise MediaFormatError("MRLE delta out of bounds")
        else:
            if pos + v > len(data) or x + v > width or y >= height:
                raise MediaFormatError("MRLE absolute run truncated")
            canvas[y * width + x : y * width + x + v] = data[pos : pos + v]
            x += v
            pos += v + (v & 1)


def decode_avi_mrle_frames(
    blob: bytes,
) -> "tuple[AviMeta, list, list]":
    """Decode an MS-RLE AVI: returns (meta, palette, frames) where each
    frame is the COMPOSITED top-down palette-index list (delta frames
    resolved against the running canvas)."""
    width, height, us_per_frame, strf, raw_frames = _avi_video(blob)
    compression = strf and strf[16:20]
    if compression != struct.pack("<I", _BI_RLE8):
        raise MediaFormatError(f"not an MS-RLE stream ({compression!r})")
    # palette follows BITMAPINFOHEADER (BGRX quads)
    palette = [(strf[i + 2], strf[i + 1], strf[i]) for i in range(40, len(strf) - 3, 4)]
    if not palette:
        raise MediaFormatError("MRLE stream has no palette")
    canvas = bytearray(width * height)  # bottom-up indices
    frames = []
    for raw in raw_frames:
        mrle_apply_frame(canvas, raw, width, height)
        if canvas and max(canvas) >= len(palette):
            raise MediaFormatError(
                "MRLE pixel index exceeds palette size"
            )
        # snapshot, re-ordered top-down
        frames.append([
            canvas[y * width + x]
            for y in range(height - 1, -1, -1)
            for x in range(width)
        ])
    meta = AviMeta(width=width, height=height, n_frames=len(raw_frames),
                   us_per_frame=us_per_frame, codec="MRLE")
    return meta, palette, frames


def encode_minimal_avi_mrle(
    frames_indices: "list[list[int]]",
    width: int, height: int,
    palette: "list[tuple[int, int, int]]",
    fps: int = 25,
) -> bytes:
    """Fixture encoder: MS-RLE AVI. Frame 0 is a full keyframe; each
    later frame encodes only rows that CHANGED vs the previous frame,
    using end-of-line escapes to skip unchanged rows — real temporal
    delta frames."""

    def to_bottom_up(px: "list[int]") -> bytes:
        return bytes(
            px[y * width + x]
            for y in range(height - 1, -1, -1)
            for x in range(width)
        )

    encoded = []
    prev: bytes | None = None
    for px in frames_indices:
        cur = to_bottom_up(px)
        body = bytearray()
        pending_skips = 0
        for y in range(height):
            row = cur[y * width : (y + 1) * width]
            if prev is not None and row == prev[y * width : (y + 1) * width]:
                pending_skips += 1
                continue
            # position the cursor: delta-skip whole unchanged rows
            while pending_skips > 0:
                dy = min(pending_skips, 255)
                body += bytes((0, 2, 0, dy))
                pending_skips -= dy
            body += _rle8_runs(row)
            body += bytes((0, 0))  # end of line
            pending_skips = 0
        body += bytes((0, 1))  # end of bitmap
        encoded.append(bytes(body))
        prev = cur

    strf = _bitmapinfo(width, height, 8, struct.pack("<I", _BI_RLE8), width * height, palette)
    return _avi(width, height, fps, b"MRLE", strf, encoded)


def decode_avi_pcm_audio(blob: bytes) -> "tuple[WavMeta, list[int]]":
    """Extract the PCM16 audio track from an AVI container: the last
    ``auds`` stream's WAVEFORMATEX (strf), then that stream's ``NNwb``
    movi chunks concatenated and unpacked — the audio half of a video
    file, decoded with the same zero-codec PCM path as WAV."""
    avi = _parse_avi(blob)
    audio = [(idx, s) for idx, kind, s in avi.strf if kind == b"auds"]
    if not audio:
        raise MediaFormatError("no auds (audio) stream in AVI")
    idx, strf = audio[-1]
    n_ch, rate = struct.unpack("<HI", strf[2:8])
    (bits,) = struct.unpack("<H", strf[14:16])
    if bits != 16:
        raise MediaFormatError("only PCM16 AVI audio supported")
    pcm = b"".join(p for tag, p in avi.movi if tag == b"%02dwb" % idx)
    n = len(pcm) // 2
    samples = list(struct.unpack(f"<{n}h", pcm[: 2 * n]))
    return (
        WavMeta(
            n_channels=n_ch,
            sample_rate=rate,
            bits_per_sample=bits,
            n_frames=n // max(1, n_ch),
            duration_ms=(n // max(1, n_ch)) * 1000 // max(1, rate),
        ),
        samples,
    )


def encode_minimal_avi_with_audio(
    frames: list[bytes],
    width: int,
    height: int,
    audio_samples: list[int],
    sample_rate: int = 16000,
    fps: int = 25,
) -> bytes:
    """Fixture encoder: AVI with an MJPEG video stream (index 0) AND a
    PCM16 mono audio stream (index 1, one 01wb chunk)."""
    strf = _bitmapinfo(width, height, 24, b"MJPG", width * height * 3)
    fmt = _wav_fmt(WAVE_FORMAT_PCM, 1, sample_rate, 2, 16)
    pcm = struct.pack(f"<{len(audio_samples)}h", *audio_samples)
    return _avi(width, height, fps, b"MJPG", strf, frames,
                (fmt, sample_rate, len(audio_samples), pcm))


# --- WebP (RIFF) and GIF image metadata --------------------------------------
#
# WebP is RIFF framing again: RIFF('WEBP' <'VP8 '|'VP8L'|'VP8X' chunk>).
# Dimensions live in the first bitstream chunk's public header layout —
# no entropy decode needed. GIF (89a/87a) dimensions come from the
# logical screen descriptor, and walking the block structure (image
# descriptors, extensions, sub-block chains) yields the frame count —
# the metadata an image corpus routes on; the LZW pixel decode follows
# in its own section.


@dataclass(frozen=True)
class WebpMeta:
    width: int
    height: int
    format: str       # 'lossy', 'lossless', 'extended'
    has_alpha: bool
    has_animation: bool


def decode_webp_meta(blob: bytes) -> WebpMeta:
    """Dimensions + variant from the first VP8/VP8L/VP8X chunk header."""
    if blob[:4] != b"RIFF" or blob[8:12] != b"WEBP":
        raise MediaFormatError("bad RIFF/WEBP signature")
    for tag, b, e in _riff_chunks(blob, 12, len(blob)):
        if tag == b"VP8 ":  # lossy: 10-byte uncompressed frame tag
            if e - b < 10:
                raise MediaFormatError("truncated VP8 frame header")
            if blob[b + 3 : b + 6] != b"\x9d\x01\x2a":
                raise MediaFormatError("bad VP8 start code")
            w, h = struct.unpack("<HH", blob[b + 6 : b + 10])
            return WebpMeta(w & 0x3FFF, h & 0x3FFF, "lossy", False, False)
        if tag == b"VP8L":  # lossless: 1-byte sig + 14+14 bit dims
            if e - b < 5 or blob[b] != 0x2F:
                raise MediaFormatError("bad VP8L signature")
            bits = struct.unpack("<I", blob[b + 1 : b + 5])[0]
            w = (bits & 0x3FFF) + 1
            h = ((bits >> 14) & 0x3FFF) + 1
            alpha = bool((bits >> 28) & 1)
            return WebpMeta(w, h, "lossless", alpha, False)
        if tag == b"VP8X":  # extended: flags + 24-bit minus-one dims
            if e - b < 10:
                raise MediaFormatError("truncated VP8X header")
            flags = blob[b]
            w = int.from_bytes(blob[b + 4 : b + 7], "little") + 1
            h = int.from_bytes(blob[b + 7 : b + 10], "little") + 1
            return WebpMeta(
                w, h, "extended",
                has_alpha=bool(flags & 0x10),
                has_animation=bool(flags & 0x02),
            )
    raise MediaFormatError("no VP8/VP8L/VP8X chunk in WEBP")


def encode_minimal_webp(
    width: int, height: int, variant: str = "lossy",
    alpha: bool = False, animation: bool = False,
) -> bytes:
    """Fixture encoder: structurally valid WebP headers (no pixel data)."""
    if variant == "lossy":
        inner = _chunk(b"VP8 ", b"\x00\x00\x00\x9d\x01\x2a",
                       struct.pack("<HH", width & 0x3FFF, height & 0x3FFF))
    elif variant == "lossless":
        bits = (width - 1) | ((height - 1) << 14) | ((1 if alpha else 0) << 28)
        inner = _chunk(b"VP8L", b"\x2f", struct.pack("<I", bits))
    elif variant == "extended":
        flags = (0x10 if alpha else 0) | (0x02 if animation else 0)
        inner = _chunk(b"VP8X", bytes((flags, 0, 0, 0)),
                       (width - 1).to_bytes(3, "little"),
                       (height - 1).to_bytes(3, "little"))
    else:
        raise ValueError(variant)
    return _chunk(b"RIFF", b"WEBP", inner)


@dataclass(frozen=True)
class GifMeta:
    width: int
    height: int
    version: str       # '87a' or '89a'
    n_frames: int
    has_gce: bool      # graphic control extension present (transparency/delay)


def decode_gif_meta(blob: bytes) -> GifMeta:
    """Logical-screen dimensions + frame count via the block-structure
    walk (image descriptors, extension sub-block chains, color tables)."""
    if blob[:4] != b"GIF8" or blob[4:6] not in (b"7a", b"9a"):
        raise MediaFormatError("bad GIF signature")
    version = blob[3:6].decode("ascii")
    if len(blob) < 13:
        raise MediaFormatError("truncated GIF header")
    width, height = struct.unpack("<HH", blob[6:10])
    packed = blob[10]
    pos = 13
    if packed & 0x80:  # global color table
        pos += 3 * (2 << (packed & 0x07))
    n_frames = 0
    has_gce = False

    def skip_subblocks(p: int) -> int:
        while p < len(blob):
            size = blob[p]
            p += 1
            if size == 0:
                return p
            p += size
        raise MediaFormatError("unterminated GIF sub-block chain")

    while pos < len(blob):
        b0 = blob[pos]
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension
            if pos + 2 > len(blob):
                raise MediaFormatError("truncated GIF extension introducer")
            if blob[pos + 1] == 0xF9:
                has_gce = True
            pos = skip_subblocks(pos + 2)
        elif b0 == 0x2C:  # image descriptor
            if pos + 10 > len(blob):
                raise MediaFormatError("truncated image descriptor")
            local = blob[pos + 9]
            pos += 10
            if local & 0x80:
                pos += 3 * (2 << (local & 0x07))
            pos += 1  # LZW minimum code size
            pos = skip_subblocks(pos)
            n_frames += 1
        else:
            raise MediaFormatError(f"unknown GIF block 0x{b0:02X} at {pos}")
    return GifMeta(width, height, version, n_frames, has_gce)


def encode_minimal_gif(
    width: int, height: int, n_frames: int = 1, gce: bool = False
) -> bytes:
    """Fixture encoder: structurally valid GIF89a with ``n_frames`` image
    descriptors holding tiny opaque data sub-blocks."""
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out += bytes((0x00, 0, 0))  # no global color table
    for i in range(n_frames):
        if gce:
            out += bytes((0x21, 0xF9, 4, 0, 10, 0, 0, 0))  # GCE, 100ms
        out += bytes((0x2C,)) + struct.pack("<HHHH", 0, 0, width, height)
        out += bytes((0x00,))       # no local color table
        out += bytes((2,))          # LZW min code size
        out += bytes((3, i & 0xFF, 0x01, 0x00))  # one 3-byte sub-block
        out += bytes((0,))          # terminator
    out += bytes((0x3B,))
    return bytes(out)


# --- GIF pixel decode (LZW) --------------------------------------------------
#
# REAL GIF pixel decode: the GIF variant of LZW (variable-width codes
# LSB-first, clear/end codes, 12-bit dictionary cap, deferred-clear
# tolerated) plus palette mapping and 4-pass interlace reordering — all
# public GIF89a specification, implemented from the algorithm (LZW needs
# no tables, unlike the perceptual codecs). Inter-frame COMPOSITING
# (disposal methods) is intentionally out of scope: frames decode
# standalone, which is what per-frame pixel statistics need.


@dataclass(frozen=True)
class GifFrame:
    x: int
    y: int
    width: int
    height: int
    interlaced: bool
    pixels: list  # palette indices, row-major, de-interlaced
    palette: list  # [(r, g, b)] — local table if present, else global


def gif_lzw_decode(
    data: bytes, min_code_size: int, max_pixels: int
) -> "list[int]":
    """GIF-flavor LZW: variable width starting at min_code_size+1,
    growing when the table fills the current width, capped at 12 bits
    (further codes reuse 12-bit width until a clear — 'deferred clear')."""
    clear = 1 << min_code_size
    end = clear + 1
    code_size = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    prev: bytes | None = None
    acc = 0
    nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                del table[clear + 2 :]
                code_size = min_code_size + 1
                prev = None
                continue
            if code == end:
                return list(out)
            if prev is None:
                if code >= len(table):
                    raise MediaFormatError("LZW code before table entry")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < 4096:
                    table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                if len(table) < 4096:
                    table.append(entry)
            else:
                raise MediaFormatError("LZW code beyond table")
            out += entry
            if len(out) > max_pixels:
                raise MediaFormatError("LZW output exceeds frame size")
            prev = entry
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
    return list(out)


def gif_lzw_encode(pixels: "list[int]", min_code_size: int) -> bytes:
    """Fixture LZW encoder, width-synchronized with the decoder above
    (emits clear up front, resets the dictionary at 4096)."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0
    code_size = min_code_size + 1

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    emit(clear)
    w = b""
    for p in pixels:
        if p >= clear:
            raise MediaFormatError("pixel index exceeds code space")
        wc = w + bytes([p])
        if wc in table:
            w = wc
            continue
        emit(table[w])
        if next_code < 4096:
            # width bump check precedes the insert (canonical GIF rule:
            # the decoder bumps after the code whose ARRIVAL fills the
            # current width's capacity — checking post-insert here would
            # widen one code early and desync every later code)
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
            table[wc] = next_code
            next_code += 1
        else:  # table full: clear and restart (never defer in fixtures)
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            code_size = min_code_size + 1
        w = bytes([p])
    if w:
        emit(table[w])
    code_size = code_size  # end code uses the current width
    emit(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _deinterlace(indices: "list[int]", width: int, height: int) -> "list[int]":
    rows = [indices[r * width : (r + 1) * width] for r in range(height)]
    out: list[list[int]] = [[] for _ in range(height)]
    src = 0
    for start, step in _GIF_INTERLACE_PASSES:
        for r in range(start, height, step):
            out[r] = rows[src]
            src += 1
    return [px for row in out for px in row]


def decode_gif_frames(blob: bytes) -> "tuple[GifMeta, list[GifFrame]]":
    """Full block walk + per-frame LZW pixel decode. Frames decode
    standalone (no disposal compositing); indices map through the local
    color table when present, else the global one."""
    meta = decode_gif_meta(blob)  # validates structure first
    if len(blob) < 13:
        raise MediaFormatError("truncated GIF header")
    packed = blob[10]
    pos = 13
    global_palette: list = []
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        global_palette = [
            (blob[pos + 3 * i], blob[pos + 3 * i + 1], blob[pos + 3 * i + 2])
            for i in range(n)
        ]
        pos += 3 * n
    frames: list[GifFrame] = []

    def read_subblocks(p: int) -> "tuple[bytes, int]":
        chunks = []
        while p < len(blob):
            size = blob[p]
            p += 1
            if size == 0:
                return b"".join(chunks), p
            chunks.append(blob[p : p + size])
            p += size
        raise MediaFormatError("unterminated GIF sub-block chain")

    while pos < len(blob):
        b0 = blob[pos]
        if b0 == 0x3B:
            break
        if b0 == 0x21:
            _, pos = read_subblocks(pos + 2)
        elif b0 == 0x2C:
            fx, fy, fw, fh = struct.unpack("<HHHH", blob[pos + 1 : pos + 9])
            local = blob[pos + 9]
            pos += 10
            palette = global_palette
            if local & 0x80:
                n = 2 << (local & 0x07)
                palette = [
                    (blob[pos + 3 * i], blob[pos + 3 * i + 1],
                     blob[pos + 3 * i + 2])
                    for i in range(n)
                ]
                pos += 3 * n
            mcs = blob[pos]
            pos += 1
            data, pos = read_subblocks(pos)
            indices = gif_lzw_decode(data, mcs, fw * fh)
            if len(indices) < fw * fh:
                raise MediaFormatError("LZW stream short of frame size")
            indices = indices[: fw * fh]
            if not palette:
                raise MediaFormatError("GIF frame has no color table")
            if indices and max(indices) >= len(palette):
                raise MediaFormatError(
                    "GIF pixel index exceeds color table size"
                )
            interlaced = bool(local & 0x40)
            if interlaced:
                indices = _deinterlace(indices, fw, fh)
            frames.append(GifFrame(fx, fy, fw, fh, interlaced,
                                   indices, palette))
        else:
            raise MediaFormatError(f"unknown GIF block 0x{b0:02X} at {pos}")
    return meta, frames


def encode_gif_pixels(
    frames: "list[list[int]]",
    width: int,
    height: int,
    palette: "list[tuple[int, int, int]]",
    interlace: bool = False,
) -> bytes:
    """Fixture encoder: real LZW-compressed GIF89a from explicit palette
    indices (one list per frame, row-major)."""
    n = max(2, len(palette))
    pal_bits = max(1, (n - 1).bit_length())
    pal_size = 1 << pal_bits
    mcs = max(2, pal_bits)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out += bytes((0x80 | (pal_bits - 1), 0, 0))
    for i in range(pal_size):
        r, g, b = palette[i] if i < len(palette) else (0, 0, 0)
        out += bytes((r, g, b))
    for pixels in frames:
        if len(pixels) != width * height:
            raise MediaFormatError("frame pixel count mismatch")
        if interlace:
            rows = [pixels[r * width : (r + 1) * width]
                    for r in range(height)]
            ordered = []
            for start, step in _GIF_INTERLACE_PASSES:
                for r in range(start, height, step):
                    ordered.extend(rows[r])
            pixels = ordered
        out += bytes((0x2C,)) + struct.pack("<HHHH", 0, 0, width, height)
        out += bytes((0x40 if interlace else 0x00,))
        out += bytes((mcs,))
        data = gif_lzw_encode(pixels, mcs)
        for off in range(0, len(data), 255):
            chunk = data[off : off + 255]
            out += bytes((len(chunk),)) + chunk
        out += bytes((0,))
    out += bytes((0x3B,))
    return bytes(out)


# --- TIFF image metadata ------------------------------------------------------
#
# TIFF (the document-scan container) is a linked list of IFDs (pages),
# each a table of (tag, type, count, value) entries — all public TIFF 6.0
# layout. The walk yields per-page dimensions, bits/sample and
# compression plus the page count; pixel decode depends on the per-page
# compression (often JPEG — which the in-repo codec handles — or
# CCITT G4, which does not ship here).

_TIFF_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4,
                    10: 8, 11: 4, 12: 8}


@dataclass(frozen=True)
class TiffMeta:
    byte_order: str        # 'II' (little) or 'MM' (big)
    n_pages: int
    width: int             # first page
    height: int
    bits_per_sample: int
    compression: int       # 1=none, 5=LZW, 6/7=JPEG, 4=CCITT G4, ...


def decode_tiff_meta(blob: bytes) -> TiffMeta:
    """Walk the IFD chain: page count + first-page geometry fields."""
    if blob[:2] == b"II":
        endian = "<"
    elif blob[:2] == b"MM":
        endian = ">"
    else:
        raise MediaFormatError("bad TIFF byte-order mark")
    (magic,) = struct.unpack(endian + "H", blob[2:4])
    if magic != 42:
        raise MediaFormatError("bad TIFF magic")
    (ifd_off,) = struct.unpack(endian + "I", blob[4:8])

    n_pages = 0
    first: dict[int, int] = {}
    seen_offsets: set[int] = set()
    while ifd_off:
        if ifd_off in seen_offsets:
            raise MediaFormatError("cyclic IFD chain")
        seen_offsets.add(ifd_off)
        if ifd_off + 2 > len(blob):
            raise MediaFormatError("truncated IFD")
        (n_entries,) = struct.unpack(
            endian + "H", blob[ifd_off : ifd_off + 2]
        )
        end = ifd_off + 2 + 12 * n_entries
        if end + 4 > len(blob):
            raise MediaFormatError("truncated IFD entries")
        if n_pages == 0:
            for k in range(n_entries):
                p = ifd_off + 2 + 12 * k
                tag, typ, count = struct.unpack(
                    endian + "HHI", blob[p : p + 8]
                )
                if tag in (256, 257, 258, 259):  # width/height/bits/compr
                    # TIFF 6.0: when count*sizeof(type) > 4 the value
                    # field is an offset to the data, not the data —
                    # e.g. BitsPerSample with count=3 on RGB images.
                    # Dereference and report the first element.
                    type_size = 2 if typ == 3 else 4
                    if count * type_size > 4:
                        (voff,) = struct.unpack(
                            endian + "I", blob[p + 8 : p + 12]
                        )
                        if voff + type_size > len(blob):
                            raise MediaFormatError(
                                "TIFF tag value offset out of range"
                            )
                        vp = voff
                    else:
                        # inline values sit left-justified in the 4-byte
                        # value field per the byte order
                        vp = p + 8
                    if typ == 3:
                        (v,) = struct.unpack(
                            endian + "H", blob[vp : vp + 2]
                        )
                    else:
                        (v,) = struct.unpack(
                            endian + "I", blob[vp : vp + 4]
                        )
                    first[tag] = v
        n_pages += 1
        (ifd_off,) = struct.unpack(endian + "I", blob[end : end + 4])
    if n_pages == 0 or 256 not in first or 257 not in first:
        raise MediaFormatError("no IFD with geometry")
    return TiffMeta(
        byte_order=blob[:2].decode("ascii"),
        n_pages=n_pages,
        width=first[256],
        height=first[257],
        bits_per_sample=first.get(258, 1),
        compression=first.get(259, 1),
    )


def packbits_decode(data: bytes, expected: int) -> bytes:
    """Apple PackBits RLE (TIFF compression 32773): control byte n in
    0..127 copies n+1 literals, 129..255 (as signed -1..-127) repeats the
    next byte 1-n times, 128 is a no-op."""
    out = bytearray()
    pos = 0
    while pos < len(data) and len(out) < expected:
        n = data[pos]
        pos += 1
        if n < 128:
            if pos + n + 1 > len(data):
                raise MediaFormatError("PackBits literal run truncated")
            out += data[pos : pos + n + 1]
            pos += n + 1
        elif n > 128:
            if pos >= len(data):
                raise MediaFormatError("PackBits repeat run truncated")
            out += bytes([data[pos]]) * (257 - n)
            pos += 1
        # n == 128: no-op
    if len(out) < expected:
        raise MediaFormatError("PackBits output short of expected size")
    return bytes(out[:expected])


def packbits_encode(data: bytes) -> bytes:
    """Fixture PackBits encoder: greedy runs (repeat runs >= 3 bytes,
    literals otherwise), max run 128."""
    out = bytearray()
    pos = 0
    n = len(data)
    while pos < n:
        run = 1
        while (pos + run < n and run < 128
               and data[pos + run] == data[pos]):
            run += 1
        if run >= 3:
            out += bytes((257 - run, data[pos]))
            pos += run
            continue
        lit_start = pos
        pos += run
        while pos < n and pos - lit_start < 128:
            run = 1
            while (pos + run < n and run < 128
                   and data[pos + run] == data[pos]):
                run += 1
            if run >= 3:
                break
            pos += run
        chunk = data[lit_start : min(pos, lit_start + 128)]
        pos = lit_start + len(chunk)
        out += bytes((len(chunk) - 1,)) + chunk
    return bytes(out)


@dataclass(frozen=True)
class TiffPixels:
    width: int
    height: int
    samples_per_pixel: int
    compression: int
    pixels: bytes  # row-major, sample-interleaved, 8 bits/sample


_TIFF_COMP_NONE = 1
_TIFF_COMP_PACKBITS = 32773


def _tiff_first_ifd_tags(blob: bytes) -> "tuple[str, dict[int, list[int]]]":
    """First-page IFD as {tag: [values]} with full TIFF 6.0 value
    semantics (count field honored, out-of-line arrays dereferenced)."""
    if blob[:2] == b"II":
        endian = "<"
    elif blob[:2] == b"MM":
        endian = ">"
    else:
        raise MediaFormatError("bad TIFF byte-order mark")
    (magic,) = struct.unpack(endian + "H", blob[2:4])
    if magic != 42:
        raise MediaFormatError("bad TIFF magic")
    (ifd_off,) = struct.unpack(endian + "I", blob[4:8])
    if ifd_off + 2 > len(blob):
        raise MediaFormatError("truncated IFD")
    (n_entries,) = struct.unpack(endian + "H", blob[ifd_off : ifd_off + 2])
    if ifd_off + 2 + 12 * n_entries > len(blob):
        raise MediaFormatError("truncated IFD entries")
    tags: dict[int, list[int]] = {}
    for k in range(n_entries):
        p = ifd_off + 2 + 12 * k
        tag, typ, count = struct.unpack(endian + "HHI", blob[p : p + 8])
        size = _TIFF_TYPE_SIZES.get(typ)
        if size is None or typ not in (1, 3, 4):
            continue  # only BYTE/SHORT/LONG matter for strip geometry
        total = count * size
        if total > 4:
            (voff,) = struct.unpack(endian + "I", blob[p + 8 : p + 12])
        else:
            voff = p + 8
        if voff + total > len(blob):
            raise MediaFormatError("TIFF tag value out of range")
        fmt = {1: "B", 3: "H", 4: "I"}[typ]
        tags[tag] = list(
            struct.unpack(endian + f"{count}{fmt}", blob[voff : voff + total])
        )
    return endian, tags


def decode_tiff_strips(blob: bytes) -> TiffPixels:
    """REAL TIFF pixel decode for the strip-based baseline layouts:
    uncompressed (compression=1) and PackBits (32773), 8 bits/sample,
    grayscale or RGB. These plus the in-repo JPEG codec cover TIFF's
    common scan layouts; LZW/CCITT G4 compressions raise cleanly."""
    _, tags = _tiff_first_ifd_tags(blob)
    try:
        width = tags[256][0]
        height = tags[257][0]
        offsets = tags[273]
        counts = tags[279]
    except KeyError as exc:
        raise MediaFormatError(f"missing strip tag {exc}") from exc
    compression = tags.get(259, [1])[0]
    spp = tags.get(277, [1])[0]
    bits = tags.get(258, [8])
    if any(b != 8 for b in bits):
        raise MediaFormatError("only 8 bits/sample strip decode supported")
    if len(offsets) != len(counts):
        raise MediaFormatError("StripOffsets/StripByteCounts mismatch")
    rows_per_strip = tags.get(278, [height])[0]
    row_bytes = width * spp
    out = bytearray()
    for i, (off, cnt) in enumerate(zip(offsets, counts)):
        if off + cnt > len(blob):
            raise MediaFormatError("strip outside blob")
        raw = blob[off : off + cnt]
        n_rows = min(rows_per_strip, height - i * rows_per_strip)
        expected = n_rows * row_bytes
        if compression == _TIFF_COMP_NONE:
            if len(raw) < expected:
                raise MediaFormatError("uncompressed strip short")
            out += raw[:expected]
        elif compression == _TIFF_COMP_PACKBITS:
            out += packbits_decode(raw, expected)
        else:
            raise MediaFormatError(
                f"unsupported TIFF compression {compression}"
            )
    if len(out) != height * row_bytes:
        raise MediaFormatError("strip data short of image size")
    return TiffPixels(width, height, spp, compression, bytes(out))


def encode_tiff_strips(
    pixels: bytes,
    width: int,
    height: int,
    samples_per_pixel: int = 1,
    compression: int = _TIFF_COMP_NONE,
    rows_per_strip: int = 8,
    big_endian: bool = False,
) -> bytes:
    """Fixture encoder: strip-based 8-bit TIFF (uncompressed or
    PackBits), multi-strip, with the full geometry + strip tag set."""
    if len(pixels) != width * height * samples_per_pixel:
        raise MediaFormatError("pixel buffer size mismatch")
    endian = ">" if big_endian else "<"
    row_bytes = width * samples_per_pixel
    strips = []
    for r0 in range(0, height, rows_per_strip):
        raw = pixels[r0 * row_bytes : min(r0 + rows_per_strip, height) * row_bytes]
        strips.append(
            packbits_encode(raw)
            if compression == _TIFF_COMP_PACKBITS else raw
        )

    entries: list[tuple[int, int, int, int]] = []  # tag, typ, count, value
    n_tags = 9
    # layout: header(8) + ifd(2 + 12*n + 4) + [bps array] + strip arrays + data
    pos = 8 + 2 + 12 * n_tags + 4
    bps_off = pos
    if samples_per_pixel > 1:
        pos += 2 * samples_per_pixel
    offsets_off = pos
    pos += 4 * len(strips)
    counts_off = pos
    pos += 4 * len(strips)
    data_off = pos
    strip_offsets = []
    o = data_off
    for s in strips:
        strip_offsets.append(o)
        o += len(s)

    def entry(tag: int, typ: int, count: int, value: int) -> bytes:
        e = struct.pack(endian + "HHI", tag, typ, count)
        if typ == 3 and count == 1:
            return e + struct.pack(endian + "HH", value, 0)
        return e + struct.pack(endian + "I", value)

    out = bytearray(b"MM" if big_endian else b"II")
    out += struct.pack(endian + "H", 42) + struct.pack(endian + "I", 8)
    out += struct.pack(endian + "H", n_tags)
    out += entry(256, 4, 1, width)
    out += entry(257, 4, 1, height)
    if samples_per_pixel > 1:
        out += entry(258, 3, samples_per_pixel, bps_off)
    else:
        out += entry(258, 3, 1, 8)
    out += entry(259, 3, 1, compression)
    out += entry(262, 3, 1, 1 if samples_per_pixel == 1 else 2)
    out += entry(273, 4, len(strips), strip_offsets[0]
                 if len(strips) == 1 else offsets_off)
    out += entry(277, 3, 1, samples_per_pixel)
    out += entry(278, 4, 1, rows_per_strip)
    out += entry(279, 4, len(strips), len(strips[0])
                 if len(strips) == 1 else counts_off)
    out += struct.pack(endian + "I", 0)  # no next IFD
    if samples_per_pixel > 1:
        out += struct.pack(endian + f"{samples_per_pixel}H",
                           *([8] * samples_per_pixel))
    out += struct.pack(endian + f"{len(strips)}I", *strip_offsets)
    out += struct.pack(endian + f"{len(strips)}I",
                       *[len(s) for s in strips])
    for s in strips:
        out += s
    return bytes(out)


def encode_minimal_tiff(
    width: int, height: int, n_pages: int = 1, compression: int = 1,
    bits: int = 8, big_endian: bool = False, samples_per_pixel: int = 1,
) -> bytes:
    """Fixture encoder: valid IFD chain, geometry tags only (no strips).

    ``samples_per_pixel > 1`` emits BitsPerSample as a multi-valued SHORT
    array (count=N) stored out-of-line, the TIFF 6.0 layout real RGB
    scans use — the value field then holds an offset, not the value.
    """
    endian = ">" if big_endian else "<"
    out = bytearray((b"MM" if big_endian else b"II"))
    out += struct.pack(endian + "H", 42)
    out += struct.pack(endian + "I", 8)  # first IFD right after header

    def entry(tag: int, value: int) -> bytes:
        # type SHORT(3) for small values, left-justified in value field
        if endian == "<":
            return struct.pack("<HHIHH", tag, 3, 1, value, 0)
        return struct.pack(">HHIHH", tag, 3, 1, value, 0)

    pos = 8
    trailers: list[bytes] = []
    for page in range(n_pages):
        n = 4
        ifd_size = 2 + 12 * n + 4
        if samples_per_pixel > 1:
            # out-of-line SHORT[spp] array placed right after this IFD
            data_off = pos + ifd_size
            bps_entry = struct.pack(
                endian + "HHII", 258, 3, samples_per_pixel, data_off
            )
            trailer = struct.pack(
                endian + f"{samples_per_pixel}H",
                *([bits] * samples_per_pixel),
            )
        else:
            bps_entry = entry(258, bits)
            trailer = b""
        entries = (
            entry(256, width) + entry(257, height)
            + bps_entry + entry(259, compression)
        )
        next_off = (
            pos + ifd_size + len(trailer) if page < n_pages - 1 else 0
        )
        out += struct.pack(endian + "H", n) + entries
        out += struct.pack(endian + "I", next_off)
        out += trailer
        pos = len(out)
    return bytes(out)
