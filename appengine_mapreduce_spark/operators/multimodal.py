"""Multimodal (image/audio/video) column operators.

Design: media lives in opaque ``binary`` columns with a typed metadata
struct alongside (media_type, width/height or sample_rate/duration, codec).
Every codec is dependency-free and written from its public spec
(``functions/{png,jpeg,jpeg_pixels,media,flac}.py``). Two families have
no decode path: perceptual-audio SAMPLES (MP3/AAC need the ISO
filterbank and codebook tables, data this project does not ship; their
frame headers do decode) and motion-compensated video (H.264/VP9 need a
full codec library). The generic image/video operators marked ``# STUB``
emit deterministic stand-in content over the real pipeline shape;
swapping a real transform in changes only that inner function.

Scale notes: decode/feature steps run per blob on
``core.adapters.map_rows``, the Arrow seam the MapReduce API uses. One
input batch of binary blobs crosses into Python at a time, bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` (a 4K-frame batch at the
default 10k records would OOM — callers set it per media size), and output
rows go back to Arrow in blocks of at most ``_EMIT_BATCH_ROWS``. Partition
widening uses ensure_parallelism, same policy as the text operators.
"""

from __future__ import annotations

import hashlib
import struct as _struct

from pyspark.sql import DataFrame, functions as F

from appengine_mapreduce_spark.core.adapters import map_rows
from appengine_mapreduce_spark.core.partitioning import ensure_parallelism
from appengine_mapreduce_spark.core.pickling import register_self

register_self(__name__)


def _stub_decode_image(blob: bytes) -> tuple[int, int, bytes]:
    """Decode a blob to (width, height, pixel digest).

    PNG blobs take the REAL path: full parse + inflate + unfilter via
    functions/png.py, digest over the decoded pixels. JPEG blobs take the
    REAL header path here: SOFn segment scan via functions/jpeg.py for
    true dimensions with a digest over the raw blob (this stub keeps the
    cheap path; full JPEG pixel decode lives in decode_jpeg_pixel_stats /
    decode_jpeg_color_pixel_stats). Other formats fall back to a
    deterministic fake (# STUB) until their codecs exist.
    """
    from appengine_mapreduce_spark.functions.jpeg import JPEG_SOI, decode_jpeg_meta
    from appengine_mapreduce_spark.functions.png import PNG_SIGNATURE, decode_png

    if blob[:8] == PNG_SIGNATURE:
        img = decode_png(blob)
        return img.width, img.height, hashlib.md5(img.pixels).digest()
    if blob[:2] == JPEG_SOI:
        meta = decode_jpeg_meta(blob)
        return meta.width, meta.height, hashlib.md5(blob).digest()
    h = hashlib.md5(blob).digest()
    width = 16 + h[0] % 64
    height = 16 + h[1] % 64
    return width, height, h


def embed_media_table(
    df: DataFrame, content_col: str = "content", media_type: str = "image"
) -> DataFrame:
    """Attach the typed metadata struct to a binary-column table —
    the canonical multimodal layout (blob + metadata, queryable without
    touching bytes)."""
    meta = F.struct(
        F.lit(media_type).alias("media_type"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("sample_rate"),
        F.lit(None).cast("bigint").alias("duration_ms"),
        F.lit(None).cast("string").alias("codec"),
    )
    return df.withColumn("media_meta", meta)


def decode_image_features(
    df: DataFrame, id_col: str = "id", content_col: str = "content"
) -> DataFrame:
    """Decode blobs → (width, height, feature vector). Pipeline shape for
    any per-item media transform: widen partitions, then one row function
    per blob on map_rows (one Python crossing per Arrow batch).

    Feature vector: 8 floats from the pixel digest (# STUB — a real
    implementation would pool CNN activations or color histograms)."""
    out_schema = f"{id_col} bigint, width int, height int, features array<float>"
    df = ensure_parallelism(df.select(id_col, content_col))

    def decode(row):
        i, blob = row
        w, h, digest = _stub_decode_image(blob)
        yield i, w, h, [x / 255.0 for x in _struct.unpack("8B", digest[:8])]

    return map_rows(df, decode, out_schema)


def decode_png_images(
    df: DataFrame, id_col: str = "id", content_col: str = "content"
) -> DataFrame:
    """REAL PNG decode over a binary column: chunk parse + CRC verify +
    zlib inflate + scanline unfilter (functions/png.py), one row per blob
    on map_rows. Output per image: dimensions, format fields, and
    pixel_sum/n_pixels over the decoded bytes (decode-sensitive stats a
    header peek cannot fake)."""
    from appengine_mapreduce_spark.functions.png import decode_png

    out_schema = (
        f"{id_col} bigint, width int, height int, bit_depth int, "
        "color_type int, pixel_sum bigint, n_pixels bigint"
    )
    df = ensure_parallelism(df.select(id_col, content_col))

    def decode(row):
        i, blob = row
        img = decode_png(blob)
        yield (
            i, img.width, img.height, img.bit_depth, img.color_type,
            sum(img.pixels), len(img.pixels) // img.channels,
        )

    return map_rows(df, decode, out_schema)


def decode_jpeg_headers(
    df: DataFrame, id_col: str = "id", content_col: str = "content"
) -> DataFrame:
    """REAL JPEG header decode over a binary column: marker-segment scan to
    the SOFn frame header (functions/jpeg.py, stdlib-only), one row per
    blob on map_rows. Output per image: dimensions, sample precision,
    component count, and baseline/progressive mode — the fields a corpus
    dimension-filter reads without entropy-decoding pixels."""
    from appengine_mapreduce_spark.functions.jpeg import decode_jpeg_meta

    out_schema = (
        f"{id_col} bigint, width int, height int, precision int, "
        "n_components int, progressive boolean"
    )
    df = ensure_parallelism(df.select(id_col, content_col))

    def decode(row):
        i, blob = row
        m = decode_jpeg_meta(blob)
        yield i, m.width, m.height, m.precision, m.n_components, m.progressive

    return map_rows(df, decode, out_schema)


def decode_audio_meta(
    df: DataFrame, id_col: str = "id", content_col: str = "content"
) -> DataFrame:
    """REAL WAV metadata decode over a binary column (functions/media.py
    RIFF chunk walk), Arrow-batched. Output: channels, sample rate, bit
    depth, frame count, duration — the routing fields for an audio corpus
    (resample? mono-ize? drop sub-second clips?) read without touching
    samples."""
    from appengine_mapreduce_spark.functions.media import decode_wav_meta

    out_schema = (
        f"{id_col} bigint, n_channels int, sample_rate int, "
        "bits_per_sample int, n_frames bigint, duration_ms bigint"
    )
    df = ensure_parallelism(df.select(id_col, content_col))

    def decode(row):
        i, blob = row
        m = decode_wav_meta(blob)
        yield (i, m.n_channels, m.sample_rate, m.bits_per_sample, m.n_frames,
               m.duration_ms)

    return map_rows(df, decode, out_schema)


def decode_video_meta(
    df: DataFrame, id_col: str = "id", content_col: str = "content"
) -> DataFrame:
    """REAL MP4/ISO-BMFF metadata decode over a binary column
    (functions/media.py box walk to moov/mvhd), Arrow-batched. Output:
    brand, timescale, duration, track count — what frame-sampling and
    length-filter passes read before any codec work."""
    from appengine_mapreduce_spark.functions.media import decode_mp4_meta

    out_schema = (
        f"{id_col} bigint, major_brand string, timescale bigint, "
        "duration_ms bigint, n_tracks int"
    )
    df = ensure_parallelism(df.select(id_col, content_col))

    def decode(row):
        i, blob = row
        m = decode_mp4_meta(blob)
        yield i, m.major_brand, m.timescale, m.duration_ms, m.n_tracks

    return map_rows(df, decode, out_schema)


def resize_images(
    df: DataFrame,
    target_w: int,
    target_h: int,
    id_col: str = "id",
    content_col: str = "content",
) -> DataFrame:
    """Resize blobs to (target_w, target_h). # STUB: emits a deterministic
    re-encoded blob (digest-prefixed) of the right declared size; a real
    implementation swaps only the inner function."""
    out_schema = f"{id_col} bigint, width int, height int, {content_col} binary"
    df = ensure_parallelism(df.select(id_col, content_col))

    def resize(row):
        i, blob = row
        digest = hashlib.md5(blob).digest()
        yield i, target_w, target_h, digest + bytes([target_w % 256, target_h % 256])

    return map_rows(df, resize, out_schema)


def sample_video_frames(
    df: DataFrame,
    every_ms: int = 1000,
    id_col: str = "id",
    content_col: str = "content",
    duration_col: str = "duration_ms",
) -> DataFrame:
    """Frame sampling: one output row per sampled timestamp (explode shape).
    Frame extraction is # STUB (digest of (blob, ts)); the row-explosion,
    schema, and batch handling are the real pipeline."""
    out_schema = f"{id_col} bigint, frame_ts_ms bigint, frame binary"
    df = ensure_parallelism(df.select(id_col, content_col, duration_col))

    def sample(row):
        i, blob, dur = row
        for ts in range(0, dur, every_ms):
            yield i, ts, hashlib.md5(blob + ts.to_bytes(8, "big")).digest()

    return map_rows(df, sample, out_schema)


def _pcm_feature_row(samples: list) -> tuple:
    """Integer-exact clip features shared by the WAV and AVI audio paths:
    (n_samples, energy sum-of-squares, peak amplitude, zero crossings)."""
    sum_sq = sum(s * s for s in samples)
    peak = max((abs(s) for s in samples), default=0)
    zc = sum(
        1 for a, b in zip(samples, samples[1:]) if (a >= 0) != (b >= 0)
    )
    return len(samples), sum_sq, peak, zc


def audio_pcm_features(
    df: DataFrame, id_col: str = "id", content_col: str = "content"
) -> DataFrame:
    """REAL audio SAMPLE decode + feature extraction over a binary column:
    PCM frames unpacked stdlib-only (functions/media.decode_wav_samples —
    WAV needs no codec), then integer-exact signal features: total energy
    (sum of squares), peak amplitude, zero-crossing count. These are the
    clip-level stats an audio corpus filter runs (silence/clipping/noise
    screens); integer arithmetic keeps them engine-portable for the
    oracle. MP3/AAC samples do not decode (see the module docstring) —
    PCM needs no codec."""
    from appengine_mapreduce_spark.functions.media import decode_wav_samples

    out_schema = (
        f"{id_col} bigint, n_samples bigint, sum_sq bigint, "
        "peak int, zero_crossings bigint"
    )
    df = ensure_parallelism(df.select(id_col, content_col))

    def decode(row):
        i, blob = row
        _meta, samples = decode_wav_samples(blob)
        yield i, *_pcm_feature_row(samples)

    return map_rows(df, decode, out_schema)


def audio_pcm_features_per_channel(
    df: DataFrame, id_col: str = "id", content_col: str = "content"
) -> DataFrame:
    """audio_pcm_features, one row per (clip, channel): the decoded
    frame stream de-interleaves by meta.n_channels and each channel gets
    its own integer-exact feature row — the shape a stereo/multi-track
    corpus screen needs (a silent or clipped channel hides inside
    whole-clip stats). Same map_rows seam; rows fan out n_channels x,
    still clip-bounded."""
    from appengine_mapreduce_spark.functions.media import decode_wav_samples

    out_schema = (
        f"{id_col} bigint, channel int, n_samples bigint, sum_sq bigint, "
        "peak int, zero_crossings bigint"
    )
    df = ensure_parallelism(df.select(id_col, content_col))

    def decode(row):
        i, blob = row
        meta, samples = decode_wav_samples(blob)
        for ch in range(meta.n_channels):
            yield i, ch, *_pcm_feature_row(samples[ch::meta.n_channels])

    return map_rows(df, decode, out_schema)


def decode_jpeg_pixel_stats(
    df: DataFrame, id_col: str = "id", content_col: str = "content"
) -> DataFrame:
    """REAL JPEG PIXEL decode over a binary column: full grayscale
    entropy decode + dequant + IDCT, baseline or progressive
    (functions/jpeg_pixels.decode_gray, dependency-free per the public
    T.81 spec), reduced to per-image pixel statistics (sum/min/max —
    integer-exact, the shape an image-corpus filter uses for
    exposure/blank-page screens). Color streams go through
    decode_jpeg_color_pixel_stats."""
    from appengine_mapreduce_spark.functions.jpeg_pixels import decode_gray

    out_schema = (
        f"{id_col} bigint, width int, height int, px_sum bigint, "
        "px_min int, px_max int"
    )
    df = ensure_parallelism(df.select(id_col, content_col))

    def decode(row):
        i, blob = row
        w, h, px = decode_gray(blob)
        yield i, w, h, sum(px), min(px), max(px)

    return map_rows(df, decode, out_schema)


def decode_mp3_frame_meta(
    df: DataFrame, id_col: str = "id", content_col: str = "content"
) -> DataFrame:
    """REAL MP3 frame-header metadata over a binary column
    (functions/media.decode_mp3_meta): walk every Layer III frame —
    sync + bitrate/samplerate tables, per-header frame length — for frame
    count, exact duration and CBR/VBR-ness, skipping a leading ID3v2 tag.
    The compressed SAMPLES do not decode (the filterbank/MDCT needs ISO
    tables this project does not ship); the frame walk is the routing
    layer an audio corpus filters on."""
    from appengine_mapreduce_spark.functions.media import decode_mp3_meta

    out_schema = (
        f"{id_col} bigint, mpeg_version string, sample_rate int, "
        "n_frames bigint, duration_ms bigint, bitrate_kbps int, "
        "is_cbr boolean, channel_mode string"
    )
    df = ensure_parallelism(df.select(id_col, content_col))

    def decode(row):
        i, blob = row
        m = decode_mp3_meta(blob)
        yield (i, m.mpeg_version, m.sample_rate, m.n_frames, m.duration_ms,
               m.bitrate_kbps, m.is_cbr, m.channel_mode)

    return map_rows(df, decode, out_schema)


def avi_audio_pcm_features(
    df: DataFrame, id_col: str = "id", content_col: str = "content"
) -> DataFrame:
    """REAL audio-track SAMPLE decode from VIDEO containers: extract the
    AVI auds stream's PCM16 samples (functions/media.decode_avi_pcm_audio
    — RIFF strl/strf walk + NNwb chunk concatenation, zero-codec) and
    compute the same integer-exact clip features as the WAV path
    (_pcm_feature_row). A video corpus screens soundtracks
    (silence/clipping) without any DSP library."""
    from appengine_mapreduce_spark.functions.media import decode_avi_pcm_audio

    out_schema = (
        f"{id_col} bigint, sample_rate int, n_samples bigint, "
        "sum_sq bigint, peak int, zero_crossings bigint"
    )
    df = ensure_parallelism(df.select(id_col, content_col))

    def decode(row):
        i, blob = row
        meta, samples = decode_avi_pcm_audio(blob)
        yield i, meta.sample_rate, *_pcm_feature_row(samples)

    return map_rows(df, decode, out_schema)


def decode_tiff_pages(
    df: DataFrame, id_col: str = "id", content_col: str = "content"
) -> DataFrame:
    """REAL TIFF metadata over a binary column
    (functions/media.decode_tiff_meta): IFD-chain walk for page count +
    first-page geometry/compression — the routing metadata for scanned-
    document corpora (multi-page TIFF is the document-scan interchange
    format; per-page pixel decode depends on the embedded compression)."""
    from appengine_mapreduce_spark.functions.media import decode_tiff_meta

    out_schema = (
        f"{id_col} bigint, byte_order string, n_pages bigint, width int, "
        "height int, bits_per_sample int, compression int"
    )
    df = ensure_parallelism(df.select(id_col, content_col))

    def decode(row):
        i, blob = row
        m = decode_tiff_meta(blob)
        yield (i, m.byte_order, m.n_pages, m.width, m.height,
               m.bits_per_sample, m.compression)

    return map_rows(df, decode, out_schema)


def decode_web_image_meta(
    df: DataFrame, id_col: str = "id", content_col: str = "content"
) -> DataFrame:
    """REAL WebP + GIF metadata over a binary column, dispatched by magic
    bytes (functions/media.decode_webp_meta / decode_gif_meta): dimensions
    from the public VP8/VP8L/VP8X header layouts, GIF frame counts from
    the block-structure walk. With JPEG/PNG this covers the whole web
    image-format triad's routing metadata, zero dependencies."""
    from appengine_mapreduce_spark.functions.media import (
        decode_gif_meta,
        decode_webp_meta,
    )

    out_schema = (
        f"{id_col} bigint, kind string, width int, height int, "
        "n_frames bigint, has_alpha boolean, has_animation boolean"
    )
    df = ensure_parallelism(df.select(id_col, content_col))

    def decode(row):
        i, blob = row
        if blob[:4] == b"GIF8":
            g = decode_gif_meta(blob)
            yield i, "gif", g.width, g.height, g.n_frames, False, g.n_frames > 1
        else:
            m = decode_webp_meta(blob)
            yield (i, "webp-" + m.format, m.width, m.height, 0, m.has_alpha,
                   m.has_animation)

    return map_rows(df, decode, out_schema)


def decode_video_frame_pixels(
    df: DataFrame, id_col: str = "id", content_col: str = "content"
) -> DataFrame:
    """REAL VIDEO FRAME PIXEL decode over a binary column with per-blob
    codec dispatch (functions/media.decode_avi_video_frames): MJPEG
    frames fully decode through the in-repo T.81 codec
    (functions/jpeg_pixels) and raw BI_RGB (DIB) frames decode from the
    bottom-up padded BGR layout — the two capture/intermediate formats
    that need no codec library. Inter-frame codecs (H.264/VP9) do not
    decode: they need a codec library."""
    from appengine_mapreduce_spark.functions.jpeg import decode_jpeg_meta
    from appengine_mapreduce_spark.functions.jpeg_pixels import (
        decode_color,
        decode_gray,
    )
    from appengine_mapreduce_spark.functions.media import (
        decode_avi_video_frames,
    )

    out_schema = (
        f"{id_col} bigint, n_frames bigint, width int, height int, "
        "px_sum bigint, px_min int, px_max int"
    )
    df = ensure_parallelism(df.select(id_col, content_col))

    def decode(row):
        i, blob = row
        meta, codec, frames = decode_avi_video_frames(blob)
        total = 0
        mn, mx = 255, 0
        for fr in frames:
            if codec == "DIB":
                px = [v for p in fr for v in p]
            elif decode_jpeg_meta(fr).n_components == 3:
                _w, _h, rgb = decode_color(fr)
                px = [v for p in rgb for v in p]
            else:
                _w, _h, px = decode_gray(fr)
            total += sum(px)
            mn = min(mn, min(px))
            mx = max(mx, max(px))
        yield (i, meta.n_frames, meta.width, meta.height, total,
               mn if frames else 0, mx if frames else 0)

    return map_rows(df, decode, out_schema)


def decode_aac_frame_meta(
    df: DataFrame, id_col: str = "id", content_col: str = "content"
) -> DataFrame:
    """REAL AAC/ADTS frame-header metadata over a binary column
    (functions/media.decode_aac_adts_meta): walk the ADTS framing — sync,
    profile, sampling-frequency index, channel config, 13-bit frame
    length — for frame count, exact duration (1024 samples/frame) and
    payload bytes. Like MP3, the header walk is the routing layer; AAC
    SAMPLES do not decode (same missing ISO tables)."""
    from appengine_mapreduce_spark.functions.media import decode_aac_adts_meta

    out_schema = (
        f"{id_col} bigint, profile string, sample_rate int, "
        "n_channels int, n_frames bigint, duration_ms bigint, "
        "total_bytes bigint"
    )
    df = ensure_parallelism(df.select(id_col, content_col))

    def decode(row):
        i, blob = row
        m = decode_aac_adts_meta(blob)
        yield (i, m.profile, m.sample_rate, m.n_channels, m.n_frames,
               m.duration_ms, m.total_bytes)

    return map_rows(df, decode, out_schema)


def decode_jpeg_color_pixel_stats(
    df: DataFrame, id_col: str = "id", content_col: str = "content"
) -> DataFrame:
    """REAL COLOR JPEG pixel decode over a binary column — baseline OR
    progressive streams, full entropy decode + dequant + IDCT + chroma
    upsampling + JFIF color transform (functions/jpeg_pixels.decode_color)
    — reduced to integer-exact per-image RGB statistics."""
    from appengine_mapreduce_spark.functions.jpeg_pixels import decode_color

    out_schema = (
        f"{id_col} bigint, width int, height int, px_sum bigint, "
        "px_min int, px_max int"
    )
    df = ensure_parallelism(df.select(id_col, content_col))

    def decode(row):
        i, blob = row
        w, h, rgb = decode_color(blob)
        flat = [v for px in rgb for v in px]
        yield i, w, h, sum(flat), min(flat), max(flat)

    return map_rows(df, decode, out_schema)


def mp4_frame_stats(
    df: DataFrame, id_col: str = "id", content_col: str = "content"
) -> DataFrame:
    """REAL frame-level video-container metadata over a binary column:
    walk moov→trak→mdia→minf→stbl and decode the stts/stsz sample tables
    (functions/media.decode_mp4_track_samples, stdlib-only) — frame
    count, per-frame byte sizes, track duration. This is the routing
    information a video corpus filters on (drop sub-second clips, cap
    bitrate, budget decode cost) WITHOUT any codec; H.264/VP9 frame
    pixels do not decode (no codec library)."""
    from appengine_mapreduce_spark.functions.media import (
        decode_mp4_track_samples,
    )

    out_schema = (
        f"{id_col} bigint, n_samples bigint, total_bytes bigint, "
        "max_sample_bytes bigint, duration_units bigint"
    )
    df = ensure_parallelism(df.select(id_col, content_col))

    def decode(row):
        i, blob = row
        ts = decode_mp4_track_samples(blob)
        yield i, ts.n_samples, ts.total_bytes, ts.max_sample_bytes, ts.duration_units

    return map_rows(df, decode, out_schema)


def decode_gif_pixel_stats(
    df: DataFrame, id_col: str = "id", content_col: str = "content"
) -> DataFrame:
    """REAL GIF PIXEL decode over a binary column: full LZW entropy
    decode (variable-width codes, 12-bit dictionary, deferred clear) +
    palette mapping + 4-pass de-interlace
    (functions/media.decode_gif_frames, implemented from the public
    GIF89a spec — LZW needs no codec tables). Emits per-blob frame count,
    first-frame geometry, and integer-exact RGB channel statistics over
    ALL frames. Frames decode standalone (no disposal compositing —
    documented scope; per-frame stats need none)."""
    from appengine_mapreduce_spark.functions.media import decode_gif_frames

    out_schema = (
        f"{id_col} bigint, n_frames int, width int, height int, "
        "rgb_sum bigint, px_min int, px_max int"
    )
    df = ensure_parallelism(df.select(id_col, content_col))

    def decode(row):
        i, blob = row
        _meta, frames = decode_gif_frames(blob)
        rgb_sum = 0
        px_min, px_max = 255, 0
        for fr in frames:
            for idx in fr.pixels:
                r, g, b = fr.palette[idx]
                rgb_sum += r + g + b
                lo, hi = min(r, g, b), max(r, g, b)
                px_min = lo if lo < px_min else px_min
                px_max = hi if hi > px_max else px_max
        f0 = frames[0] if frames else None
        yield (
            i, len(frames), f0.width if f0 else 0, f0.height if f0 else 0,
            rgb_sum, px_min if frames else 0, px_max if frames else 0,
        )

    return map_rows(df, decode, out_schema)


def decode_tiff_pixel_stats(
    df: DataFrame, id_col: str = "id", content_col: str = "content"
) -> DataFrame:
    """REAL TIFF PIXEL decode over a binary column: strip-based baseline
    layouts — uncompressed and PackBits RLE, 8 bits/sample, gray or RGB
    (functions/media.decode_tiff_strips, public TIFF 6.0 + Apple
    PackBits). The document-scan ingest shape: per-page geometry +
    integer-exact sample statistics for blank-page/exposure screens."""
    from appengine_mapreduce_spark.functions.media import decode_tiff_strips

    out_schema = (
        f"{id_col} bigint, width int, height int, samples_per_pixel int, "
        "compression int, px_sum bigint, px_min int, px_max int"
    )
    df = ensure_parallelism(df.select(id_col, content_col))

    def decode(row):
        i, blob = row
        tp = decode_tiff_strips(blob)
        yield (
            i, tp.width, tp.height, tp.samples_per_pixel, tp.compression,
            sum(tp.pixels), min(tp.pixels), max(tp.pixels),
        )

    return map_rows(df, decode, out_schema)


def decode_bmp_pixel_stats(
    df: DataFrame, id_col: str = "id", content_col: str = "content"
) -> DataFrame:
    """REAL BMP pixel decode over a binary column: BITMAPINFOHEADER
    layouts — 24-bit BGR and 8-bit palette, BI_RGB and BI_RLE8 runs
    (functions/media.decode_bmp_pixels, all algorithmic). Emits geometry
    + integer-exact RGB channel statistics."""
    from appengine_mapreduce_spark.functions.media import decode_bmp_pixels

    out_schema = (
        f"{id_col} bigint, width int, height int, bits_per_pixel int, "
        "compression int, rgb_sum bigint, px_min int, px_max int"
    )
    df = ensure_parallelism(df.select(id_col, content_col))

    def decode(row):
        i, blob = row
        bp = decode_bmp_pixels(blob)
        flat = [v for p in bp.pixels for v in p]
        yield (
            i, bp.width, bp.height, bp.bits_per_pixel, bp.compression,
            sum(flat), min(flat), max(flat),
        )

    return map_rows(df, decode, out_schema)


def decode_flac_audio_features(
    df: DataFrame, id_col: str = "id", content_col: str = "content"
) -> DataFrame:
    """REAL LOSSLESS-COMPRESSED audio decode over a binary column: full
    FLAC frame decode — Rice-coded residuals over fixed/LPC predictors,
    stereo decorrelation, CRC-8/CRC-16 verification
    (functions/flac.py, implemented from the public spec; FLAC is
    algorithmic, no codec tables). Emits stream fields + the integer
    clip features over channel 0 — same shape as the PCM path, so a
    corpus filter treats WAV and FLAC uniformly."""
    from appengine_mapreduce_spark.functions.flac import decode_flac

    out_schema = (
        f"{id_col} bigint, n_channels int, sample_rate int, "
        "n_samples bigint, sum_sq bigint, peak int, zero_crossings bigint"
    )
    df = ensure_parallelism(df.select(id_col, content_col))

    def decode(row):
        i, blob = row
        info, channels = decode_flac(blob)
        yield i, info.n_channels, info.sample_rate, *_pcm_feature_row(channels[0])

    return map_rows(df, decode, out_schema)


def decode_mrle_video_stats(
    df: DataFrame, id_col: str = "id", content_col: str = "content"
) -> DataFrame:
    """REAL INTER-FRAME video decode over a binary column: MS-RLE
    (BI_RLE8 in AVI) — each frame's RLE stream composites onto the
    previous frame's canvas, end-of-line/delta escapes skipping
    unchanged pixels (temporal prediction). The decode proves the
    compositing chain: per-frame statistics are over the RESOLVED
    frames, not the wire diffs (functions/media.decode_avi_mrle_frames).
    Motion-compensated codecs (H.264/VP9) do not decode (they need a
    codec library); run-length temporal video needs none."""
    from appengine_mapreduce_spark.functions.media import (
        decode_avi_mrle_frames,
    )

    out_schema = (
        f"{id_col} bigint, n_frames int, width int, height int, "
        "rgb_sum bigint, px_min int, px_max int"
    )
    df = ensure_parallelism(df.select(id_col, content_col))

    def decode(row):
        i, blob = row
        meta, palette, frames = decode_avi_mrle_frames(blob)
        rgb_sum = 0
        mn, mx = 255, 0
        for fr in frames:
            for idx in fr:
                r, g, b = palette[idx]
                rgb_sum += r + g + b
                lo, hi = min(r, g, b), max(r, g, b)
                mn = lo if lo < mn else mn
                mx = hi if hi > mx else mx
        yield (i, meta.n_frames, meta.width, meta.height, rgb_sum,
               mn if frames else 0, mx if frames else 0)

    return map_rows(df, decode, out_schema)
