"""Multimodal plumbing tests: binary columns in/out of Arrow batches,
deterministic stub decoders, explode shapes, schema contracts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from appengine_mapreduce_spark.operators.multimodal import (
    decode_image_features,
    embed_media_table,
    resize_images,
    sample_video_frames,
)


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [(i, bytes([i % 251]) * (100 + i)) for i in range(50)]
    return spark.createDataFrame(rows, "id bigint, content binary")


def test_embed_media_table_schema(spark, media_df):
    out = embed_media_table(media_df)
    meta_type = dict(out.dtypes)["media_meta"]
    assert "media_type" in meta_type and "sample_rate" in meta_type
    assert out.filter(F.col("media_meta.media_type") == "image").count() == 50


def test_decode_image_features(spark, media_df):
    out = decode_image_features(media_df).collect()
    assert len(out) == 50
    byid = {r.id: r for r in out}
    for r in out:
        assert 16 <= r.width < 80 and 16 <= r.height < 80
        assert len(r.features) == 8
        assert all(0.0 <= f <= 1.0 for f in r.features)
    # deterministic: same content → same features
    again = {r.id: r for r in decode_image_features(media_df).collect()}
    assert all(byid[i].features == again[i].features for i in byid)


def test_resize_images(spark, media_df):
    out = resize_images(media_df, 224, 224).collect()
    assert len(out) == 50
    assert all(r.width == 224 and r.height == 224 for r in out)
    assert all(len(bytes(r.content)) == 18 for r in out)  # 16B digest + w + h


def test_sample_video_frames(spark):
    rows = [(1, b"videoblob-a", 3500), (2, b"videoblob-b", 999), (3, b"x", 0)]
    df = spark.createDataFrame(rows, "id bigint, content binary, duration_ms bigint")
    out = sample_video_frames(df, every_ms=1000).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r.id, []).append(r.frame_ts_ms)
    assert sorted(by_id[1]) == [0, 1000, 2000, 3000]
    assert by_id[2] == [0]
    assert 3 not in by_id  # zero-duration → no frames
    frames = {bytes(r.frame) for r in out}
    assert len(frames) == len(out)  # every (blob, ts) frame distinct


# --- Real PNG codec (functions/png.py) ------------------------------------

def test_png_roundtrip_all_filters_and_color_types():
    import random

    from appengine_mapreduce_spark.functions.png import decode_png, encode_png

    rng = random.Random(11)
    for color_type, ch in [(0, 1), (2, 3), (6, 4)]:
        w, h = 13, 9
        pixels = bytes(rng.randrange(256) for _ in range(w * h * ch))
        for filters in (None, [1] * h, [2] * h, [3] * h, [4] * h,
                        [y % 5 for y in range(h)]):
            blob = encode_png(w, h, pixels, color_type=color_type,
                              row_filters=filters)
            img = decode_png(blob)
            assert (img.width, img.height, img.bit_depth, img.color_type) == (
                w, h, 8, color_type)
            assert img.pixels == pixels, (color_type, filters)


def test_png_crc_corruption_detected():
    import pytest as _pytest

    from appengine_mapreduce_spark.functions.png import (
        PngFormatError, decode_png, encode_png,
    )

    blob = bytearray(encode_png(4, 4, bytes(range(16))))
    blob[40] ^= 0xFF  # flip a byte inside IDAT
    with _pytest.raises(PngFormatError):
        decode_png(bytes(blob))


def test_png_ihdr_peek_matches_full_decode():
    from appengine_mapreduce_spark.functions.png import (
        decode_ihdr, decode_png, encode_png,
    )

    blob = encode_png(640, 360, bytes(640 * 360), color_type=0)
    assert decode_ihdr(blob) == (640, 360, 8, 0)
    img = decode_png(blob)
    assert (img.width, img.height) == (640, 360)


def test_stub_decoder_takes_real_path_for_png():
    from appengine_mapreduce_spark.functions.png import encode_png
    from appengine_mapreduce_spark.operators.multimodal import _stub_decode_image

    pixels = bytes((x * 31) % 256 for x in range(20 * 10))
    blob = encode_png(20, 10, pixels, color_type=0)
    w, h, digest = _stub_decode_image(blob)
    assert (w, h) == (20, 10)  # REAL dims, not the md5-derived fake
    import hashlib as _hl

    assert digest == _hl.md5(pixels).digest()  # digest of decoded pixels


# --- Real JPEG header codec (functions/jpeg.py) ----------------------------

def test_jpeg_header_roundtrip():
    from appengine_mapreduce_spark.functions.jpeg import (
        decode_jpeg_meta, encode_minimal_jpeg,
    )

    for w, h, ncomp, prog in [
        (1, 1, 1, False), (640, 480, 3, False), (1920, 1080, 3, True),
        (65535, 1, 1, True), (13, 7, 4, False),
    ]:
        blob = encode_minimal_jpeg(w, h, n_components=ncomp, progressive=prog)
        m = decode_jpeg_meta(blob)
        assert (m.width, m.height, m.n_components, m.progressive) == (
            w, h, ncomp, prog)
        assert m.precision == 8


def test_jpeg_malformed_rejected():
    from appengine_mapreduce_spark.functions.jpeg import (
        JpegFormatError, decode_jpeg_meta, encode_minimal_jpeg,
    )

    with pytest.raises(JpegFormatError):
        decode_jpeg_meta(b"not a jpeg")
    with pytest.raises(JpegFormatError):
        decode_jpeg_meta(b"\xff\xd8\xff")  # truncated marker stream
    blob = bytearray(encode_minimal_jpeg(8, 8))
    # corrupt the SOF segment length so it overruns the buffer
    sof_at = bytes(blob).find(b"\xff\xc0")
    blob[sof_at + 2 : sof_at + 4] = (60000).to_bytes(2, "big")
    with pytest.raises(JpegFormatError):
        decode_jpeg_meta(bytes(blob))
    # no SOF before SOS
    no_sof = bytes(blob[:sof_at]) + b"\xff\xda\x00\x08\x01\x01\x00\x00\x3f\x00"
    with pytest.raises(JpegFormatError):
        decode_jpeg_meta(no_sof)


def test_jpeg_fill_bytes_and_restart_markers_skipped():
    """T.81 allows 0xFF fill bytes before any marker and standalone
    TEM/RSTn markers between segments — the scanner must skip both, and
    the pixel decoder reads the same walk, so fill before a segment, a
    scan or an in-scan restart marker decodes like the plain stream."""
    from appengine_mapreduce_spark.functions.jpeg import (
        JPEG_SOI, decode_jpeg_meta, encode_minimal_jpeg,
    )
    from appengine_mapreduce_spark.functions.jpeg_pixels import (
        decode_color,
        decode_gray,
        encode_baseline_gray,
        encode_progressive_color,
    )

    blob = encode_minimal_jpeg(320, 200, n_components=3)
    body = blob[2:]
    padded = JPEG_SOI + b"\xff\xff" + b"\xff\x01" + b"\xff\xd0" + body
    m = decode_jpeg_meta(padded)
    assert (m.width, m.height) == (320, 200)

    w, h = 20, 12
    gray = encode_baseline_gray(
        [(x * 9 + y * 4) % 256 for y in range(h) for x in range(w)], w, h,
        restart_interval=2,
    )
    filled = JPEG_SOI + b"\xff\xff" + gray[2:].replace(
        b"\xff\xd0", b"\xff\xff\xd0", 1
    )
    assert filled.count(b"\xff\xff") == 2
    assert decode_gray(filled) == decode_gray(gray)

    color = encode_progressive_color(
        [(x * 12, y * 20, (x + y) * 5) for y in range(h) for x in range(w)],
        w, h,
    )
    filled = color.replace(b"\xff\xda", b"\xff\xff\xda").replace(
        b"\xff\xd9", b"\xff\xff\xff\xd9"
    )
    assert filled.count(b"\xff\xff\xda") == 8
    assert decode_color(filled) == decode_color(color)


def test_stub_decoder_takes_real_path_for_jpeg():
    import hashlib as _hl

    from appengine_mapreduce_spark.functions.jpeg import encode_minimal_jpeg
    from appengine_mapreduce_spark.operators.multimodal import _stub_decode_image

    blob = encode_minimal_jpeg(321, 123)
    w, h, digest = _stub_decode_image(blob)
    assert (w, h) == (321, 123)  # REAL dims from the SOF scan
    assert digest == _hl.md5(blob).digest()


def test_decode_jpeg_headers_distributed(spark):
    from appengine_mapreduce_spark.functions.jpeg import encode_minimal_jpeg
    from appengine_mapreduce_spark.operators.multimodal import decode_jpeg_headers

    rows = []
    for i in range(40):
        rows.append((i, encode_minimal_jpeg(
            1 + i % 11, 1 + (i * 3) % 9,
            n_components=3 if i % 2 else 1, progressive=i % 3 == 0)))
    df = spark.createDataFrame(rows, "id bigint, content binary")
    got = {r.id: (r.width, r.height, r.n_components, r.progressive)
           for r in decode_jpeg_headers(df).collect()}
    for i in range(40):
        assert got[i] == (1 + i % 11, 1 + (i * 3) % 9,
                          3 if i % 2 else 1, i % 3 == 0), i


def test_decode_png_images_distributed(spark):
    from appengine_mapreduce_spark.functions.png import encode_png
    from appengine_mapreduce_spark.operators.multimodal import decode_png_images

    rows = []
    for i in range(50):
        w, h = 1 + i % 7, 1 + (i * 3) % 5
        pixels = bytes((i + p) % 256 for p in range(w * h))
        rows.append((i, encode_png(w, h, pixels,
                                   row_filters=[y % 5 for y in range(h)])))
    df = spark.createDataFrame(rows, "id bigint, content binary")
    got = {r.id: (r.width, r.height, r.pixel_sum, r.n_pixels)
           for r in decode_png_images(df).collect()}
    for i in range(50):
        w, h = 1 + i % 7, 1 + (i * 3) % 5
        want_sum = sum((i + p) % 256 for p in range(w * h))
        assert got[i] == (w, h, want_sum, w * h), i


# --- Real WAV / MP4 metadata codecs (functions/media.py) -------------------

def test_wav_meta_roundtrip():
    from appengine_mapreduce_spark.functions.media import (
        decode_wav_meta, encode_wav,
    )

    for ch, rate, bits, frames in [
        (1, 16000, 16, 16000), (2, 44100, 16, 44100 * 3), (1, 8000, 8, 0),
    ]:
        m = decode_wav_meta(encode_wav(ch, rate, bits, frames))
        assert (m.n_channels, m.sample_rate, m.bits_per_sample, m.n_frames) == (
            ch, rate, bits, frames)
        assert m.duration_ms == frames * 1000 // rate


def test_wav_meta_odd_chunk_alignment():
    """RIFF chunks are word-aligned: an odd-sized unknown chunk before
    fmt/data must not derail the walk."""
    import struct

    from appengine_mapreduce_spark.functions.media import (
        decode_wav_meta, encode_wav,
    )

    base = encode_wav(1, 16000, 16, 100)
    odd = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"  # 3 bytes + pad
    patched = base[:12] + odd + base[12:]
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    m = decode_wav_meta(patched)
    assert (m.sample_rate, m.n_frames) == (16000, 100)


def test_wav_meta_malformed():
    from appengine_mapreduce_spark.functions.media import (
        MediaFormatError, decode_wav_meta,
    )

    with pytest.raises(MediaFormatError):
        decode_wav_meta(b"RIFFxxxxNOPE")
    with pytest.raises(MediaFormatError):
        decode_wav_meta(b"RIFF\x10\x00\x00\x00WAVE")  # no fmt/data


def test_mp4_meta_both_mvhd_versions_and_64bit_box():
    import struct

    from appengine_mapreduce_spark.functions.media import (
        decode_mp4_meta, encode_minimal_mp4,
    )

    for ver in (0, 1):
        m = decode_mp4_meta(encode_minimal_mp4(
            timescale=90000, duration=90000 * 7, n_tracks=2, version=ver))
        assert (m.timescale, m.duration_ms, m.n_tracks, m.major_brand) == (
            90000, 7000, 2, "isom")
    # 64-bit largesize framing on the ftyp box
    blob = encode_minimal_mp4(timescale=1000, duration=2500)
    (ftyp_size,) = struct.unpack(">I", blob[:4])
    body = blob[8:ftyp_size]
    big = (struct.pack(">I", 1) + b"ftyp" + struct.pack(">Q", 16 + len(body))
           + body + blob[ftyp_size:])
    m = decode_mp4_meta(big)
    assert m.duration_ms == 2500


def test_mp4_meta_malformed():
    from appengine_mapreduce_spark.functions.media import (
        MediaFormatError, decode_mp4_meta, encode_minimal_mp4,
    )

    with pytest.raises(MediaFormatError):
        decode_mp4_meta(b"\x00\x00\x00\x08ftyp")  # no moov
    blob = bytearray(encode_minimal_mp4())
    blob[0:4] = (10 ** 6).to_bytes(4, "big")  # box size overruns buffer
    with pytest.raises(MediaFormatError):
        decode_mp4_meta(bytes(blob))


def test_decode_audio_video_meta_distributed(spark):
    from appengine_mapreduce_spark.functions.media import (
        encode_minimal_mp4, encode_wav,
    )
    from appengine_mapreduce_spark.operators.multimodal import (
        decode_audio_meta, decode_video_meta,
    )

    wavs = [(i, encode_wav(1 + i % 2, 8000 * (1 + i % 3), 16, i * 50))
            for i in range(30)]
    df = spark.createDataFrame(wavs, "id bigint, content binary")
    got = {r.id: (r.n_channels, r.sample_rate, r.n_frames)
           for r in decode_audio_meta(df).collect()}
    for i in range(30):
        assert got[i] == (1 + i % 2, 8000 * (1 + i % 3), i * 50)

    mp4s = [(i, encode_minimal_mp4(1000, i * 333, 1 + i % 2, version=i % 2))
            for i in range(30)]
    df2 = spark.createDataFrame(mp4s, "id bigint, content binary")
    got2 = {r.id: (r.duration_ms, r.n_tracks)
            for r in decode_video_meta(df2).collect()}
    for i in range(30):
        assert got2[i] == (i * 333, 1 + i % 2)


def test_wav_pcm16_roundtrip_and_8bit_decode():
    from appengine_mapreduce_spark.functions.media import (
        decode_wav_samples,
        encode_wav,
        encode_wav_pcm16,
    )

    samples = [0, 100, -100, 32767, -32768, 5]
    blob = encode_wav_pcm16(samples, n_channels=1, sample_rate=8000)
    meta, back = decode_wav_samples(blob)
    assert back == samples
    assert meta.sample_rate == 8000 and meta.bits_per_sample == 16
    assert meta.n_frames == len(samples)

    # 8-bit unsigned path: constant fill 130 decodes to +2 (centered at 128)
    blob8 = encode_wav(
        n_channels=1, sample_rate=8000, bits_per_sample=8,
        n_frames=4, fill=130,
    )
    _m, s8 = decode_wav_samples(blob8)
    assert s8 == [2, 2, 2, 2]


def test_jpeg_baseline_codec_roundtrip():
    """Full baseline-grayscale JPEG: solid colors survive encode->decode
    BIT-EXACTLY (Q[DC]=8 preserves the flat DC), gradients within
    quantization tolerance, and a colour stream is not a gray one."""
    import pytest as _pytest

    from appengine_mapreduce_spark.functions.jpeg import (
        JpegFormatError,
        decode_jpeg_meta,
        encode_minimal_jpeg,
    )
    from appengine_mapreduce_spark.functions.jpeg_pixels import (
        decode_gray,
        encode_baseline_gray,
    )

    for color in (0, 7, 128, 255):
        for (w, h) in ((8, 8), (24, 16), (10, 12)):  # incl. non-multiple-of-8
            blob = encode_baseline_gray([color] * (w * h), w, h)
            meta = decode_jpeg_meta(blob)  # header decoder agrees
            assert (meta.width, meta.height, meta.n_components) == (w, h, 1)
            dw, dh, px = decode_gray(blob)
            assert (dw, dh) == (w, h) and set(px) == {color}

    w, h = 24, 16
    smooth = [min(255, x * 3 + y * 2) for y in range(h) for x in range(w)]
    _, _, px = decode_gray(encode_baseline_gray(smooth, w, h))
    assert max(abs(a - b) for a, b in zip(smooth, px)) <= 12

    sharp = [(x * 7 + y * 5) % 256 for y in range(h) for x in range(w)]
    _, _, px = decode_gray(encode_baseline_gray(sharp, w, h))
    assert max(abs(a - b) for a, b in zip(sharp, px)) <= 40

    with _pytest.raises(JpegFormatError):
        decode_gray(encode_minimal_jpeg(8, 8, n_components=3))


def test_jpeg_color_444_codec_roundtrip():
    """Baseline 4:4:4 color: solid RGB within ±1 after the YCbCr round
    trip, gradients within quantization tolerance, subsampled streams
    rejected."""
    import pytest as _pytest

    from appengine_mapreduce_spark.functions.jpeg import JpegFormatError
    from appengine_mapreduce_spark.functions.jpeg_pixels import (
        decode_color,
        encode_baseline_color,
    )

    for rgb in [(255, 0, 0), (0, 255, 0), (0, 0, 255), (12, 200, 99)]:
        w, h = 16, 8
        dw, dh, px = decode_color(
            encode_baseline_color([rgb] * (w * h), w, h)
        )
        assert (dw, dh) == (w, h)
        assert max(max(abs(a - b) for a, b in zip(p, rgb)) for p in px) <= 2

    w, h = 16, 16
    grad = [
        (min(255, x * 16), min(255, y * 16), 128)
        for y in range(h)
        for x in range(w)
    ]
    _, _, px = decode_color(encode_baseline_color(grad, w, h))
    assert max(
        max(abs(a - b) for a, b in zip(p, q)) for p, q in zip(px, grad)
    ) <= 20

    # a grayscale (1-component) stream is not a color stream
    from appengine_mapreduce_spark.functions.jpeg_pixels import (
        encode_baseline_gray,
    )

    with _pytest.raises(JpegFormatError):
        decode_color(encode_baseline_gray([0] * 64, 8, 8))


def test_jpeg_420_subsampled_roundtrip():
    """4:2:0 — the common web/camera layout: 2x2 Y blocks + downsampled
    chroma per MCU. Solid colors within ±2, gradients within chroma-
    smoothing tolerance, odd (non-MCU-aligned) dims handled."""
    from appengine_mapreduce_spark.functions.jpeg_pixels import (
        decode_color,
        encode_baseline_420,
    )

    for rgb in [(255, 0, 0), (12, 200, 99)]:
        for (w, h) in ((16, 16), (20, 12)):
            dw, dh, px = decode_color(
                encode_baseline_420([rgb] * (w * h), w, h)
            )
            assert (dw, dh) == (w, h)
            assert max(
                max(abs(a - b) for a, b in zip(p, rgb)) for p in px
            ) <= 2

    w, h = 32, 32
    grad = [
        (min(255, x * 8), min(255, y * 8), 100)
        for y in range(h)
        for x in range(w)
    ]
    _, _, px = decode_color(encode_baseline_420(grad, w, h))
    assert max(
        max(abs(a - b) for a, b in zip(p, q)) for p, q in zip(px, grad)
    ) <= 30


try:
    from hypothesis import given, settings, strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

if _HYP:

    @settings(max_examples=25, deadline=None)
    @given(
        color=st.integers(0, 255),
        w=st.integers(1, 32),
        h=st.integers(1, 32),
    )
    def test_jpeg_gray_solid_exact_property(color, w, h):
        """PROPERTY: any solid grayscale image at any dimension (including
        sub-block sizes) survives the full JPEG encode->decode pipeline
        bit-exactly — edge-replication padding keeps every block flat and
        Q[DC]=8 preserves the flat DC."""
        from appengine_mapreduce_spark.functions.jpeg_pixels import (
            decode_gray,
            encode_baseline_gray,
        )

        dw, dh, px = decode_gray(
            encode_baseline_gray([color] * (w * h), w, h)
        )
        assert (dw, dh) == (w, h) and set(px) == {color}

    @settings(max_examples=25, deadline=None)
    @given(
        samples=st.lists(
            st.integers(-32768, 32767), min_size=0, max_size=200
        ),
        rate=st.sampled_from([8000, 16000, 44100]),
    )
    def test_wav_pcm16_roundtrip_property(samples, rate):
        from appengine_mapreduce_spark.functions.media import (
            decode_wav_samples,
            encode_wav_pcm16,
        )

        meta, back = decode_wav_samples(
            encode_wav_pcm16(samples, sample_rate=rate)
        )
        assert back == samples
        assert meta.sample_rate == rate


def test_mp4_sample_table_roundtrip():
    from appengine_mapreduce_spark.functions.media import (
        decode_mp4_meta,
        decode_mp4_track_samples,
        encode_mp4_with_samples,
    )

    sizes = [100, 250, 99, 1024, 7]
    blob = encode_mp4_with_samples(sizes, sample_delta=3000, timescale=90000)
    ts = decode_mp4_track_samples(blob)
    assert ts.n_samples == 5
    assert ts.total_bytes == sum(sizes)
    assert ts.max_sample_bytes == 1024
    assert ts.duration_units == 15000
    # the plain metadata walker still reads the same stream
    m = decode_mp4_meta(blob)
    assert m.n_tracks == 1 and m.timescale == 90000

    # empty track: zero frames, zero duration
    ts0 = decode_mp4_track_samples(encode_mp4_with_samples([]))
    assert ts0.n_samples == 0 and ts0.total_bytes == 0
    assert ts0.duration_units == 0


def test_mp3_frame_walk_metadata():
    """MP3 frame-header walk: frame count / duration / CBR detection /
    ID3v2 skip, against the public bitrate and samplerate tables."""
    import pytest

    from appengine_mapreduce_spark.functions.media import (
        MediaFormatError,
        decode_mp3_meta,
        encode_minimal_mp3,
    )

    m = decode_mp3_meta(encode_minimal_mp3(40))  # MPEG-1, 128k, 44100
    assert (m.mpeg_version, m.sample_rate, m.bitrate_kbps) == ("1", 44100, 128)
    assert m.n_frames == 40
    assert m.duration_ms == 40 * 1152 * 1000 // 44100
    assert m.is_cbr and m.channel_mode == "stereo"

    # MPEG-2: 576 samples/frame, the low-rate tables, ID3v2 skipped
    m2 = decode_mp3_meta(
        encode_minimal_mp3(
            12, bitrate_idx=3, sr_idx=2, mpeg1=False, channel_mode=3,
            id3_bytes=200,
        )
    )
    assert (m2.mpeg_version, m2.sample_rate, m2.bitrate_kbps) == ("2", 16000, 24)
    assert m2.n_frames == 12 and m2.channel_mode == "mono"
    assert m2.duration_ms == 12 * 576 * 1000 // 16000

    # VBR: bitrate varies across frames -> is_cbr False, count still exact
    mv = decode_mp3_meta(encode_minimal_mp3(8, bitrate_idx=2, vbr_step=1))
    assert not mv.is_cbr and mv.n_frames == 8

    with pytest.raises(MediaFormatError):
        decode_mp3_meta(b"\x00" * 32)  # no sync anywhere
    with pytest.raises(MediaFormatError):
        # valid first header but truncated mid-stream walk is fine (we
        # stop at zero padding); a corrupt second header must raise
        good = encode_minimal_mp3(1)
        decode_mp3_meta(good + b"\xff\xff\xff\xff" * 2)


def test_aac_adts_frame_walk_metadata():
    """ADTS header walk: frame count via the 13-bit frame length, exact
    duration (1024 samples/frame), CRC-header variant, malformed sync."""
    import pytest

    from appengine_mapreduce_spark.functions.media import (
        MediaFormatError,
        decode_aac_adts_meta,
        encode_minimal_adts,
    )

    m = decode_aac_adts_meta(encode_minimal_adts(20))
    assert (m.profile, m.sample_rate, m.n_channels) == ("LC", 44100, 2)
    assert m.n_frames == 20
    assert m.duration_ms == 20 * 1024 * 1000 // 44100
    assert m.total_bytes == 20 * 200

    # 9-byte header (protection_absent=0): payload accounting must
    # exclude the CRC field too
    m2 = decode_aac_adts_meta(
        encode_minimal_adts(
            5, sf_idx=8, channels=1, profile=0, payload_bytes=64,
            with_crc_field=True,
        )
    )
    assert (m2.profile, m2.sample_rate) == ("Main", 16000)
    assert m2.total_bytes == 5 * 64
    assert m2.duration_ms == 5 * 1024 * 1000 // 16000

    with pytest.raises(MediaFormatError):
        decode_aac_adts_meta(b"\x12\x34" * 16)
    with pytest.raises(MediaFormatError):
        # reserved sampling-frequency index
        decode_aac_adts_meta(encode_minimal_adts(1, sf_idx=14))


def test_decode_video_frame_pixels_color_frames(spark):
    """The video-frame operator must route 3-component frames through the
    color decoder: an AVI of solid-RGB-gray MJPEG frames yields exact
    per-video stats (3 channels x pixels x value)."""
    from appengine_mapreduce_spark.functions.jpeg_pixels import (
        encode_baseline_color,
    )
    from appengine_mapreduce_spark.functions.media import encode_minimal_avi
    from appengine_mapreduce_spark.operators.multimodal import (
        decode_video_frame_pixels,
    )

    w, h = 16, 8
    vals = (30, 130, 230)
    frames = [
        encode_baseline_color([(v, v, v)] * (w * h), w, h) for v in vals
    ]
    blob = encode_minimal_avi(frames, w, h, fps=10)
    df = spark.createDataFrame([(1, bytearray(blob))], "id long, content binary")
    [row] = decode_video_frame_pixels(df).collect()
    assert (row.n_frames, row.width, row.height) == (3, w, h)
    assert row.px_sum == 3 * w * h * sum(vals)
    assert (row.px_min, row.px_max) == (min(vals), max(vals))


def test_tiff_ifd_chain_walk():
    """TIFF IFD chain: page counts, both byte orders, geometry fields,
    cyclic-chain and malformed-header rejection."""
    import pytest

    from appengine_mapreduce_spark.functions.media import (
        MediaFormatError,
        decode_tiff_meta,
        encode_minimal_tiff,
    )

    m = decode_tiff_meta(encode_minimal_tiff(800, 600))
    assert (m.byte_order, m.n_pages, m.width, m.height) == ("II", 1, 800, 600)
    m = decode_tiff_meta(
        encode_minimal_tiff(100, 50, n_pages=7, compression=6,
                            big_endian=True)
    )
    assert (m.byte_order, m.n_pages, m.compression) == ("MM", 7, 6)

    with pytest.raises(MediaFormatError):
        decode_tiff_meta(b"XX\x2a\x00" + b"\x00" * 8)
    with pytest.raises(MediaFormatError):
        decode_tiff_meta(b"II\x2b\x00" + b"\x00" * 8)  # BigTIFF magic
    # cyclic IFD chain must terminate with an error, not loop forever
    blob = bytearray(encode_minimal_tiff(8, 8))
    import struct as _st

    n = _st.unpack("<H", blob[8:10])[0]
    next_at = 10 + 12 * n
    blob[next_at : next_at + 4] = _st.pack("<I", 8)  # point back at itself
    with pytest.raises(MediaFormatError):
        decode_tiff_meta(bytes(blob))


def test_webp_gif_metadata_walks():
    """WebP (all three variants) and GIF header walks: dimensions, frame
    counts, flags, rejection of malformed streams."""
    import pytest

    from appengine_mapreduce_spark.functions.media import (
        MediaFormatError,
        decode_gif_meta,
        decode_webp_meta,
        encode_minimal_gif,
        encode_minimal_webp,
    )

    m = decode_webp_meta(encode_minimal_webp(320, 240))
    assert (m.width, m.height, m.format) == (320, 240, "lossy")
    m = decode_webp_meta(encode_minimal_webp(100, 50, "lossless", alpha=True))
    assert (m.width, m.height, m.format, m.has_alpha) == (
        100, 50, "lossless", True,
    )
    m = decode_webp_meta(
        encode_minimal_webp(4000, 3000, "extended", animation=True)
    )
    assert (m.width, m.height, m.has_animation) == (4000, 3000, True)

    g = decode_gif_meta(encode_minimal_gif(64, 32, n_frames=5, gce=True))
    assert (g.width, g.height, g.version, g.n_frames, g.has_gce) == (
        64, 32, "89a", 5, True,
    )
    assert decode_gif_meta(encode_minimal_gif(8, 8)).n_frames == 1

    with pytest.raises(MediaFormatError):
        decode_webp_meta(b"RIFF\x04\x00\x00\x00WAVE")
    with pytest.raises(MediaFormatError):
        decode_gif_meta(b"GIF90a" + b"\x00" * 16)
    # corrupt VP8 start code
    bad = bytearray(encode_minimal_webp(10, 10))
    bad[23] ^= 0xFF
    with pytest.raises(MediaFormatError):
        decode_webp_meta(bytes(bad))


def test_avi_audio_track_extraction():
    """The auds stream's PCM chunks concatenate to the exact written
    samples; files without an audio stream are rejected."""
    import pytest

    from appengine_mapreduce_spark.functions.jpeg_pixels import (
        encode_baseline_gray,
    )
    from appengine_mapreduce_spark.functions.media import (
        MediaFormatError,
        decode_avi_pcm_audio,
        encode_minimal_avi,
        encode_minimal_avi_with_audio,
    )

    frame = encode_baseline_gray([9] * 64, 8, 8)
    samples = [((i * 13) % 4001) - 2000 for i in range(250)]
    blob = encode_minimal_avi_with_audio(
        [frame], 8, 8, samples, sample_rate=16000
    )
    meta, out = decode_avi_pcm_audio(blob)
    assert out == samples
    assert (meta.sample_rate, meta.n_channels, meta.bits_per_sample) == (
        16000, 1, 16,
    )
    with pytest.raises(MediaFormatError):
        decode_avi_pcm_audio(encode_minimal_avi([frame], 8, 8))


def test_avi_mjpeg_container_roundtrip_and_frame_decode():
    """AVI RIFF walk: meta fields + frame extraction byte-exact; frames
    decode through the real JPEG codec; non-MJPG streams rejected."""
    import pytest

    from appengine_mapreduce_spark.functions.jpeg_pixels import (
        decode_gray,
        encode_baseline_gray,
    )
    from appengine_mapreduce_spark.functions.media import (
        MediaFormatError,
        decode_avi_mjpeg,
        encode_minimal_avi,
    )

    frames = [
        encode_baseline_gray([v] * (16 * 8), 16, 8) for v in (10, 100, 200)
    ]
    blob = encode_minimal_avi(frames, 16, 8, fps=30)
    meta, out = decode_avi_mjpeg(blob)
    assert (meta.width, meta.height, meta.n_frames) == (16, 8, 3)
    assert meta.codec == "MJPG" and meta.us_per_frame == 1_000_000 // 30
    assert out == frames  # byte-exact frame extraction
    # solid frames decode exactly through the real codec
    for f, v in zip(out, (10, 100, 200)):
        assert decode_gray(f)[2] == [v] * (16 * 8)

    with pytest.raises(MediaFormatError):
        decode_avi_mjpeg(b"RIFF\x00\x00\x00\x00WAVE")
    # non-MJPG codec 4CC must be rejected, not mis-decoded
    bad = blob.replace(b"MJPG", b"H264")
    with pytest.raises(MediaFormatError):
        decode_avi_mjpeg(bad)


def test_jpeg_progressive_codec_matches_baseline():
    """The progressive pipeline (DC first/refine + spectral-selection AC
    first with EOB runs + successive-approximation AC refinement) must
    reconstruct EXACTLY the coefficients the baseline stream carries, so
    decoding both encodings of the same source yields identical pixels."""
    from appengine_mapreduce_spark.functions.jpeg_pixels import (
        decode_gray,
        encode_baseline_gray,
        encode_progressive_gray,
    )

    w, h = 24, 16
    for pat in [
        [128] * (w * h),
        [min(255, x * 3 + y * 2) for y in range(h) for x in range(w)],
        [(x * 7 + y * 5) % 256 for y in range(h) for x in range(w)],
    ]:
        _, _, base = decode_gray(encode_baseline_gray(pat, w, h))
        blob = encode_progressive_gray(pat, w, h)
        _, _, prog = decode_gray(blob)
        assert prog == base


def test_jpeg_progressive_color_matches_baseline_color():
    """Progressive COLOR (interleaved DC scans in MCU order with
    per-component predictors + per-component AC first/refinement scans)
    must accumulate EXACTLY the coefficients the baseline color stream
    carries: decoding both encodings of the same RGB source yields
    identical pixels — including non-multiple-of-8 dimensions."""
    from appengine_mapreduce_spark.functions.jpeg_pixels import (
        decode_color,
        encode_baseline_color,
        encode_progressive_color,
    )

    for w, h in [(16, 16), (20, 13)]:
        patterns = [
            [(128, 64, 200)] * (w * h),
            [
                (min(255, x * 12), min(255, y * 16), (x * 7 + y * 5) % 256)
                for y in range(h)
                for x in range(w)
            ],
        ]
        for rgb in patterns:
            base = decode_color(encode_baseline_color(rgb, w, h))
            blob = encode_progressive_color(rgb, w, h)
            prog = decode_color(blob)
            assert prog[:2] == (w, h)
            assert prog[2] == base[2], (w, h)


def test_jpeg_progressive_color_solid_gray_exact():
    """Solid gray (r=g=b=v): the Y DC survives Q[DC]=8 quantization and
    the successive-approximation point transform losslessly, chroma is
    exactly 128, so the decode returns (v,v,v) bit-exactly — the property
    the jpeg_progressive_color_decode oracle relies on."""
    from appengine_mapreduce_spark.functions.jpeg_pixels import (
        decode_color,
        encode_progressive_color,
    )

    for v in (0, 1, 13, 127, 128, 200, 254, 255):
        w, h = 16, 8
        _, _, rgb = decode_color(
            encode_progressive_color([(v, v, v)] * (w * h), w, h)
        )
        assert rgb == [(v, v, v)] * (w * h), v


def test_jpeg_progressive_ac_past_table_is_rejected():
    """The progressive AC table codes sizes 1-8. With every quantization
    entry 1, a noisy checkerboard's point-transformed AC coefficients
    need 9 bits; both progressive encoders name the size and the limit
    instead of failing on a missing Huffman code."""
    import random

    from appengine_mapreduce_spark.functions.jpeg_pixels import (
        encode_progressive_color,
        encode_progressive_gray,
    )

    rnd = random.Random(5)
    w, h = 16, 16
    gray = [255 * ((x + y + (rnd.random() < 0.1)) % 2) for y in range(h) for x in range(w)]
    rgb = [(p, p, p) for p in gray]
    match = r"needs (9|10) bits; the progressive AC table codes at most 8"
    with pytest.raises(ValueError, match=match):
        encode_progressive_gray(gray, w, h, qt_zz=[1] * 64)
    with pytest.raises(ValueError, match=match):
        encode_progressive_color(rgb, w, h, qt_zz=[1] * 64)


def test_jpeg_restart_markers_roundtrip():
    """DRI/RSTn support (camera/libjpeg-style streams): gray and 4:4:4
    color streams with restart intervals decode identically to their
    non-restart encodings — DC predictors reset and the bitstream
    re-aligns at every marker. Progressive streams restart the same way
    (EOB runs reset too); the public progressive encoders write none, so
    those come from the writer behind them."""
    import numpy as np

    from appengine_mapreduce_spark.functions import jpeg_pixels as jp
    from appengine_mapreduce_spark.functions.jpeg_pixels import (
        decode_color,
        decode_gray,
        encode_baseline_color,
        encode_baseline_gray,
    )

    w, h = 32, 24
    pat = [(x * 7 + y * 5) % 256 for y in range(h) for x in range(w)]
    base = decode_gray(encode_baseline_gray(pat, w, h))[2]
    for ri in (1, 2, 5):
        got = decode_gray(
            encode_baseline_gray(pat, w, h, restart_interval=ri)
        )[2]
        assert got == base, ri

    w, h = 16, 16
    grad = [
        (min(255, x * 16), min(255, y * 16), 128)
        for y in range(h)
        for x in range(w)
    ]
    cbase = decode_color(encode_baseline_color(grad, w, h))[2]
    for ri in (1, 3):
        got = decode_color(
            encode_baseline_color(grad, w, h, restart_interval=ri)
        )[2]
        assert got == cbase, ri
        prog = jp._encode(
            jp._to_ycbcr(grad, w, h), [0x11] * 3, None,
            ac_bands=((1, 63),), restart_interval=ri,
        )
        assert b"\xff\xd0" in prog
        assert decode_color(prog)[2] == cbase, ri

    w, h = 32, 24
    for ri in (1, 5):
        prog = jp._encode(
            [np.asarray(pat).reshape(h, w)], [0x11], None,
            ac_bands=((1, 5), (6, 63)), restart_interval=ri,
        )
        assert decode_gray(prog)[2] == base, ri

if _HYP:

    @settings(max_examples=20, deadline=None)
    @given(
        n_frames=st.integers(1, 40),
        bitrate_idx=st.integers(1, 14),
        sr_idx=st.integers(0, 2),
        mpeg1=st.booleans(),
        channel_mode=st.integers(0, 3),
        id3=st.sampled_from([0, 10, 333]),
    )
    def test_mp3_frame_walk_property(
        n_frames, bitrate_idx, sr_idx, mpeg1, channel_mode, id3
    ):
        """PROPERTY: any framing-valid Layer III stream walks back to its
        exact frame count and table-derived fields, with or without an
        ID3v2 prefix."""
        from appengine_mapreduce_spark.functions.media import (
            decode_mp3_meta,
            encode_minimal_mp3,
        )

        m = decode_mp3_meta(
            encode_minimal_mp3(
                n_frames, bitrate_idx=bitrate_idx, sr_idx=sr_idx,
                mpeg1=mpeg1, channel_mode=channel_mode, id3_bytes=id3,
            )
        )
        assert m.n_frames == n_frames
        assert m.mpeg_version == ("1" if mpeg1 else "2")
        spf = 1152 if mpeg1 else 576
        assert m.duration_ms == n_frames * spf * 1000 // m.sample_rate

    @settings(max_examples=20, deadline=None)
    @given(
        n_frames=st.integers(1, 40),
        sf_idx=st.integers(0, 12),
        channels=st.integers(1, 7),
        profile=st.integers(0, 3),
        payload=st.integers(1, 500),
        crc=st.booleans(),
    )
    def test_aac_adts_walk_property(
        n_frames, sf_idx, channels, profile, payload, crc
    ):
        """PROPERTY: any framing-valid ADTS stream walks back exactly —
        frame count, payload accounting (CRC field excluded), duration
        from the sampling-frequency table."""
        from appengine_mapreduce_spark.functions.media import (
            decode_aac_adts_meta,
            encode_minimal_adts,
        )

        m = decode_aac_adts_meta(
            encode_minimal_adts(
                n_frames, sf_idx=sf_idx, channels=channels,
                profile=profile, payload_bytes=payload,
                with_crc_field=crc,
            )
        )
        assert m.n_frames == n_frames
        assert m.total_bytes == n_frames * payload
        assert m.duration_ms == n_frames * 1024 * 1000 // m.sample_rate

    @settings(max_examples=10, deadline=None)
    @given(
        vals=st.lists(st.integers(0, 255), min_size=1, max_size=6),
        w=st.sampled_from([8, 16, 24]),
        h=st.sampled_from([8, 16]),
        fps=st.integers(1, 60),
    )
    def test_avi_mjpeg_roundtrip_property(vals, w, h, fps):
        """PROPERTY: any MJPEG frame sequence survives the AVI container
        byte-exactly, and solid frames decode to their exact pixels."""
        from appengine_mapreduce_spark.functions.jpeg_pixels import (
            decode_gray,
            encode_baseline_gray,
        )
        from appengine_mapreduce_spark.functions.media import (
            decode_avi_mjpeg,
            encode_minimal_avi,
        )

        frames = [encode_baseline_gray([v] * (w * h), w, h) for v in vals]
        meta, out = decode_avi_mjpeg(encode_minimal_avi(frames, w, h, fps))
        assert out == frames
        assert meta.n_frames == len(vals)
        for f, v in zip(out, vals):
            assert decode_gray(f)[2] == [v] * (w * h)

    @settings(max_examples=8, deadline=None)
    @given(
        v=st.integers(0, 255),
        w=st.sampled_from([8, 13, 16]),
        h=st.sampled_from([8, 11]),
    )
    def test_jpeg_progressive_color_solid_property(v, w, h):
        """PROPERTY: solid gray survives the progressive color pipeline
        bit-exactly at any dimension (incl. non-multiple-of-8)."""
        from appengine_mapreduce_spark.functions.jpeg_pixels import (
            decode_color,
            encode_progressive_color,
        )

        _, _, rgb = decode_color(
            encode_progressive_color([(v, v, v)] * (w * h), w, h)
        )
        assert rgb == [(v, v, v)] * (w * h)


def test_tiff_multivalued_bits_per_sample():
    """TIFF 6.0: when count*sizeof(type) > 4 the value field holds an
    OFFSET to the data — BitsPerSample with count=3 on RGB scans is the
    canonical case. The walk must dereference, not report the offset."""
    import pytest

    from appengine_mapreduce_spark.functions.media import (
        MediaFormatError,
        decode_tiff_meta,
        encode_minimal_tiff,
    )

    for big_endian in (False, True):
        m = decode_tiff_meta(
            encode_minimal_tiff(
                640, 480, bits=8, samples_per_pixel=3,
                big_endian=big_endian,
            )
        )
        assert (m.width, m.height) == (640, 480)
        assert m.bits_per_sample == 8  # NOT the raw offset
    # multi-page RGB: chain must still terminate and count pages
    m = decode_tiff_meta(
        encode_minimal_tiff(32, 16, n_pages=3, samples_per_pixel=3)
    )
    assert (m.n_pages, m.bits_per_sample) == (3, 8)
    # out-of-range value offset must raise, not read garbage
    import struct as _st

    blob = bytearray(encode_minimal_tiff(8, 8, samples_per_pixel=3))
    # entry 2 (BitsPerSample) value field at 10 + 12*2 + 8
    p = 10 + 12 * 2 + 8
    blob[p : p + 4] = _st.pack("<I", len(blob) + 100)
    with pytest.raises(MediaFormatError):
        decode_tiff_meta(bytes(blob))


def test_mp3_id3v24_footer_flag():
    """ID3v2.4 footer flag (0x10): the 10-byte footer is NOT counted by
    the syncsafe size — the frame walk must skip it or it loses sync."""
    from appengine_mapreduce_spark.functions.media import (
        decode_mp3_meta,
        encode_minimal_mp3,
    )

    m = decode_mp3_meta(
        encode_minimal_mp3(6, id3_bytes=128, id3_footer=True)
    )
    assert m.n_frames == 6
    assert m.sample_rate == 44100


def test_gif_truncated_extension_introducer():
    """A GIF ending right after the 0x21 extension introducer must raise
    MediaFormatError, not IndexError."""
    import pytest

    from appengine_mapreduce_spark.functions.media import (
        MediaFormatError,
        decode_gif_meta,
        encode_minimal_gif,
    )

    good = encode_minimal_gif(8, 8)
    truncated = good[:-1].rstrip(b"\x3b") + bytes((0x21,))
    with pytest.raises(MediaFormatError):
        decode_gif_meta(truncated)


def test_gif_pixel_index_beyond_palette_raises():
    """A frame whose LZW stream emits an index >= the color-table size
    must raise MediaFormatError (the malformed-input contract every
    decoder follows), not IndexError at stats time. Hand-built GIF:
    2-entry global table, mcs=2 so literal code 3 is legal LZW but
    out of palette range."""
    import struct as _struct

    import pytest

    from appengine_mapreduce_spark.functions.media import (
        MediaFormatError,
        decode_gif_frames,
    )

    blob = bytearray(b"GIF89a")
    blob += _struct.pack("<HH", 2, 1)          # logical screen 2x1
    blob += bytes((0x80, 0, 0))                # global table, 2 entries
    blob += bytes((0, 0, 0, 255, 255, 255))    # the 2-entry palette
    blob += bytes((0x2C,)) + _struct.pack("<HHHH", 0, 0, 2, 1)
    blob += bytes((0x00, 0x02))                # no local table; mcs=2
    # LZW codes [clear=4, literal 3, literal 0, end=5] @3 bits LSB-first
    packed = 4 | (3 << 3) | (0 << 6) | (5 << 9)
    blob += bytes((0x02, packed & 0xFF, packed >> 8, 0x00, 0x3B))
    with pytest.raises(MediaFormatError, match="color table"):
        decode_gif_frames(bytes(blob))


def test_mrle_pixel_index_beyond_palette_raises():
    """Same contract for MS-RLE AVI: a composited canvas index past the
    strf palette raises MediaFormatError, not IndexError."""
    import pytest

    from appengine_mapreduce_spark.functions.media import (
        MediaFormatError,
        decode_avi_mrle_frames,
        encode_minimal_avi_mrle,
    )

    bad = encode_minimal_avi_mrle(
        [[3, 0, 1, 0]], 2, 2, [(0, 0, 0), (255, 255, 255)]
    )
    with pytest.raises(MediaFormatError, match="palette"):
        decode_avi_mrle_frames(bad)


def test_g711_companding_involution_and_wav_path():
    """G.711 µ-law/A-law: compress(expand(b)) == b for every byte value
    (µ-law's 0x7F is the known -0 alias of 0xFF), quantization error
    bounded, and the WAV format-code dispatch routes G.711 data chunks
    through the expanders."""
    import random

    from appengine_mapreduce_spark.functions.media import (
        alaw_compress,
        alaw_expand,
        decode_wav_samples,
        encode_wav_companded,
        encode_wav_g711,
        mulaw_compress,
        mulaw_expand,
    )

    assert [b for b in range(256)
            if mulaw_compress(mulaw_expand(b)) != b] == [0x7F]
    assert [b for b in range(256)
            if alaw_compress(alaw_expand(b)) != b] == []

    rng = random.Random(1)
    for expand, compress in ((mulaw_expand, mulaw_compress),
                             (alaw_expand, alaw_compress)):
        for _ in range(5000):
            x = rng.randint(-32000, 32000)
            y = expand(compress(x))
            # logarithmic: absolute error small near zero, relative
            # error bounded in the loud range
            if abs(x) < 300:
                assert abs(y - x) <= 16, (x, y)
            else:
                assert abs(y - x) / abs(x) < 0.05, (x, y)

    meta, out = decode_wav_samples(encode_wav_g711([0, 5000, -5000], "mu"))
    assert meta.audio_format == 7 and out == [0, 5116, -5116]
    meta, out = decode_wav_samples(encode_wav_g711([0, 5000, -5000], "a"))
    assert meta.audio_format == 6 and out == [8, 4992, -4992]
    raw = bytes(range(0, 250, 10))
    meta, out = decode_wav_samples(encode_wav_companded(raw, "mu"))
    assert out == [mulaw_expand(b) for b in raw]


def test_gif_lzw_roundtrip_fuzz():
    """GIF LZW: variable-width codes survive dictionary growth across
    every width boundary (random / run-heavy / periodic pixel streams,
    all min-code-sizes; >4096-entry streams force the clear-reset path)."""
    import random

    from appengine_mapreduce_spark.functions.media import (
        gif_lzw_decode,
        gif_lzw_encode,
    )

    rng = random.Random(42)
    for trial in range(120):
        mcs = rng.choice([2, 3, 4, 5, 6, 7, 8])
        n = rng.randint(1, 8000)
        alphabet = 1 << mcs
        style = rng.random()
        if style < 0.3:
            px = [rng.randrange(alphabet) for _ in range(n)]
        elif style < 0.6:
            px = []
            while len(px) < n:
                px.extend([rng.randrange(alphabet)] * rng.randint(1, 200))
            px = px[:n]
        else:
            pat = [rng.randrange(alphabet)
                   for _ in range(rng.randint(1, 10))]
            px = (pat * (n // len(pat) + 1))[:n]
        data = gif_lzw_encode(px, mcs)
        assert gif_lzw_decode(data, mcs, len(px)) == px, (trial, mcs, n)


def test_gif_full_pixel_roundtrip_interlace_and_frames():
    """encode_gif_pixels -> decode_gif_frames: exact palette-index
    recovery, multi-frame, plain and 4-pass interlaced row order."""
    from appengine_mapreduce_spark.functions.media import (
        decode_gif_frames,
        encode_gif_pixels,
    )

    pal = [(i, 255 - i, (i * 7) % 256) for i in range(16)]
    w, h = 23, 17
    f1 = [(x + y) % 16 for y in range(h) for x in range(w)]
    f2 = [(x * y) % 16 for y in range(h) for x in range(w)]
    for inter in (False, True):
        blob = encode_gif_pixels([f1, f2], w, h, pal, interlace=inter)
        meta, frames = decode_gif_frames(blob)
        assert meta.n_frames == 2 and len(frames) == 2
        assert frames[0].pixels == f1 and frames[1].pixels == f2
        assert frames[0].palette[:16] == pal
        assert frames[1].interlaced == inter


def test_tiff_strip_pixel_roundtrip():
    """Strip-based TIFF decode: gray/RGB x uncompressed/PackBits x both
    byte orders x strip heights — exact pixel recovery; PackBits fuzz."""
    import random

    from appengine_mapreduce_spark.functions.media import (
        decode_tiff_meta,
        decode_tiff_strips,
        encode_tiff_strips,
        packbits_decode,
        packbits_encode,
    )

    rng = random.Random(9)
    for _ in range(100):
        n = rng.randint(0, 2000)
        if rng.random() < 0.5:
            data = bytes(rng.randrange(256) for _ in range(n))
        else:
            b = bytearray()
            while len(b) < n:
                b.extend([rng.randrange(256)] * rng.randint(1, 300))
            data = bytes(b[:n])
        assert packbits_decode(packbits_encode(data), len(data)) == data

    for spp in (1, 3):
        for comp in (1, 32773):
            for be in (False, True):
                w, h = 21, 13
                px = bytes(
                    (x * spp + s + y * 7) % 256
                    for y in range(h) for x in range(w) for s in range(spp)
                )
                blob = encode_tiff_strips(
                    px, w, h, samples_per_pixel=spp, compression=comp,
                    rows_per_strip=3, big_endian=be,
                )
                tp = decode_tiff_strips(blob)
                assert (tp.width, tp.height, tp.samples_per_pixel,
                        tp.compression) == (w, h, spp, comp)
                assert tp.pixels == px
                m = decode_tiff_meta(blob)
                assert (m.width, m.height, m.compression) == (w, h, comp)


def test_bmp_pixel_roundtrip_and_rle8():
    """BMP decode: 24-bit BGR (odd widths exercise row padding), 8-bit
    palette plain + RLE8, exact pixel recovery; RLE8 codec fuzz."""
    import random

    from appengine_mapreduce_spark.functions.media import (
        bmp_rle8_decode,
        bmp_rle8_encode,
        decode_bmp_pixels,
        encode_bmp,
    )

    rng = random.Random(5)
    for w, h in ((7, 5), (16, 9), (33, 2), (1, 1)):
        px = [(rng.randrange(256), rng.randrange(256), rng.randrange(256))
              for _ in range(w * h)]
        bp = decode_bmp_pixels(encode_bmp(px, w, h, bpp=24))
        assert (bp.width, bp.height, bp.bits_per_pixel) == (w, h, 24)
        assert bp.pixels == px
    pal = [(i * 3 % 256, i * 5 % 256, i * 7 % 256) for i in range(16)]
    for rle in (False, True):
        for w, h in ((7, 5), (22, 13)):
            px = [pal[(x + y) % 16] for y in range(h) for x in range(w)]
            bp = decode_bmp_pixels(
                encode_bmp(px, w, h, bpp=8, rle=rle, palette=pal))
            assert bp.pixels == px
            assert bp.compression == (1 if rle else 0)
    for t in range(60):
        w, h = rng.randint(1, 40), rng.randint(1, 20)
        idx = bytes(rng.randrange(8) for _ in range(w * h))
        assert bmp_rle8_decode(bmp_rle8_encode(idx, w, h), w, h) == idx, t


def test_avi_raw_dib_frames_and_codec_dispatch():
    """decode_avi_video_frames: BI_RGB streams decode from the bottom-up
    padded BGR layout; MJPG streams still hand back JPEG bytes; unknown
    codecs raise (inter-frame video needs a library)."""
    import pytest

    from appengine_mapreduce_spark.functions.jpeg_pixels import (
        encode_baseline_color,
    )
    from appengine_mapreduce_spark.functions.media import (
        MediaFormatError,
        decode_avi_video_frames,
        encode_minimal_avi,
        encode_minimal_avi_raw,
    )

    w, h = 11, 6
    f1 = [((x * 3) % 256, (y * 5) % 256, (x + y) % 256)
          for y in range(h) for x in range(w)]
    f2 = [((x + 1) % 256, (y + 2) % 256, 7)
          for y in range(h) for x in range(w)]
    meta, codec, frames = decode_avi_video_frames(
        encode_minimal_avi_raw([f1, f2], w, h, fps=10))
    assert codec == "DIB" and meta.n_frames == 2
    assert frames[0] == f1 and frames[1] == f2

    jf = [encode_baseline_color([(v, v, v)] * 64, 8, 8) for v in (10, 200)]
    meta, codec, frames = decode_avi_video_frames(
        encode_minimal_avi(jf, 8, 8, fps=5))
    assert codec == "MJPG" and frames[0] == jf[0]

    h264 = bytearray(encode_minimal_avi(jf, 8, 8))
    # MJPG appears twice: strh fccHandler then strf biCompression —
    # the dispatcher reads the latter
    pos = h264.find(b"MJPG", h264.find(b"MJPG") + 4)
    h264[pos : pos + 4] = b"H264"
    with pytest.raises(MediaFormatError):
        decode_avi_video_frames(bytes(h264))


def test_flac_lossless_roundtrip_all_subframe_types():
    """FLAC: decode(encode(x)) == x exactly across signal shapes,
    subframe types, block sizes, and all four stereo decorrelations;
    explicit-coefficient LPC exercises the generic decode path; CRC
    corruption raises instead of mis-decoding."""
    import math
    import random

    import pytest

    from appengine_mapreduce_spark.functions.flac import (
        CH_INDEPENDENT,
        CH_LEFT_SIDE,
        CH_MID_SIDE,
        CH_RIGHT_SIDE,
        FlacFormatError,
        decode_flac,
        encode_flac,
    )

    rng = random.Random(3)

    def sig(n, kind):
        if kind == "sine":
            return [int(8000 * math.sin(i * 0.05)
                        + 2000 * math.sin(i * 0.31)) for i in range(n)]
        if kind == "ramp":
            return [((i * 17) % 4000) - 2000 for i in range(n)]
        if kind == "noise":
            return [rng.randint(-32768, 32767) for _ in range(n)]
        return [1234] * n

    for kind, sft in (("sine", "fixed"), ("ramp", "fixed"),
                      ("noise", "verbatim"), ("const", "constant")):
        for n in (100, 192, 1000, 5000):
            ch = [sig(n, kind)]
            info, dec = decode_flac(
                encode_flac(ch, block_size=512, subframe_type=sft))
            assert info.total_samples == n
            assert dec == ch, (kind, sft, n)

    left = sig(3000, "sine")
    right = [v // 2 + 100 for v in sig(3000, "ramp")]
    for mode in (CH_INDEPENDENT, CH_LEFT_SIDE, CH_RIGHT_SIDE, CH_MID_SIDE):
        _info, dec = decode_flac(
            encode_flac([left, right], block_size=1024, stereo_mode=mode))
        assert dec == [left, right], mode

    x = sig(2000, "sine")
    for coefs, shift in (([1 << 13], 13), ([2 << 12, -(1 << 12)], 12)):
        _info, dec = decode_flac(
            encode_flac([x], subframe_type="lpc", lpc=(coefs, shift)))
        assert dec == [x], coefs

    blob = bytearray(encode_flac([sig(1000, "sine")]))
    blob[60] ^= 0x01
    with pytest.raises(FlacFormatError):
        decode_flac(bytes(blob))

    # compression sanity: a smooth signal must actually compress
    enc = len(encode_flac([sig(3000, "sine")]))
    assert enc < 6000 * 0.6, enc


def test_mrle_interframe_compositing():
    """MS-RLE: the wire format carries a keyframe + temporal delta
    frames (unchanged rows skipped via delta escapes); decode must
    composite every frame exactly, and delta frames must actually be
    smaller than the keyframe."""
    import random
    import struct as _st

    from appengine_mapreduce_spark.functions.media import (
        decode_avi_mrle_frames,
        encode_minimal_avi_mrle,
    )

    rng = random.Random(7)
    w, h = 17, 11
    pal = [(k * 16 % 256, k * 7 % 256, k * 29 % 256) for k in range(16)]
    f0 = [(x + y) % 16 for y in range(h) for x in range(w)]
    frames = [f0]
    cur = list(f0)
    for _t in range(4):
        cur = list(cur)
        for _ in range(2):
            y = rng.randrange(h)
            for x in range(w):
                cur[y * w + x] = rng.randrange(16)
        frames.append(list(cur))
    blob = encode_minimal_avi_mrle(frames, w, h, pal, fps=10)
    meta, palette, dec = decode_avi_mrle_frames(blob)
    assert meta.codec == "MRLE" and meta.n_frames == 5
    assert palette[:16] == pal
    assert dec == frames
    sizes = []
    pos = blob.find(b"movi") + 4
    while pos + 8 < len(blob):
        tag = blob[pos : pos + 4]
        (sz,) = _st.unpack("<I", blob[pos + 4 : pos + 8])
        if tag[2:4] == b"dc":
            sizes.append(sz)
        pos += 8 + sz + (sz & 1)
    assert all(s < sizes[0] for s in sizes[1:]), sizes


def test_ima_adpcm_cross_validated_against_audioop():
    """THE honesty anchor for the ADPCM tables: CPython's stdlib
    audioop ships an INDEPENDENT IMA ADPCM implementation with its own
    copy of the step/index tables. Byte-exact agreement over random
    streams means a transcription error in _IMA_STEP_TABLE or
    _IMA_INDEX_TABLE cannot survive this test. (audioop packs the first
    sample of each byte in the HIGH nibble; the WAV layout is low-first
    — the core decoder takes an explicit nibble list so both orders
    share it.) Pinned-environment dependency: audioop left the stdlib
    in Python 3.13 (PEP 594), so off this container's interpreter the
    test degrades to a skip, not a collection error."""
    import array
    import random
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        audioop = pytest.importorskip("audioop")

    from appengine_mapreduce_spark.functions.media import (
        ima_adpcm_decode_nibbles,
    )

    rng = random.Random(20260814)
    # zero state and RANDOM initial (predictor, step-index) states — the
    # latter exercise the whole step table, not just the low indices a
    # zero-state walk reaches quickly
    states = [(0, 0)] + [
        (rng.randint(-30000, 30000), rng.randint(0, 88)) for _ in range(8)
    ]
    for pred, idx in states:
        pcm = [rng.randint(-32768, 32767) for _ in range(1200)]
        adpcm, _state = audioop.lin2adpcm(
            array.array("h", pcm).tobytes(), 2, (pred, idx))
        ref = array.array("h")
        ref.frombytes(audioop.adpcm2lin(adpcm, 2, (pred, idx))[0])
        nibs = []
        for b in adpcm:
            nibs += [b >> 4, b & 0x0F]
        assert ima_adpcm_decode_nibbles(nibs, pred, idx) == ref.tolist()


def test_ima_adpcm_wav_roundtrip_and_blocks():
    """Closed-loop encoder tracks the decoder: multi-block WAV decode
    recovers the signal within the adaptive step's error bound, block
    headers re-seed state exactly (first sample of each block is stored
    verbatim), and the pinned-nibble fixture reproduces a chosen stream
    bit-exactly."""
    import math

    from appengine_mapreduce_spark.functions.media import (
        decode_wav_samples,
        encode_wav_adpcm,
        encode_wav_adpcm_nibbles,
        ima_adpcm_decode_nibbles,
    )

    sig = [int(6000 * math.sin(i / 9)) for i in range(1503)]
    wav = encode_wav_adpcm(sig, samples_per_block=501)
    meta, out = decode_wav_samples(wav)
    assert meta.audio_format == 0x11
    assert len(out) >= len(sig)
    # every block's first sample is verbatim
    for b0 in range(0, len(sig), 501):
        assert out[b0] == sig[b0]
    err = [abs(a - b) for a, b in zip(sig, out)]
    assert max(err) < 4000 and sum(err) / len(err) < 200
    # pinned-nibble fixture is exact
    nibs = [(i * 7 + 5) % 16 for i in range(60)]
    m2, s2 = decode_wav_samples(
        encode_wav_adpcm_nibbles(nibs, predictor=-321, index=42))
    assert s2 == [-321] + ima_adpcm_decode_nibbles(nibs, -321, 42)


def test_ima_adpcm_stereo_roundtrip_channel_equivalence():
    """The WAV 0x11 stereo layout interleaves
    per-channel 4-byte nibble words after per-channel block headers;
    each channel's codec state is INDEPENDENT, so de-interleaving a
    stereo decode must reproduce exactly the mono encode/decode of each
    channel with the same samples_per_block (header-verbatim firsts and
    step-index carry included). That pins the interleave layout against
    the already-audioop-cross-validated mono path."""
    import math

    from appengine_mapreduce_spark.functions.media import (
        decode_wav_samples,
        encode_wav_adpcm,
        encode_wav_adpcm_multi,
    )

    left = [int(6000 * math.sin(i / 9)) for i in range(1503)]
    right = [int(4000 * math.cos(i / 5)) - 700 for i in range(1503)]
    wav = encode_wav_adpcm_multi([left, right], samples_per_block=505)
    meta, inter = decode_wav_samples(wav)
    assert meta.n_channels == 2 and meta.audio_format == 0x11
    assert meta.n_frames == 1503 and len(inter) == 2 * 1503
    got_l, got_r = inter[0::2], inter[1::2]
    for ch_sig, got in ((left, got_l), (right, got_r)):
        _m, mono = decode_wav_samples(
            encode_wav_adpcm(ch_sig, samples_per_block=505))
        assert got == mono
        # block-leading samples are verbatim
        for b0 in range(0, len(ch_sig), 505):
            assert got[b0] == ch_sig[b0]


def test_ima_adpcm_stereo_truncated_factless_agreement():
    """Stereo meta/samples agreement on a truncated fact-less file: the
    partial final block emits only complete frames (the shortest — last
    — channel bounds it), and the meta estimate replicates that word-
    interleave arithmetic."""
    import math
    import struct as _struct

    from appengine_mapreduce_spark.functions.media import (
        decode_wav_samples,
        encode_wav_adpcm_multi,
    )

    left = [int(3000 * math.sin(i / 4)) for i in range(1203)]
    right = [int(2000 * math.sin(i / 11)) for i in range(1203)]
    wav = encode_wav_adpcm_multi([left, right], samples_per_block=401)
    fact_at = wav.index(b"fact")
    factless = wav[:fact_at] + wav[fact_at + 12:]
    data_at = factless.index(b"data")
    (dsize,) = _struct.unpack(
        "<I", factless[data_at + 4 : data_at + 8])
    for cut in (0, 3, 6, 11, 100, 207):
        trunc = bytearray(factless[: len(factless) - cut])
        trunc[4:8] = _struct.pack("<I", len(trunc) - 8)
        trunc[data_at + 4 : data_at + 8] = _struct.pack("<I", dsize - cut)
        m, s = decode_wav_samples(bytes(trunc))
        assert len(s) % 2 == 0
        assert m.n_frames == len(s) // 2, (cut, m.n_frames, len(s))


def test_ima_adpcm_malformed_contract():
    """Out-of-range step index in a block header raises MediaFormatError
    (the uniform malformed-input contract), as does a channel count the
    block structure cannot hold (block_align smaller than the per-channel
    headers) and a zero channel count."""
    import struct as _struct

    import pytest

    from appengine_mapreduce_spark.functions.media import (
        MediaFormatError,
        encode_wav_adpcm_nibbles,
    )
    from appengine_mapreduce_spark.functions.media import (
        decode_wav_samples,
    )

    good = encode_wav_adpcm_nibbles([1, 2, 3, 4], 0, 0)
    # corrupt the block header's step index (data chunk body offset 2)
    data_pos = good.index(b"data") + 8
    bad = bytearray(good)
    bad[data_pos + 2] = 99
    with pytest.raises(MediaFormatError, match="step index"):
        decode_wav_samples(bytes(bad))
    with pytest.raises(MediaFormatError):
        encode_wav_adpcm_nibbles([1], 0, index=89)
    # stereo claim on a block too small for two headers: the one-block
    # nibble fixture's block_align is 6 < 8 bytes of headers
    fmt_pos = good.index(b"fmt ") + 8
    st = bytearray(good)
    st[fmt_pos + 2 : fmt_pos + 4] = _struct.pack("<H", 2)
    with pytest.raises(MediaFormatError, match="block_align"):
        decode_wav_samples(bytes(st))
    # zero channels
    z = bytearray(good)
    z[fmt_pos + 2 : fmt_pos + 4] = _struct.pack("<H", 0)
    with pytest.raises(MediaFormatError, match="channel"):
        decode_wav_samples(bytes(z))


def test_wav_fact_chunk_edge_cases():
    """WAV fact-chunk edge cases: (a) fact-less ADPCM meta estimates
    frames from blocks x samples_per_block (not raw block count);
    (b) a fact chunk AFTER the data chunk is still honored by
    decode_wav_samples (RIFF mandates no order); (c) a G.711 WAV with a
    fact chunk truncates samples so meta.n_frames == len(samples);
    (d) a zero-size GIF frame raises MediaFormatError cleanly, not
    ValueError, when the palette check sees no pixels."""
    import math
    import struct as _struct

    from appengine_mapreduce_spark.functions.media import (
        decode_wav_meta,
        decode_wav_samples,
        encode_wav_adpcm,
        encode_wav_g711,
    )

    sig = [int(5000 * math.sin(i / 7)) for i in range(1503)]
    wav = encode_wav_adpcm(sig, samples_per_block=501)

    # (a) strip the fact chunk -> meta estimates blocks * spb
    fact_at = wav.index(b"fact")
    factless = wav[:fact_at] + wav[fact_at + 12:]
    m = decode_wav_meta(factless)
    assert m.n_frames == 3 * 501  # 3 whole blocks
    _, s = decode_wav_samples(factless)
    assert len(s) == 3 * 501

    # (b) move fact AFTER data -> still truncates to the true count
    fact_chunk = wav[fact_at : fact_at + 12]
    reordered = wav[:fact_at] + wav[fact_at + 12:] + fact_chunk
    # fix RIFF size (we appended 12 bytes at the end)
    reordered = (reordered[:4]
                 + _struct.pack("<I", len(reordered) - 8)
                 + reordered[8:])
    m2 = decode_wav_meta(reordered)
    _, s2 = decode_wav_samples(reordered)
    assert m2.n_frames == len(sig) == len(s2)

    # (c) G.711 with an injected fact chunk: meta and samples agree
    g = encode_wav_g711(sig[:100], law="mu")
    data_at = g.index(b"data")
    with_fact = (g[:data_at]
                 + b"fact" + _struct.pack("<II", 4, 60)
                 + g[data_at:])
    with_fact = (with_fact[:4]
                 + _struct.pack("<I", len(with_fact) - 8)
                 + with_fact[8:])
    m3 = decode_wav_meta(with_fact)
    _, s3 = decode_wav_samples(with_fact)
    assert m3.n_frames == 60 == len(s3)


def test_wav_fact_partial_block_and_overstated_fact():
    """Partial blocks and overstated facts: (a) a fact-less ADPCM file
    whose data chunk ends mid-block still has meta.n_frames == len(samples) —
    the
    estimate now counts the trailing partial block the decoder decodes
    (header -> 1 frame, then 2 frames per nibble byte); (b) a fact
    chunk that OVERSTATES the sample count is capped at the decodable
    payload in both the ADPCM and G.711 paths, keeping meta and samples
    in agreement for that corrupt case too."""
    import math
    import struct as _struct

    from appengine_mapreduce_spark.functions.media import (
        decode_wav_meta,
        decode_wav_samples,
        encode_wav_adpcm,
        encode_wav_g711,
    )

    sig = [int(5000 * math.sin(i / 7)) for i in range(1503)]
    wav = encode_wav_adpcm(sig, samples_per_block=501)  # block_align 254
    fact_at = wav.index(b"fact")
    factless = wav[:fact_at] + wav[fact_at + 12:]

    # (a) chop 100 bytes off the data chunk: 2 whole blocks + a
    # 154-byte partial block -> 2*501 + (1 + 2*150) frames
    cut = 100
    data_at = factless.index(b"data")
    (dsize,) = _struct.unpack("<I", factless[data_at + 4 : data_at + 8])
    trunc = bytearray(factless[:-cut])
    trunc[4:8] = _struct.pack("<I", len(trunc) - 8)
    trunc[data_at + 4 : data_at + 8] = _struct.pack("<I", dsize - cut)
    m, s = decode_wav_samples(bytes(trunc))
    assert m.n_frames == 2 * 501 + 1 + 2 * 150 == len(s)

    # (b1) overstated fact on ADPCM: capped at the decodable estimate
    over = bytearray(wav)
    over[fact_at + 8 : fact_at + 12] = _struct.pack("<I", 10**6)
    m2, s2 = decode_wav_samples(bytes(over))
    assert m2.n_frames == len(s2) == len(sig)

    # (b2) overstated fact on G.711: capped at payload bytes / channels
    g = encode_wav_g711(sig[:100], law="mu")
    g_data = g.index(b"data")
    with_fact = (g[:g_data]
                 + b"fact" + _struct.pack("<II", 4, 200)
                 + g[g_data:])
    with_fact = (with_fact[:4]
                 + _struct.pack("<I", len(with_fact) - 8)
                 + with_fact[8:])
    m3, s3 = decode_wav_samples(with_fact)
    assert m3.n_frames == 100 == len(s3)


def test_gif_zero_size_frame_and_mrle_no_palette():
    import struct as _struct

    import pytest

    from appengine_mapreduce_spark.functions.media import (
        MediaFormatError,
        decode_avi_mrle_frames,
        decode_gif_frames,
        encode_minimal_avi_mrle,
    )

    # GIF with a 0x0 image descriptor: empty pixel list must not trip a
    # bare ValueError in the palette bound check
    blob = bytearray(b"GIF89a")
    blob += _struct.pack("<HH", 2, 1)
    blob += bytes((0x80, 0, 0))
    blob += bytes((0, 0, 0, 255, 255, 255))
    blob += bytes((0x2C,)) + _struct.pack("<HHHH", 0, 0, 0, 0)
    blob += bytes((0x00, 0x02))
    packed = 4 | (5 << 3)  # clear, end — zero pixels
    blob += bytes((0x02, packed & 0xFF, packed >> 8, 0x00, 0x3B))
    meta, frames = decode_gif_frames(bytes(blob))
    assert frames[0].pixels == []

    # MRLE with an empty palette raises even with zero decoded frames
    bad = encode_minimal_avi_mrle([[0, 0, 0, 0]], 2, 2, [])
    with pytest.raises(MediaFormatError, match="palette"):
        decode_avi_mrle_frames(bad)
