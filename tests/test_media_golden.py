"""Golden digests for the RIFF (WAV, AVI, WebP) and MP4 codecs.

Every public encoder of those containers in ``functions/media`` is pinned
by the SHA-256 of its output bytes, every decoder by the SHA-256 of the
``repr`` of what it returns, and the error paths by (exception type,
message). The inputs carry the layouts where the codecs differ: an
odd-length WAV ``data`` chunk (written without a pad byte), a truncated
last chunk (a WAV reader caps it, AVI and WebP raise), an odd-size chunk
before ``fmt ``, ``fact`` after ``data``, a two-stream AVI, a lowercase
``mjpg`` FourCC, an AVI with two ``avih`` and two video ``strf`` chunks
(``decode_avi_mjpeg`` reads the last of each, the other AVI decoders the
first ``strf`` and the last non-zero frame time), mono and stereo IMA
ADPCM, and G.711 in both laws. A refactor that changes one output byte,
one decoded value or one error message fails here.
"""

from __future__ import annotations

import hashlib
import struct

import pytest

from appengine_mapreduce_spark.functions import media as m


def _ck(tag: bytes, *parts: bytes) -> bytes:
    """A RIFF chunk built independently of the codec under test."""
    body = b"".join(parts)
    return tag + struct.pack("<I", len(body)) + body + b"\x00" * (len(body) & 1)


def _bx(tag: bytes, *parts: bytes) -> bytes:
    body = b"".join(parts)
    return struct.pack(">I", len(body) + 8) + tag + body


def _wave(*chunks: bytes) -> bytes:
    body = b"WAVE" + b"".join(chunks)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _fmt(code: int, n_ch: int, rate: int, align: int, bits: int, ext: bytes = b"") -> bytes:
    return _ck(b"fmt ", struct.pack("<HHIIHH", code, n_ch, rate, rate * align, align, bits), ext)


def _bih(w: int, h: int, bpp: int, fourcc: bytes, palette: bytes = b"") -> bytes:
    n_colors = len(palette) // 4
    return struct.pack("<IiiHH4sIiiII", 40, w, h, 1, bpp, fourcc, 0, 0, 0, n_colors, 0) + palette


def _strl(kind: bytes, handler: bytes, strf: bytes) -> bytes:
    return _ck(b"LIST", b"strl", _ck(b"strh", kind, handler, bytes(48)), _ck(b"strf", strf))


def _avih(us: int, w: int, h: int) -> bytes:
    return _ck(b"avih", struct.pack("<14I", us, 0, 0, 0x10, 0, 0, 1, 0, w, h, 0, 0, 0, 0))


def _avi(*hdrl: bytes, movi: tuple = ()) -> bytes:
    return _ck(b"RIFF", b"AVI ", _ck(b"LIST", b"hdrl", *hdrl), _ck(b"LIST", b"movi", *movi))


_WAVE_INPUT = [(i * 1237) % 65536 - 32768 for i in range(37)]
_STEREO = [[int(3000 * ((i * 7) % 11 - 5)) for i in range(40)],
           [int(-2500 * ((i * 5) % 9 - 4)) for i in range(40)]]
_FRAMES = [bytes(range(7)), bytes(range(40, 53)), b"\xff\xd8\xff\xd9"]
_RGB = [[((x * 60 + f * 9) % 256, (y * 90) % 256, (x * y * 40 + f) % 256)
         for y in range(2) for x in range(3)] for f in range(2)]
_PALETTE = [(0, 0, 0), (255, 0, 0), (0, 128, 255)]
_MRLE = [[(x + y) % 3 for y in range(4) for x in range(5)],
         [(x + y) % 3 if y != 1 else 2 for y in range(4) for x in range(5)],
         [(x + y) % 3 if y != 1 else 2 for y in range(4) for x in range(5)]]

# name -> thunk returning the encoded blob
ENCODED = {
    "wav_pcm8_mono_odd": lambda: m.encode_wav(1, 8000, 8, 5, fill=0x81),
    "wav_pcm16_stereo": lambda: m.encode_wav(2, 44100, 16, 7, fill=3),
    "wav_pcm16_samples_mono": lambda: m.encode_wav_pcm16(_WAVE_INPUT[:13]),
    "wav_pcm16_samples_stereo": lambda: m.encode_wav_pcm16(_WAVE_INPUT[:12], 2, 22050),
    "wav_companded_mu_odd": lambda: m.encode_wav_companded(bytes(range(0, 250, 36)), "mu"),
    "wav_companded_a_stereo": lambda: m.encode_wav_companded(
        bytes(range(3, 250, 31)), "a", n_channels=2, sample_rate=16000),
    "wav_g711_mu_odd": lambda: m.encode_wav_g711(_WAVE_INPUT[:9], "mu"),
    "wav_g711_a_stereo": lambda: m.encode_wav_g711(_WAVE_INPUT[:10], "a", n_channels=2),
    "wav_adpcm_nibbles_odd": lambda: m.encode_wav_adpcm_nibbles(
        [1, 9, 15, 0, 7], predictor=-300, index=12, sample_rate=11025),
    "wav_adpcm_nibbles_even": lambda: m.encode_wav_adpcm_nibbles(list(range(16))),
    "wav_adpcm_mono_odd": lambda: m.encode_wav_adpcm(_WAVE_INPUT[:33], samples_per_block=7),
    "wav_adpcm_mono_default": lambda: m.encode_wav_adpcm(_WAVE_INPUT * 16),
    "wav_adpcm_nibbles_stereo": lambda: m.encode_wav_adpcm_nibbles_multi(
        [[i % 16 for i in range(8)], [(15 - i) % 16 for i in range(8)]],
        [10, -20], [3, 5]),
    "wav_adpcm_nibbles_3ch": lambda: m.encode_wav_adpcm_nibbles_multi(
        [[(i * c) % 16 for i in range(16)] for c in (1, 3, 5)], [0, 100, -100], [0, 20, 88]),
    "wav_adpcm_stereo": lambda: m.encode_wav_adpcm_multi(_STEREO, samples_per_block=17),
    "wav_adpcm_stereo_default": lambda: m.encode_wav_adpcm_multi(
        [c * 15 for c in _STEREO], sample_rate=22050),
    "avi_mjpeg": lambda: m.encode_minimal_avi(_FRAMES, 16, 8, fps=30),
    "avi_raw": lambda: m.encode_minimal_avi_raw(_RGB, 3, 2, fps=10),
    "avi_mrle": lambda: m.encode_minimal_avi_mrle(_MRLE, 5, 4, _PALETTE, fps=12),
    "avi_with_audio": lambda: m.encode_minimal_avi_with_audio(
        _FRAMES[:2], 16, 8, _WAVE_INPUT[:11], sample_rate=8000, fps=15),
    "webp_lossy": lambda: m.encode_minimal_webp(321, 123),
    "webp_lossless_alpha": lambda: m.encode_minimal_webp(64, 17, "lossless", alpha=True),
    "webp_extended_anim": lambda: m.encode_minimal_webp(
        1000, 3, "extended", alpha=True, animation=True),
    "webp_extended": lambda: m.encode_minimal_webp(7, 9, "extended"),
    "mp4_v0": lambda: m.encode_minimal_mp4(600, 1234, n_tracks=2),
    "mp4_v1": lambda: m.encode_minimal_mp4(48000, 1 << 33, n_tracks=0, version=1,
                                           major_brand=b"mp42"),
    "mp4_samples": lambda: m.encode_mp4_with_samples([100, 7, 4096, 3], 1001, 30000),
    "mp4_samples_empty": lambda: m.encode_mp4_with_samples([]),
}

_ENCODE_GOLDEN = {
    "avi_mjpeg":
        "75a4ea8212cfd03bd8d8df9a6094ece3f4147886d590d9cbb6d9a13cff4cf2a2",
    "avi_mrle":
        "df53f774a7067a17d201c82dec7cef5beaddc67f022d55023de3fc8159997756",
    "avi_raw":
        "782c717e830b9dd5e3eb814c954c321c608375d4a85ca0f59ffcb42fe4e97d9e",
    "avi_with_audio":
        "a215847c5233b70a51d171eeac9774361803ac97ced793f62bb98a435873743c",
    "mp4_samples":
        "6231f0c364a1820576ff455da6d0bba54fa77978075a14cd5c66c4c2f20db10f",
    "mp4_samples_empty":
        "998c12e003d327fa0421627b9dd2fbf6e4c84cd56e53520f9e1ab8beb2fe4ad8",
    "mp4_v0":
        "9f82ed3212dacbc55950a8015132f2c38e52627a2c2d4cd7abf9c7e45a2b5464",
    "mp4_v1":
        "62cce2f532bd1d2b75676bb1e43887bcef8fa7b1689178f3a9e57f289f6d4533",
    "wav_adpcm_mono_default":
        "5f6755df671db27e9465fef4e0bf1b389b1b3e8ec09b306f531cedab11c97798",
    "wav_adpcm_mono_odd":
        "125eef6b86d9876d43f22992b79341284f9e6085cb65f0706f57eb7a72dc12ef",
    "wav_adpcm_nibbles_3ch":
        "5fd67711db9091e6ca590437178c60b665ee178d83d960b9e689869c3eb705e6",
    "wav_adpcm_nibbles_even":
        "406aff293ec0e497e4f283ce1624a3e28fcf3e4973f76a09afc2ed7a3714579c",
    "wav_adpcm_nibbles_odd":
        "0b707c647441c88c2290b1502ac730697325059e5f607befe064422c6a2919c7",
    "wav_adpcm_nibbles_stereo":
        "c074121b470782ff62db326fd11ea94b162f853eb9652cef2afc8107c9aa82e3",
    "wav_adpcm_stereo":
        "3eeedbefdc88dcdae6f8bfd84611d13ac626d4973abedd3c74acd988f4a68b7c",
    "wav_adpcm_stereo_default":
        "b3d03ff798303d72a0c6a266025b4c493a1623864cd9c585198ba228b75ccd52",
    "wav_companded_a_stereo":
        "437f3c9da8e3824216f68ba01020fe63b9f6d4b5432822e7c69609363a70065d",
    "wav_companded_mu_odd":
        "8ee5ab88cd057a728aaf478d87bd11e4f8042d8666116c363c7f6710d2b296d5",
    "wav_g711_a_stereo":
        "005baa7e280bb0468eb33064d3dad949162a9b18aefd16bfbcccca96508715c0",
    "wav_g711_mu_odd":
        "02bc291765b7bc8a6813dda8630022dd4c83b428b1c4543330b497b250ba7f1f",
    "wav_pcm16_samples_mono":
        "3e4925685cd73d40fe849a8f6a97e72adbe6e9bdb6dac63c4064cc36415ef02c",
    "wav_pcm16_samples_stereo":
        "80e6e1b024439a767daedb4c821176d82bb238b2005205e682121b093db803ec",
    "wav_pcm16_stereo":
        "9bb6df044a0e5f60cf311eecfe8daf4871530a217e1fe55f6b803cef0736f4ca",
    "wav_pcm8_mono_odd":
        "82969fde8fc29ed0a2fabbe2a2e2ac3c466c79574ee90ddc5fadaf764b7c8ede",
    "webp_extended":
        "d6040ca01d44c2e5e55a2f195fc659d78b8699755ec3111754ce44f21ef10316",
    "webp_extended_anim":
        "1ba35af60f431f5c5b656c75096fd26e78c2346a5d5a6f5151d085fab75bd97d",
    "webp_lossless_alpha":
        "53ac63857af58b7aa25300ce12d823d56988b0356b6d5de058e8addc5309b86e",
    "webp_lossy":
        "3a1ade345ad9f280b7abd13ae27c27df1ec97fb42b7b645e45eab8dab19b7c6a",
}


def _blob(name: str) -> bytes:
    return ENCODED[name]()


def _two_track_mp4() -> bytes:
    a, b = _blob("mp4_samples"), m.encode_mp4_with_samples([5, 50], 512, 30000)
    trak_b = b[b.index(b"trak") - 4:]
    i = a.index(b"trak") - 4
    moov = a.index(b"moov") - 4
    out = bytearray(a[:i] + trak_b + a[i:])
    out[moov:moov + 4] = struct.pack(">I", len(out) - moov)
    return bytes(out)


def _uniform_stsz_mp4() -> bytes:
    stts = _bx(b"stts", bytes(4), struct.pack(">IIIII", 2, 3, 100, 2, 250))
    stsz = _bx(b"stsz", bytes(4), struct.pack(">II", 77, 5))
    trak = _bx(b"trak", _bx(b"mdia", _bx(b"minf", _bx(b"stbl", stts, stsz))))
    return _bx(b"ftyp", b"isom", bytes(4)) + _bx(b"moov", trak)


def _wav_odd_chunk_before_fmt() -> bytes:
    return _wave(_ck(b"junk", b"abc"), _fmt(1, 1, 8000, 2, 16),
                 _ck(b"data", struct.pack("<5h", 1, -2, 300, -4000, 5)))


def _wav_g711_fact_after_data() -> bytes:
    data = bytes(range(0x20, 0x29))
    return _wave(_fmt(7, 1, 8000, 1, 8), b"data" + struct.pack("<I", 9) + data + b"\x00",
                 _ck(b"fact", struct.pack("<I", 6)))


def _wav_adpcm_fact_after_data() -> bytes:
    blob = _blob("wav_adpcm_mono_odd")
    i = blob.index(b"fact")
    body = blob[12:i] + blob[i + 12:]
    return _wave(body, b"\x00" * (len(body) & 1), _ck(b"fact", struct.pack("<I", 20)))


def _wav_two_data() -> bytes:
    return _wave(_fmt(1, 1, 8000, 1, 8), _ck(b"data", b"\x10\x20\x30"),
                 _ck(b"data", b"\x99" * 8))


def _avi_lowercase() -> bytes:
    return _blob("avi_mjpeg").replace(b"MJPG", b"mjpg")


def _avi_disagree() -> bytes:
    """Two avih (the last with 0 µs/frame) and two video strf (DIB first,
    MJPG last); the frames are valid 4x2 24-bit DIBs."""
    dib = bytes((i * 11) % 256 for i in range(24))
    return _avi(
        _avih(40000, 4, 2),
        _strl(b"vids", b"DIB ", _bih(4, 2, 24, bytes(4))),
        _strl(b"vids", b"MJPG", _bih(4, 2, 24, b"MJPG")),
        _avih(0, 4, 2),
        movi=(_ck(b"00dc", dib), _ck(b"01dc", dib[::-1])),
    )


def _avi_stereo_audio_ids() -> bytes:
    """Audio is stream 01; a '00wb' chunk of another stream is skipped."""
    return _avi(
        _avih(50000, 8, 8),
        _strl(b"vids", b"MJPG", _bih(8, 8, 24, b"MJPG")),
        _strl(b"auds", bytes(4), struct.pack("<HHIIHH", 1, 2, 11025, 44100, 4, 16)),
        movi=(_ck(b"00dc", b"\x01\x02\x03"), _ck(b"01wb", struct.pack("<4h", 1, -1, 2, -2)),
              _ck(b"00wb", b"\x7f" * 6),
              _ck(b"LIST", b"rec ", _ck(b"01wb", struct.pack("<3h", 30000, -30000, 7)))),
    )


def _truncated(name: str, cut: int) -> bytes:
    return _blob(name)[:-cut]


_WAVS = [n for n in ENCODED if n.startswith("wav_")]
_WAV_EXTRA = {
    "wav_pcm16_truncated_odd": lambda: _truncated("wav_pcm16_samples_mono", 3),
    "wav_g711_truncated": lambda: _truncated("wav_g711_mu_odd", 4),
    "wav_adpcm_mono_truncated": lambda: _truncated("wav_adpcm_mono_odd", 9),
    "wav_adpcm_stereo_truncated": lambda: _truncated("wav_adpcm_stereo", 13),
    "wav_adpcm_stereo_truncated_hdr": lambda: _truncated("wav_adpcm_stereo", 20),
    "wav_odd_chunk_before_fmt": _wav_odd_chunk_before_fmt,
    "wav_g711_fact_after_data": _wav_g711_fact_after_data,
    "wav_adpcm_fact_after_data": _wav_adpcm_fact_after_data,
    "wav_two_data": _wav_two_data,
}

# name -> thunk returning the decoded result
DECODED = {}
for _n in _WAVS:
    DECODED[f"meta:{_n}"] = (lambda n: lambda: m.decode_wav_meta(_blob(n)))(_n)
    DECODED[f"samples:{_n}"] = (lambda n: lambda: m.decode_wav_samples(_blob(n)))(_n)
for _n, _f in _WAV_EXTRA.items():
    DECODED[f"meta:{_n}"] = (lambda f: lambda: m.decode_wav_meta(f()))(_f)
    DECODED[f"samples:{_n}"] = (lambda f: lambda: m.decode_wav_samples(f()))(_f)
DECODED.update({
    "mjpeg:avi_mjpeg": lambda: m.decode_avi_mjpeg(_blob("avi_mjpeg")),
    "mjpeg:avi_with_audio": lambda: m.decode_avi_mjpeg(_blob("avi_with_audio")),
    "mjpeg:avi_lowercase": lambda: m.decode_avi_mjpeg(_avi_lowercase()),
    "mjpeg:avi_disagree": lambda: m.decode_avi_mjpeg(_avi_disagree()),
    "video:avi_mjpeg": lambda: m.decode_avi_video_frames(_blob("avi_mjpeg")),
    "video:avi_raw": lambda: m.decode_avi_video_frames(_blob("avi_raw")),
    "video:avi_with_audio": lambda: m.decode_avi_video_frames(_blob("avi_with_audio")),
    "video:avi_lowercase": lambda: m.decode_avi_video_frames(_avi_lowercase()),
    "video:avi_disagree": lambda: m.decode_avi_video_frames(_avi_disagree()),
    "mrle:avi_mrle": lambda: m.decode_avi_mrle_frames(_blob("avi_mrle")),
    "pcm:avi_with_audio": lambda: m.decode_avi_pcm_audio(_blob("avi_with_audio")),
    "pcm:avi_stereo_audio_ids": lambda: m.decode_avi_pcm_audio(_avi_stereo_audio_ids()),
    "webp:lossy": lambda: m.decode_webp_meta(_blob("webp_lossy")),
    "webp:lossless_alpha": lambda: m.decode_webp_meta(_blob("webp_lossless_alpha")),
    "webp:extended_anim": lambda: m.decode_webp_meta(_blob("webp_extended_anim")),
    "webp:extended": lambda: m.decode_webp_meta(_blob("webp_extended")),
    "webp:truncated_after_vp8": lambda: m.decode_webp_meta(
        _blob("webp_lossy") + _ck(b"EXIF", b"x" * 9)[:-5]),
    "mp4meta:v0": lambda: m.decode_mp4_meta(_blob("mp4_v0")),
    "mp4meta:v1": lambda: m.decode_mp4_meta(_blob("mp4_v1")),
    "mp4meta:samples": lambda: m.decode_mp4_meta(_blob("mp4_samples")),
    "mp4meta:two_track": lambda: m.decode_mp4_meta(_two_track_mp4()),
    "mp4samples:samples": lambda: m.decode_mp4_track_samples(_blob("mp4_samples")),
    "mp4samples:empty": lambda: m.decode_mp4_track_samples(_blob("mp4_samples_empty")),
    "mp4samples:two_track": lambda: m.decode_mp4_track_samples(_two_track_mp4()),
    "mp4samples:uniform": lambda: m.decode_mp4_track_samples(_uniform_stsz_mp4()),
})

_DECODE_GOLDEN = {
    "meta:wav_adpcm_fact_after_data":
        "0ab94dc4d7f88e39cb8bdb7decd618c1133014e08224faa063ad25eda487b51b",
    "meta:wav_adpcm_mono_default":
        "7ac966090f5286ae10599d4b000f8222734ddedd8c1c1cc279a7f3464f25a595",
    "meta:wav_adpcm_mono_odd":
        "d2bdd07e3e1cc64bcf51f8696080e66a7e098585080df59e6b8af96366ad0fb6",
    "meta:wav_adpcm_mono_truncated":
        "c032d550aa18858398db83a3d945c73cf462b264e68df9021f42066a21895ea8",
    "meta:wav_adpcm_nibbles_3ch":
        "7f25fb18a8cd4900f9a87f097d6f1f311ff59c22fb2cec44b6f1d2863f1f02e3",
    "meta:wav_adpcm_nibbles_even":
        "aab9cf9cb9c77e2201a3fd34497306b945fc1736ae14850c1b723ce4bb8f5271",
    "meta:wav_adpcm_nibbles_odd":
        "476e3fc13c1f57dd11170e6f2c0edadb1ec01d168a650c7356745b6e6a070bb2",
    "meta:wav_adpcm_nibbles_stereo":
        "2fe9086bb30c77a27e84b0e6f2e67fd3f4f6abf2614273f48d54bee55c238c00",
    "meta:wav_adpcm_stereo":
        "28bcb584eb51233fb789b1e2dd1acbdd7a44858d2cd3a966c76fc5b947c8a89d",
    "meta:wav_adpcm_stereo_default":
        "99c71c54102cf5fd164cfcf2b72ebd9cea1e96c0e09ea35c451e4f3ef440d3c9",
    "meta:wav_adpcm_stereo_truncated":
        "4aecd34c8a10da6999776cb0e2079a73b540ffc864f2789ac1aca26650e4ab7b",
    "meta:wav_adpcm_stereo_truncated_hdr":
        "6a44675d29d7a54ff336a4a4bcb0ab9dea49576dad5114733a771a065166d6d2",
    "meta:wav_companded_a_stereo":
        "d9ab5777222d19fad7e3865cdb4846739671eecd1ad1550170568a3eaf7f0398",
    "meta:wav_companded_mu_odd":
        "e4a52fa79cc449510cb9fd385a1af97debe3ce54e5fe28fa865b452ada9b73cb",
    "meta:wav_g711_a_stereo":
        "4fa06852ff14e6396ec8637b4713be54610f0de1ee6cbdf10e355071ac38db59",
    "meta:wav_g711_fact_after_data":
        "df2b7943d98b9f65faadaf015b3e01d8105dfa3191c1bc4497e61bee54740c42",
    "meta:wav_g711_mu_odd":
        "8b0f31a86c8f7abb370a3514805382579bd0afcb5bf3238e3e40a5b980bec5ab",
    "meta:wav_g711_truncated":
        "7a23f511a31b315e9826da769f586d58c7cb1733d586a95c15be418eb9e2c9f0",
    "meta:wav_odd_chunk_before_fmt":
        "2afdbe31b44d41422ec2bb3c8d0375f574615c7a0ce46bb45be1ff72d2326299",
    "meta:wav_pcm16_samples_mono":
        "19783c642e77fc105015044a128721aabf43f778ab8844d7a261f92fe84e9be3",
    "meta:wav_pcm16_samples_stereo":
        "e2473dee05481447f81ba949554cb4801b5af553beb2eef8c0bba5212e1fece0",
    "meta:wav_pcm16_stereo":
        "2b942283c0c77fd47cc27a6a7c22e4efbc4b0fb54d289037350878a248c73e65",
    "meta:wav_pcm16_truncated_odd":
        "8a57e28060f13e61a6babc547271a2f3e6897548716d36ade90fe63419cd47cb",
    "meta:wav_pcm8_mono_odd":
        "9b51e5814faef5727c018625aabbb0fb732f2ae4a567c98e74441b27b16881b4",
    "meta:wav_two_data":
        "11851318760588ba333b8bce0b29d51af04f495d250ccab0efab87610048cce2",
    "mjpeg:avi_disagree":
        "ed92ec4cd7bddd831732bf17c290148e8e61c9ff82ad5af5a49b105f79b637d9",
    "mjpeg:avi_lowercase":
        "10ffd444be6b5d50007822346d4440f53520194795c574d21fa834c563a5cd25",
    "mjpeg:avi_mjpeg":
        "38302a44df229722d0c5618ec0916e1ee45adb0c005ba5736e393146716772b4",
    "mjpeg:avi_with_audio":
        "46d89331e8688deab52baf92abab83ecdf1abfdbe1a092c15059a432156ab71c",
    "mp4meta:samples":
        "1450d8662c09a882354cf53878678d4c8551c7a66ac55fd3f5a41a862e3ad340",
    "mp4meta:two_track":
        "8ebac882e9c773345eddf7f5a50822729e443ca837c64d66271563f757a81e07",
    "mp4meta:v0":
        "c785b803ba6d4463003d715541b43204983e48b692d9d872788f27bfee2001b2",
    "mp4meta:v1":
        "77c3f8f0d31cd71f91d6d712ebcd25c15d07c41d14eb5bf802433bae7e3699ad",
    "mp4samples:empty":
        "69a8c3058799097940d4fd7af44b6941f45238e0732eba0323fd0b195f6501d4",
    "mp4samples:samples":
        "b88681aefd99e4c5078a7039bca10a212aa6068dca17d35ad97b74434fd005b2",
    "mp4samples:two_track":
        "c61d90d86604536b0034b0cfea541e02e030c1c4b740ef4a4eee4cff20a84ffa",
    "mp4samples:uniform":
        "a6b09df5945b787382b3ba0806a0a4eb87dffaca57bd249249a04db044ab4c1c",
    "mrle:avi_mrle":
        "9aaa0ba44034310305957a3c5705ee6b4c922cebd9c3d4cac00b1399622f6aad",
    "pcm:avi_stereo_audio_ids":
        "2fae9b4fa03578f017190b779f5f3f2270299e0813114f56825466b6e0c2cd3d",
    "pcm:avi_with_audio":
        "25f60924887219611ec3d900aba31ad51da45b6862a4c4b1170bf97fdd94d64d",
    "samples:wav_adpcm_fact_after_data":
        "8cb186d30c5d947b2881dee4157f85373987bba93ba3d5504530e4409e68f4ba",
    "samples:wav_adpcm_mono_default":
        "779d8058d253f9add5bb110c1669b65b054618812a06c41bc7282c73ac6701da",
    "samples:wav_adpcm_mono_odd":
        "a71edfc664c029777a164bec3a3e54b0eacf3b728ff4ddd84fdb6f48e31a8666",
    "samples:wav_adpcm_mono_truncated":
        "80efc3efc225b025373d41ff0a1bbebfc62a3517468753e265c77c8516d00d4d",
    "samples:wav_adpcm_nibbles_3ch":
        "daa03eeec3acedc667850fe4bd83e80a5583a685d03d3f1c10d94f9e4484068d",
    "samples:wav_adpcm_nibbles_even":
        "bd13df2ece381099d349ba4fc584d3dc5e5c3decdf92a221bce483f53aea5844",
    "samples:wav_adpcm_nibbles_odd":
        "071e1804f939273cd0f4d8da4c30217b999e3982375ee1547514e30100153cad",
    "samples:wav_adpcm_nibbles_stereo":
        "4ff119844008aa98c13bdaa101a5a3dcd4e7ddd7f43df808a79bb820d4dc57ea",
    "samples:wav_adpcm_stereo":
        "f86c16b6ff0f2097ad8264cd318a7aad7873370d639a9a6efb7af4ab10b9b4bd",
    "samples:wav_adpcm_stereo_default":
        "293e261e93160152dca1c0f427645325083a0ca4568c76e701d6d637ef7e1649",
    "samples:wav_adpcm_stereo_truncated":
        "4089251d1efda4eb0577d157c21b151335461842cb85374a08d41d74893f6dfa",
    "samples:wav_adpcm_stereo_truncated_hdr":
        "dcaddba257ff9d36bc0320c294ce5dd697a5bbf82e8db55a4abeb37025fcc34e",
    "samples:wav_companded_a_stereo":
        "94f393cb70810d9d2dc20e9783fee56de8cf16e708dcdeeb0575a1a28c464b9d",
    "samples:wav_companded_mu_odd":
        "31a592e36bf5c5945441e5535802ab817ece0b641d4b5464cc2c628d433bfead",
    "samples:wav_g711_a_stereo":
        "d31c97c7f5542399cfaf216841268b1747d11e061983339eb2c3e9373de48a86",
    "samples:wav_g711_fact_after_data":
        "fcc81a0b42d3800d9ae86f0a5e26a7854c64abeb1cd1e7e98cdd94beb68989ba",
    "samples:wav_g711_mu_odd":
        "ba63c7142ca9952a5e6eb3010c86cae6ac7cff35f50b8578c8c9467cbd26b7bb",
    "samples:wav_g711_truncated":
        "3683272123c3d7950632c165ffe6fb4b7ad84bdb48724cd7df48af5d244a2b94",
    "samples:wav_odd_chunk_before_fmt":
        "ac1c56ea40510f7436a2c38df175f2f00b619d0362c8f063b3c3701cdab87a46",
    "samples:wav_pcm16_samples_mono":
        "7987cd47bd0ad00991e989e1bf0a8cba51e51f14f893ff3451a1077c948bdf6c",
    "samples:wav_pcm16_samples_stereo":
        "b526d2637b83d002b9a75f96958c0f9a0f271b68afe4f7b3ed1561fa7a3593c5",
    "samples:wav_pcm16_stereo":
        "1cf19970a998f44af35a7769ea9b31302f97c443ea40e932879eca80e22b7228",
    "samples:wav_pcm16_truncated_odd":
        "7f94c63b4126645c31f62c449e49f248f85093f07ac06bc7f5ae3a5aca6c3b0e",
    "samples:wav_pcm8_mono_odd":
        "efa3e9aeb35c375ec1da68483641a8fc7412d91304c834bd00e23a63a7e184a1",
    "samples:wav_two_data":
        "762bac89c2999dee4494a3cc8c7a3255b44927fa1b10d2d03c1f6f0f039c8414",
    "video:avi_disagree":
        "ec3fc036423b671084967f2289304a60c2083a7a15e45d403d37849ec6132949",
    "video:avi_lowercase":
        "fe4fa692702280862d3d377700cb511b698996dcdc5c3124e68e992c485fa662",
    "video:avi_mjpeg":
        "fe4fa692702280862d3d377700cb511b698996dcdc5c3124e68e992c485fa662",
    "video:avi_raw":
        "ae31f0bfda7a7a85649ce047018c0f74ada005381c4daa20bbe7c6b0521b254d",
    "video:avi_with_audio":
        "e23db9a5884ae68de470f32bde31944bd09f0c359fe6805ecc1b47bb5c9d4665",
    "webp:extended":
        "a4f4d6291509e8809778e297613e71676a02e1cd457a78181cc323853aee9ec8",
    "webp:extended_anim":
        "ff41ab035eb14dd626440eda29169bcf1c410e6bf9689e4c20832d9889d70b99",
    "webp:lossless_alpha":
        "dbb74fdaac96c69ff75dfb17475fce16c29af26e3a9e15f6a783beb5ebc04158",
    "webp:lossy":
        "886eaebb622dc2e25fcdaa9612b25bd7bd6395b3ad26d7212218aca2ade17897",
    "webp:truncated_after_vp8":
        "886eaebb622dc2e25fcdaa9612b25bd7bd6395b3ad26d7212218aca2ade17897",
}


def _set_byte(blob: bytes, at: int, value: int) -> bytes:
    return blob[:at] + bytes((value,)) + blob[at + 1:]


def _avi_rle8_no_palette() -> bytes:
    return _avi(_avih(1, 2, 2), _strl(b"vids", b"MRLE", _bih(2, 2, 8, struct.pack("<I", 1))),
                movi=(_ck(b"00dc", b"\x02\x00\x00\x00\x02\x00\x00\x01"),))


def _avi_raw_8bit() -> bytes:
    return _avi(_avih(1, 2, 2), _strl(b"vids", b"DIB ", _bih(2, 2, 8, bytes(4))))


def _avi_audio_8bit() -> bytes:
    return _avi(_avih(1, 2, 2),
                _strl(b"auds", bytes(4), struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)),
                movi=(_ck(b"00wb", b"\x80\x81"),))


ERRORS = {
    "wav_meta_short": lambda: m.decode_wav_meta(b"RIFF"),
    "wav_meta_bad_form": lambda: m.decode_wav_meta(b"RIFF\x04\x00\x00\x00WAVX"),
    "wav_meta_truncated_fmt": lambda: m.decode_wav_meta(
        _wave(_ck(b"fmt ", bytes(14)), _ck(b"data", b"\x00\x00"))),
    "wav_meta_cut_fmt": lambda: m.decode_wav_meta(_blob("wav_pcm16_stereo")[:30]),
    "wav_meta_no_data": lambda: m.decode_wav_meta(_wave(_fmt(1, 1, 8000, 2, 16))),
    "wav_meta_no_fmt": lambda: m.decode_wav_meta(_wave(_ck(b"data", b"\x00\x00"))),
    "wav_meta_zero_align": lambda: m.decode_wav_meta(
        _wave(_fmt(1, 1, 8000, 0, 16), _ck(b"data", b"\x00\x00"))),
    "wav_samples_float": lambda: m.decode_wav_samples(
        _wave(_fmt(3, 1, 8000, 4, 32), _ck(b"data", bytes(8)))),
    "wav_samples_24bit": lambda: m.decode_wav_samples(
        _wave(_fmt(1, 1, 8000, 3, 24), _ck(b"data", bytes(6)))),
    "wav_samples_adpcm_index": lambda: m.decode_wav_samples(
        _set_byte(_blob("wav_adpcm_nibbles_even"), -10, 90)),
    "wav_samples_adpcm_align": lambda: m.decode_wav_samples(_wave(
        _fmt(0x11, 2, 8000, 4, 4, struct.pack("<HH", 2, 1)), _ck(b"data", bytes(8)))),
    "enc_adpcm_nibbles_index": lambda: m.encode_wav_adpcm_nibbles([1, 2], index=89),
    "enc_adpcm_block": lambda: m.encode_wav_adpcm([1, 2, 3], samples_per_block=4),
    "enc_adpcm_multi_args": lambda: m.encode_wav_adpcm_nibbles_multi([[0] * 8], [0, 0], [0]),
    "enc_adpcm_multi_words": lambda: m.encode_wav_adpcm_nibbles_multi(
        [[0] * 8, [0] * 12], [0, 0], [0, 0]),
    "enc_adpcm_multi_index": lambda: m.encode_wav_adpcm_nibbles_multi(
        [[0] * 8, [0] * 8], [0, 0], [0, -1]),
    "enc_adpcm_multi_empty": lambda: m.encode_wav_adpcm_multi([[]]),
    "enc_adpcm_multi_lengths": lambda: m.encode_wav_adpcm_multi([[1, 2], [1]]),
    "enc_adpcm_multi_block": lambda: m.encode_wav_adpcm_multi(_STEREO, samples_per_block=13),
    "enc_webp_variant": lambda: m.encode_minimal_webp(1, 1, "animated"),
    "avi_mjpeg_signature": lambda: m.decode_avi_mjpeg(_blob("webp_lossy")),
    "avi_video_signature": lambda: m.decode_avi_video_frames(_blob("wav_pcm16_stereo")),
    "avi_mrle_signature": lambda: m.decode_avi_mrle_frames(b""),
    "avi_pcm_signature": lambda: m.decode_avi_pcm_audio(b"RIFF\x00\x00\x00\x00AVIX"),
    "avi_mjpeg_truncated": lambda: m.decode_avi_mjpeg(_truncated("avi_mjpeg", 3)),
    "avi_video_truncated": lambda: m.decode_avi_video_frames(_truncated("avi_raw", 1)),
    "avi_mrle_truncated": lambda: m.decode_avi_mrle_frames(_truncated("avi_mrle", 2)),
    "avi_pcm_truncated": lambda: m.decode_avi_pcm_audio(_truncated("avi_with_audio", 5)),
    "avi_mjpeg_no_avih": lambda: m.decode_avi_mjpeg(
        _avi(_strl(b"vids", b"MJPG", _bih(8, 8, 24, b"MJPG")))),
    "avi_video_no_avih": lambda: m.decode_avi_video_frames(_avi(_avih(1, 0, 4))),
    "avi_mrle_no_avih": lambda: m.decode_avi_mrle_frames(_avi()),
    "avi_mjpeg_codec": lambda: m.decode_avi_mjpeg(_blob("avi_raw")),
    "avi_mjpeg_no_strf": lambda: m.decode_avi_mjpeg(_avi(_avih(1, 2, 2))),
    "avi_video_codec": lambda: m.decode_avi_video_frames(_blob("avi_mrle")),
    "avi_video_no_strf": lambda: m.decode_avi_video_frames(_avi(_avih(1, 2, 2))),
    "avi_video_8bit": lambda: m.decode_avi_video_frames(_avi_raw_8bit()),
    "avi_mrle_codec": lambda: m.decode_avi_mrle_frames(_blob("avi_raw")),
    "avi_mrle_no_strf": lambda: m.decode_avi_mrle_frames(_avi(_avih(1, 2, 2))),
    "avi_mrle_no_palette": lambda: m.decode_avi_mrle_frames(_avi_rle8_no_palette()),
    "avi_pcm_no_audio": lambda: m.decode_avi_pcm_audio(_blob("avi_mjpeg")),
    "avi_pcm_8bit": lambda: m.decode_avi_pcm_audio(_avi_audio_8bit()),
    "webp_signature": lambda: m.decode_webp_meta(_blob("avi_mjpeg")),
    "webp_truncated_chunk": lambda: m.decode_webp_meta(_truncated("webp_lossless_alpha", 2)),
    "webp_vp8_short": lambda: m.decode_webp_meta(
        _ck(b"RIFF", b"WEBP", _ck(b"VP8 ", bytes(8)))),
    "webp_vp8_start_code": lambda: m.decode_webp_meta(
        _ck(b"RIFF", b"WEBP", _ck(b"VP8 ", bytes(10)))),
    "webp_vp8l_signature": lambda: m.decode_webp_meta(
        _ck(b"RIFF", b"WEBP", _ck(b"VP8L", b"\x2e" + bytes(4)))),
    "webp_vp8x_short": lambda: m.decode_webp_meta(
        _ck(b"RIFF", b"WEBP", _ck(b"VP8X", bytes(9)))),
    "webp_no_bitstream": lambda: m.decode_webp_meta(
        _ck(b"RIFF", b"WEBP", _ck(b"ICCP", b"abc"))),
    "mp4_meta_no_moov": lambda: m.decode_mp4_meta(_bx(b"ftyp", b"isom")),
    "mp4_meta_zero_timescale": lambda: m.decode_mp4_meta(m.encode_minimal_mp4(0)),
    "mp4_meta_bad_box": lambda: m.decode_mp4_meta(_blob("mp4_v0")[:-3]),
    "mp4_samples_no_stbl": lambda: m.decode_mp4_track_samples(_blob("mp4_v0")),
    "mp4_samples_bad_box": lambda: m.decode_mp4_track_samples(_blob("mp4_samples")[:-1]),
}

_ERROR_GOLDEN = {
    "avi_mjpeg_codec": (
        "MediaFormatError",
        "codec '\\x00\\x00\\x00\\x00' is not MJPG — frame decode unsupported",
    ),
    "avi_mjpeg_no_avih": ("MediaFormatError", "missing avih header"),
    "avi_mjpeg_no_strf": ("MediaFormatError", "codec '' is not MJPG — frame decode unsupported"),
    "avi_mjpeg_signature": ("MediaFormatError", "bad RIFF/AVI signature"),
    "avi_mjpeg_truncated": ("MediaFormatError", "truncated RIFF chunk b'LIST' at 208"),
    "avi_mrle_codec": ("MediaFormatError", "not an MS-RLE stream (b'\\x00\\x00\\x00\\x00')"),
    "avi_mrle_no_avih": ("MediaFormatError", "missing avih header"),
    "avi_mrle_no_palette": ("MediaFormatError", "MRLE stream has no palette"),
    "avi_mrle_no_strf": ("MediaFormatError", "not an MS-RLE stream (None)"),
    "avi_mrle_signature": ("MediaFormatError", "bad RIFF/AVI signature"),
    "avi_mrle_truncated": ("MediaFormatError", "truncated RIFF chunk b'LIST' at 220"),
    "avi_pcm_8bit": ("MediaFormatError", "only PCM16 AVI audio supported"),
    "avi_pcm_no_audio": ("MediaFormatError", "no auds (audio) stream in AVI"),
    "avi_pcm_signature": ("MediaFormatError", "bad RIFF/AVI signature"),
    "avi_pcm_truncated": ("MediaFormatError", "truncated RIFF chunk b'LIST' at 304"),
    "avi_video_8bit": ("MediaFormatError", "raw AVI bpp 8 unsupported"),
    "avi_video_codec": ("MediaFormatError", "codec b'\\x01\\x00\\x00\\x00' needs a codec library"),
    "avi_video_no_avih": ("MediaFormatError", "missing avih header"),
    "avi_video_no_strf": ("MediaFormatError", "codec None needs a codec library"),
    "avi_video_signature": ("MediaFormatError", "bad RIFF/AVI signature"),
    "avi_video_truncated": ("MediaFormatError", "truncated RIFF chunk b'LIST' at 208"),
    "enc_adpcm_block": ("MediaFormatError", "samples_per_block must be odd and >= 3"),
    "enc_adpcm_multi_args": ("MediaFormatError", "need matching nibbles/predictors/indices"),
    "enc_adpcm_multi_block": (
        "MediaFormatError",
        "samples_per_block must be 1 mod 8 and >= 9 for word-interleaved multi-channel blocks",
    ),
    "enc_adpcm_multi_empty": ("MediaFormatError", "need at least one channel with samples"),
    "enc_adpcm_multi_index": ("MediaFormatError", "ADPCM step index -1 out of range"),
    "enc_adpcm_multi_lengths": ("MediaFormatError", "channels must be equal length"),
    "enc_adpcm_multi_words": (
        "MediaFormatError",
        "per-channel nibble counts must be equal, nonzero and multiples of 8 (whole "
        "interleave words)",
    ),
    "enc_adpcm_nibbles_index": ("MediaFormatError", "ADPCM step index 89 out of range"),
    "enc_webp_variant": ("ValueError", "animated"),
    "mp4_meta_bad_box": ("MediaFormatError", "bad box size 132 at 20"),
    "mp4_meta_no_moov": ("MediaFormatError", "missing moov/mvhd box"),
    "mp4_meta_zero_timescale": ("MediaFormatError", "zero timescale"),
    "mp4_samples_bad_box": ("MediaFormatError", "bad box size 240 at 20"),
    "mp4_samples_no_stbl": ("MediaFormatError", "no sample table (stbl) in stream"),
    "wav_meta_bad_form": ("MediaFormatError", "bad RIFF/WAVE signature"),
    "wav_meta_cut_fmt": ("MediaFormatError", "truncated fmt chunk"),
    "wav_meta_no_data": ("MediaFormatError", "missing fmt/data chunk"),
    "wav_meta_no_fmt": ("MediaFormatError", "missing fmt/data chunk"),
    "wav_meta_short": ("MediaFormatError", "bad RIFF/WAVE signature"),
    "wav_meta_truncated_fmt": ("MediaFormatError", "truncated fmt chunk"),
    "wav_meta_zero_align": ("MediaFormatError", "zero block_align/sample_rate"),
    "wav_samples_24bit": ("MediaFormatError", "unsupported bits_per_sample 24"),
    "wav_samples_adpcm_align": ("MediaFormatError", "ADPCM block_align too small"),
    "wav_samples_adpcm_index": ("MediaFormatError", "ADPCM step index 90 out of range"),
    "wav_samples_float": ("MediaFormatError", "unsupported audio format 3"),
    "webp_no_bitstream": ("MediaFormatError", "no VP8/VP8L/VP8X chunk in WEBP"),
    "webp_signature": ("MediaFormatError", "bad RIFF/WEBP signature"),
    "webp_truncated_chunk": ("MediaFormatError", "truncated RIFF chunk b'VP8L' at 12"),
    "webp_vp8_short": ("MediaFormatError", "truncated VP8 frame header"),
    "webp_vp8_start_code": ("MediaFormatError", "bad VP8 start code"),
    "webp_vp8l_signature": ("MediaFormatError", "bad VP8L signature"),
    "webp_vp8x_short": ("MediaFormatError", "truncated VP8X header"),
}


def _digest(value) -> str:
    return hashlib.sha256(repr(value).encode()).hexdigest()


def _error(thunk) -> tuple[str, str]:
    try:
        thunk()
    except Exception as exc:  # noqa: BLE001 — the type is what is pinned
        return type(exc).__name__, str(exc)
    return "no error", ""


@pytest.mark.parametrize("name", sorted(ENCODED))
def test_media_encoder_golden_digests(name):
    assert hashlib.sha256(ENCODED[name]()).hexdigest() == _ENCODE_GOLDEN[name]


@pytest.mark.parametrize("name", sorted(DECODED))
def test_media_decoder_golden_digests(name):
    assert _digest(DECODED[name]()) == _DECODE_GOLDEN[name]


@pytest.mark.parametrize("name", sorted(ERRORS))
def test_media_error_golden(name):
    assert _error(ERRORS[name]) == _ERROR_GOLDEN[name]


def test_media_golden_covers_traps():
    """The inputs hold the layouts the module docstring names."""
    assert len(_blob("wav_pcm8_mono_odd")) % 2 == 1  # odd data, no pad byte
    assert len(_blob("wav_adpcm_mono_odd")) % 2 == 1
    assert len(_blob("wav_g711_mu_odd")) % 2 == 1
    assert m.decode_wav_meta(_WAV_EXTRA["wav_pcm16_truncated_odd"]()).n_frames == 11
    assert m.decode_avi_mjpeg(_avi_disagree())[0].us_per_frame == 0
    assert m.decode_avi_video_frames(_avi_disagree())[0].us_per_frame == 40000
    assert m.decode_avi_video_frames(_avi_disagree())[1] == "DIB"
    assert m.decode_avi_mjpeg(_avi_lowercase())[0].codec == "mjpg"
    assert m.decode_avi_video_frames(_avi_lowercase())[1] == "MJPG"
