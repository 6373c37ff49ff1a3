"""Golden digests for the JPEG pixel codec.

Every public encoder in ``functions/jpeg_pixels`` is pinned by the
SHA-256 of its output bytes, and the decoder by the SHA-256 of the pixels
it returns for that stream (gray: one byte per pixel; colour: R, G, B per
pixel, row-major). The inputs cover non-multiple-of-8 sizes, restart
intervals, a custom quantization table, and 4:4:4 and 4:2:0 sampling, so
a refactor of the encoders or the decoder that changes one output byte
fails here.
"""

from __future__ import annotations

import hashlib

import pytest

from appengine_mapreduce_spark.functions import jpeg_pixels as jp


def _gray(w: int, h: int) -> list[int]:
    return [(x * 7 + y * 5 + (x * y) % 13) % 256 for y in range(h) for x in range(w)]


def _rgb(w: int, h: int) -> list[tuple[int, int, int]]:
    return [
        ((x * 19) % 256, (y * 23) % 256, (x * y * 3 + 40) % 256)
        for y in range(h)
        for x in range(w)
    ]


_QT = [max(1, (q * 3) // 5) for q in jp.STD_QT_ZZ]

# name -> (encode thunk, is colour)
_CASES = {
    "baseline_gray_13x11": (
        lambda: jp.encode_baseline_gray(_gray(13, 11), 13, 11), False,
    ),
    "baseline_gray_13x11_rst2": (
        lambda: jp.encode_baseline_gray(_gray(13, 11), 13, 11, restart_interval=2), False,
    ),
    "baseline_gray_20x9_qt": (
        lambda: jp.encode_baseline_gray(_gray(20, 9), 20, 9, qt_zz=_QT), False,
    ),
    "baseline_color_13x11": (
        lambda: jp.encode_baseline_color(_rgb(13, 11), 13, 11), True,
    ),
    "baseline_color_13x11_rst3_qt": (
        lambda: jp.encode_baseline_color(
            _rgb(13, 11), 13, 11, qt_zz=_QT, restart_interval=3
        ),
        True,
    ),
    "baseline_420_21x13": (lambda: jp.encode_baseline_420(_rgb(21, 13), 21, 13), True),
    "baseline_420_16x16_qt": (
        lambda: jp.encode_baseline_420(_rgb(16, 16), 16, 16, qt_zz=_QT), True,
    ),
    "progressive_gray_13x11": (
        lambda: jp.encode_progressive_gray(_gray(13, 11), 13, 11), False,
    ),
    "progressive_gray_20x9_qt": (
        lambda: jp.encode_progressive_gray(_gray(20, 9), 20, 9, qt_zz=_QT), False,
    ),
    "progressive_color_13x11": (
        lambda: jp.encode_progressive_color(_rgb(13, 11), 13, 11), True,
    ),
    "progressive_color_20x9_qt": (
        lambda: jp.encode_progressive_color(_rgb(20, 9), 20, 9, qt_zz=_QT), True,
    ),
}

# name -> (sha256 of the encoded stream, sha256 of the decoded pixels)
_GOLDEN = {
    "baseline_gray_13x11": (
        "85d299a39950c0893ebae18836a5734686d9f1660c3126264ae7b842865b65ef",
        "0a98d999026861290971c02f981df89eee0e29cad36bafca6d32f1ed1f9cf9e0",
    ),
    "baseline_gray_13x11_rst2": (
        "0b1af867b57fa89283f21fb1f3d432f3a40ec73e1ac1583720044947b80bd161",
        "0a98d999026861290971c02f981df89eee0e29cad36bafca6d32f1ed1f9cf9e0",
    ),
    "baseline_gray_20x9_qt": (
        "eac86dc5da41cb2bc8c480d60967da1698fb764e9a44ab745607c537c543b51d",
        "386eff4161c1bccca15087e7fc5dc18b6031f409b4603f64cb3b4effe5553aaa",
    ),
    "baseline_color_13x11": (
        "857d37e2fad0616b1cccdb18c9d132add1e3b9f70f30103dfef391c6dac04cbc",
        "36acde25f9353312da94346ec1e9af13286aee8e37118e3f883f7dc091d24db4",
    ),
    "baseline_color_13x11_rst3_qt": (
        "28a127d784aeee63150b4f6fd57e1e2e8bd2d1873939a3bf93da29aa8af9f8a4",
        "7a5fbfb884de87f35a29b9e6fda393f741cba07cca21915d79d8b570f4e24d34",
    ),
    "baseline_420_21x13": (
        "e3f654101dfd1f16ae4a238008ce26c13c15ef1e11fadf6033981040b0741206",
        "9d5f5003b1a7f713983e27727dea10e763ec3fb8716ccfd1f310e5b790fc9668",
    ),
    "baseline_420_16x16_qt": (
        "1b99045d6aa6a305f411035aa3b8c979ba45529100b5594aa6ec2c4a49985572",
        "01f88aceef5073d8a78ebd60b8d457a017a9084521d5825b3fd12664b64ae470",
    ),
    "progressive_gray_13x11": (
        "38a9196ceabcd1eca855541a165263b6feacd77e8e8f3bee8707c071eab5d7d3",
        "0a98d999026861290971c02f981df89eee0e29cad36bafca6d32f1ed1f9cf9e0",
    ),
    "progressive_gray_20x9_qt": (
        "c08f6f8b0ae993dfbcc1f00595a02b5d888fd4b67600d66c733b8453386397ba",
        "386eff4161c1bccca15087e7fc5dc18b6031f409b4603f64cb3b4effe5553aaa",
    ),
    "progressive_color_13x11": (
        "fc5af1913b538a82d6794956b6423eb882e9ccd48b762f383c29eff737649650",
        "36acde25f9353312da94346ec1e9af13286aee8e37118e3f883f7dc091d24db4",
    ),
    "progressive_color_20x9_qt": (
        "9838e0073a39763dddfd056dec5e4284924f9b7338bbfbfbb093cecbe13d386e",
        "2f380cee48eeac032ea99314a669c2802019f43a6fce1cca53990e8171dd7eb9",
    ),
}


@pytest.mark.parametrize("name", sorted(_CASES))
def test_jpeg_codec_golden_digests(name):
    encode, colour = _CASES[name]
    blob = encode()
    if colour:
        _w, _h, px = jp.decode_color(blob)
        raw = bytes(c for p in px for c in p)
    else:
        _w, _h, px = jp.decode_gray(blob)
        raw = bytes(px)
    want_blob, want_px = _GOLDEN[name]
    assert hashlib.sha256(blob).hexdigest() == want_blob
    assert hashlib.sha256(raw).hexdigest() == want_px


def test_vectorized_transforms_match_per_pixel_reference():
    """The codec's numpy stages — colour conversion, 4:2:0 chroma
    averaging, and the forward and inverse DCT over a whole stack of
    blocks — give exactly what a per-pixel, per-block loop gives."""
    import random

    import numpy as np

    rnd = random.Random(5)
    qt = [rnd.randint(1, 40) for _ in range(64)]
    m, zigzag = jp._M, jp._ZIGZAG_NP
    for w, h in ((13, 11), (24, 17)):
        rgb = [tuple(rnd.randrange(256) for _ in range(3)) for _ in range(w * h)]

        def clamp(v: float) -> int:
            return min(255, max(0, int(round(v))))

        ref = [[], [], []]
        for r, g, b in rgb:
            ref[0].append(clamp(0.299 * r + 0.587 * g + 0.114 * b))
            ref[1].append(clamp(-0.168736 * r - 0.331264 * g + 0.5 * b + 128))
            ref[2].append(clamp(0.5 * r - 0.418688 * g - 0.081312 * b + 128))
        planes = jp._to_ycbcr(rgb, w, h)
        assert [p.ravel().tolist() for p in planes] == ref

        cw, ch = (w + 1) // 2, (h + 1) // 2
        half = []
        for cy in range(ch):
            for cx in range(cw):
                cell = [
                    ref[1][y * w + x]
                    for y in range(2 * cy, min(2 * cy + 2, h))
                    for x in range(2 * cx, min(2 * cx + 2, w))
                ]
                half.append(int(round(sum(cell) / len(cell))))
        assert jp._halve(planes[1]).ravel().tolist() == half

        y = ref[0]
        pbx, pby = (w + 7) // 8, (h + 7) // 8
        blocks = []
        for by in range(pby):
            for bx in range(pbx):
                f = np.array([
                    [y[min(by * 8 + j, h - 1) * w + min(bx * 8 + i, w - 1)] - 128
                     for i in range(8)]
                    for j in range(8)
                ], dtype=np.float64)
                coef = 0.25 * (m @ f @ m.T)
                zz = coef.ravel()[zigzag] / np.asarray(qt, dtype=np.float64)
                blocks.append(np.rint(zz).astype(np.int64).tolist())
        assert jp._fdct_blocks(planes[0], pbx, pby, qt) == blocks

        pixels = [0] * (w * h)
        for bi, zz in enumerate(blocks):
            f = np.zeros(64)
            f[zigzag] = np.asarray(zz, dtype=np.float64) * np.asarray(qt, dtype=np.float64)
            spatial = np.rint(0.25 * (m.T @ f.reshape(8, 8) @ m)).astype(np.int64)
            for j in range(8):
                for i in range(8):
                    py, px = (bi // pbx) * 8 + j, (bi % pbx) * 8 + i
                    if py < h and px < w:
                        pixels[py * w + px] = clamp(spatial[j, i] + 128)
        blob = jp.encode_baseline_gray(y, w, h, qt_zz=qt)
        assert jp.decode_gray(blob)[2] == pixels
