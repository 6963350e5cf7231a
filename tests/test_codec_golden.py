"""Byte-exact pins on every media writer: ``encode_image`` in every
format, plus the MJPEG-AVI, MP4, animated-GIF and WAV writers, on
fixed seeded rasters. A refactor of the shared codec pieces (LZW, bit
writer, canonical Huffman codes) must leave every output stream
identical, so each case pins the sha256 of the bytes written."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from m2_b3_market_data_pipeline_spark.operators.multimodal import (
    DecodedImage,
    encode_audio_wav,
    encode_image,
    encode_video_gif,
    encode_video_mjpeg,
    encode_video_mp4,
)


def _img(rgb) -> DecodedImage:
    return DecodedImage(rgb.shape[1], rgb.shape[0], rgb.tobytes())


def _noise(w, h, seed):
    rng = np.random.default_rng(seed)
    return _img(rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8))


def _smooth(w, h, seed):
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    base = np.stack([(xx * 7 + yy * 3), (xx * 2 + yy * 9), (xx * yy)], axis=2)
    jitter = rng.integers(0, 12, size=(h, w, 3))
    return _img(((base + jitter) % 256).astype(np.uint8))


def _gray(w, h, seed):
    rng = np.random.default_rng(seed)
    g = rng.integers(0, 256, size=(h, w, 1), dtype=np.uint8)
    return _img(np.repeat(g, 3, axis=2))


def _bilevel(w, h, seed):
    rng = np.random.default_rng(seed)
    g = rng.integers(0, 2, size=(h, w, 1), dtype=np.uint8) * 255
    return _img(np.repeat(g, 3, axis=2))


def _palette(w, h, seed, ncolors=200):
    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, size=(ncolors, 3), dtype=np.uint8)
    return _img(pal[rng.integers(0, ncolors, size=(h, w))])


def _frames(kind, n, w, h, seed):
    return [kind(w, h, seed + k) for k in range(n)]


def _pal_frames(n, w, h, seed):
    # one shared palette across frames: animated GIF's global table
    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, size=(150, 3), dtype=np.uint8)
    return [_img(pal[rng.integers(0, 150, size=(h, w))]) for _ in range(n)]


def _tone(n, seed, lo, hi):
    rng = np.random.default_rng(seed)
    return [int(v) for v in rng.integers(lo, hi, size=n)]


# 48x40 noise fills the 4096-entry LZW table several times over
# (TIFF); 40x32 over 200 colors walks GIF's width steps to 12 bits.
CASES = {
    "bmp": lambda: encode_image(_noise(19, 13, 1), "bmp"),
    "bmp-32": lambda: encode_image(_noise(19, 13, 2), "bmp-32"),
    "bmp-pal": lambda: encode_image(_palette(19, 13, 3), "bmp-pal"),
    "ppm": lambda: encode_image(_noise(19, 13, 4), "ppm"),
    "ppm-16": lambda: encode_image(_noise(19, 13, 5), "ppm-16"),
    "pgm": lambda: encode_image(_gray(19, 13, 6), "pgm"),
    "pgm-16": lambda: encode_image(_gray(19, 13, 7), "pgm-16"),
    "pbm": lambda: encode_image(_bilevel(19, 13, 8), "pbm"),
    "png": lambda: encode_image(_noise(19, 13, 9), "png"),
    "png-i": lambda: encode_image(_noise(19, 13, 10), "png-i"),
    "png-gray": lambda: encode_image(_gray(19, 13, 11), "png-gray"),
    "png-pal": lambda: encode_image(_palette(19, 13, 12), "png-pal"),
    "png-16": lambda: encode_image(_noise(19, 13, 13), "png-16"),
    "png-pal-interlace": lambda: encode_image(
        _palette(19, 13, 14), "png-pal", interlace=True
    ),
    "jpeg": lambda: encode_image(_smooth(37, 29, 15), "jpeg"),
    "jpeg-q50-420": lambda: encode_image(
        _smooth(37, 29, 16), "jpeg", quality=50, subsample=(2, 2)
    ),
    "jpeg-gray": lambda: encode_image(_noise(37, 29, 17), "jpeg", gray=True),
    "pjpeg": lambda: encode_image(_smooth(37, 29, 18), "pjpeg"),
    "pjpeg-420-dri": lambda: encode_image(
        _noise(37, 29, 19), "pjpeg", subsample=(2, 2), restart_interval=3
    ),
    "pjpeg-gray-scans": lambda: encode_image(
        _smooth(37, 29, 20), "pjpeg", gray=True, max_scans=4, quality=70
    ),
    "gif": lambda: encode_image(_palette(40, 32, 21), "gif"),
    "gif-small": lambda: encode_image(_palette(5, 3, 22, ncolors=3), "gif"),
    "webp": lambda: encode_image(_noise(23, 17, 23), "webp"),
    "webp-sg": lambda: encode_image(_smooth(23, 17, 24), "webp-sg"),
    "webp-pal": lambda: encode_image(_palette(23, 17, 25, ncolors=9), "webp"),
    "tiff": lambda: encode_image(_noise(19, 13, 26), "tiff"),
    "tiff-lzw": lambda: encode_image(_noise(48, 40, 27), "tiff-lzw"),
    "tiff-lzw-smooth": lambda: encode_image(_smooth(48, 40, 28), "tiff-lzw"),
    "tiff-pb": lambda: encode_image(_bilevel(19, 13, 29), "tiff-pb"),
    "mjpeg-avi": lambda: encode_video_mjpeg(
        _frames(_smooth, 3, 24, 16, 30), fps=12.5, quality=60
    ),
    "mp4": lambda: encode_video_mp4(
        _frames(_smooth, 3, 24, 16, 33), fps=25, quality=80, keyframe_every=2
    ),
    "gif-anim": lambda: encode_video_gif(_pal_frames(3, 24, 16, 36), fps=20),
    "wav-pcm16": lambda: encode_audio_wav(
        _tone(64, 37, -32768, 32768), sample_rate=16000, channels=2
    ),
    "wav-pcm8": lambda: encode_audio_wav(_tone(63, 38, -128, 128), bits=8),
    "wav-ulaw": lambda: encode_audio_wav(
        _tone(50, 39, -32768, 32768), encoding="ulaw"
    ),
    "wav-alaw": lambda: encode_audio_wav(
        _tone(50, 40, -32768, 32768), encoding="alaw"
    ),
}

GOLDEN = {
    "bmp": "a198480c3f5589f2c82408855ddb72cbeff0f95464aa65dfb05499785319cd67",
    "bmp-32": "48a0b23588991c56a540fe1542c96faf98a576584aed1989c4fe8659c2d30b31",
    "bmp-pal": "1d2a8b13eef6cf71e599ca0c04b7a3cc28f687e6a5be4eda3cf7a2f726878e83",
    "gif": "e3a4293ab94087438ed740914b491e537a55d33b4c20706c501f09ef423ba70c",
    "gif-anim": "3d26fe4eca75e4dab32a7ff5932482b2c90554da02c6a93df5038ee1008a2fb3",
    "gif-small": "1df6225492d2fa745d7d42b1974cbca04165af2e579ef39aec0c52701c4c4868",
    "jpeg": "ae90ce0e63400f4272de025147cbac3a7f6f24bb45a7cd298b47d38a00c0e263",
    "jpeg-gray": "2c36a4042046c76e511e74d4ebf643483b8c38294fc655b81333368457bdc093",
    "jpeg-q50-420": "7e38922d7e8be3d4aeb3b09261a815b0e84d274d065f95f24db6190b9998a05f",
    "mjpeg-avi": "514188801861cdd7bd999136076db31fe5ce951e1401cea98206385bb763f58e",
    "mp4": "35ecda51064ed225c724d4f5e826a53ae72e830b45f8a746d925a58a955fa26d",
    "pbm": "7950ecba6737d371459ae5d429fb25a037ff03b2abf44c5dca85d9409612e1f5",
    "pgm": "e375157f683b049757c1b67ba452e027a66b7953567a53f4c3dace9f1d824100",
    "pgm-16": "640ffcffe3388c7faf17e27287eea7718423223ef4a55ba212be4a3c75d2e9bc",
    "pjpeg": "89a0d043a5a56159d4cdf468984401195a252485d756abfdd9b5d99e58c1dfbd",
    "pjpeg-420-dri": "5a6b73f565547ba6c13826063166aa35d43a2c09a0f28b059cdff9eb242f1908",
    "pjpeg-gray-scans": "b6568a6c2da61b0a632c23ffe7d7f8ef50310d619c55f48d58945274c0600e84",
    "png": "cabcae152398b7deb6d1b52d66fdd1ecd7caaecc918e8d7d396d66658b3e7984",
    "png-16": "b5e2fb4918386dbf58493f246af995e4c32820f8c938bee8c14c9ad6e0c862b4",
    "png-gray": "37412b721015c1be692ab1489ce1edd229c6e4d004d842db10a84efd12cd84c0",
    "png-i": "4ea4177e637ce29e0ed32277850f4fe969c880f439db867049a8863435fca610",
    "png-pal": "683d812330618ad5ef5da6241a22f424dfcb54048213765245b07318315cc275",
    "png-pal-interlace": "806cd18e6079e53cbc84b6ae098d46198fb07190b88e01fa3989e0abffb47e47",
    "ppm": "7083ae0cabaa5a2dab55fb397a454b1b829b9a84437e3f945fe3f5f12f37029c",
    "ppm-16": "469d5eb903414f0f4b2d60bdc55f3a3c8668f9a8d149f48bb810434ca4062481",
    "tiff": "f855f4722bca0ff4ba0ef0d3e8e3d80fcc03b64dad7ff3be4df33b5359a44643",
    "tiff-lzw": "d6d8f67ae928b92292ddcd81995cfc51751db714edb3649a9fba275a681d8809",
    "tiff-lzw-smooth": "ac0b6085c6c6bd3876ac698a6b4a130fd735030100ba3fc0c6a46e066bf18ad9",
    "tiff-pb": "a9aba5a1650d70a62861baf37ee78172ae74e8567afac9933697cbc2faf0970f",
    "wav-alaw": "5af1845fe1601dd17bf1cf61bda87cdb37680c63310ff3ca16696a08b9e6e8b1",
    "wav-pcm16": "f0e42beb84ed7329927daa2a4df8850eef57abe0355adcaaf47f1a65c914d37a",
    "wav-pcm8": "95ac3a45086cd2f53f5a6b45a231226f00b7130c8172aa60b4c944d93eb0d9c2",
    "wav-ulaw": "42ffe525601e8049e211494342077c0edf16840e858c669497c1521c077192f2",
    "webp": "30ad9508e0b94dc7befcefe0f3145328e2e285b45c98e4fde2b03790bbbd878a",
    "webp-pal": "2b7a1da2f717017eca248093991f56e5cd5c0b3633fe7c7dfe820353f98050c5",
    "webp-sg": "06ba21bd51f7392f5c89ca540e622a455f2f44e95ef5469b1b50d1d73eb92945",
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_encoder_bytes_pinned(case):
    digest = hashlib.sha256(CASES[case]()).hexdigest()
    assert digest == GOLDEN[case], case
