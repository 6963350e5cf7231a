"""Hostile bytes against the pure-Python decoders: every decoder either
returns or raises ValueError/NotImplementedError — the featurizers'
quarantine net, so one poisoned payload costs one row, never a failed
Spark task — and does so within a time bound, before sizing anything
from a header it has not checked.

One deterministic mutation fuzz runs over the writers' own outputs
(every ``encode_image`` format, plus MJPEG-AVI, MP4, animated GIF and
WAV): byte flips, truncations, and header length/dimension fields
inflated to large values. Crafted bombs pin the decode-size bound: a
JPEG whose SOF claims 60000x60000, a lossless WebP whose VP8L header
claims 16383x16383, a 16x16 PNG whose IDAT inflates to 400 MiB, and
an MP4 whose sample table lists one small JPEG extent past the
decoded-frames bound; a VP8L stream that spends no bits per pixel
decodes its header-sized raster within the time bound."""

from __future__ import annotations

import struct
import time
import tracemalloc
import zlib

import numpy as np
import pytest

from m2_b3_market_data_pipeline_spark.operators import codec_core
from m2_b3_market_data_pipeline_spark.operators.multimodal import (
    DecodedImage,
    _decode_jpeg,
    _decode_png,
    _decode_wav,
    _parse_avi,
    _parse_gif,
    _parse_mp4,
    decode_image,
    encode_image,
    encode_video_gif,
    encode_video_mjpeg,
)
from m2_b3_market_data_pipeline_spark.operators.webp import (
    decode_webp,
    encode_webp_vp8l,
    webp_meta,
)
from tests.test_mp4_decode import _independent_mp4, _solid_frames

# Wall-clock bound per mutated payload: every base payload decodes in
# well under 50 ms; a decoder that sizes work from an unchecked header
# takes seconds and gigabytes instead.
PAYLOAD_SECONDS = 1.0


def _noise(w, h, seed):
    rng = np.random.default_rng(seed)
    rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    return DecodedImage(w, h, rgb.tobytes())


def _smooth16():
    from tests.test_jpeg_decode import _rgb_array, _smooth

    return DecodedImage(16, 16, _rgb_array(16, 16, _smooth).tobytes())


def _netpbm(fmt):
    # one RandomState(11) stream, drawn gray -> bilevel -> rgb
    rng = np.random.RandomState(11)
    gray = np.repeat(rng.randint(0, 256, (16, 16, 1), dtype=np.uint8), 3, 2)
    bilevel = np.repeat(
        rng.randint(0, 2, (16, 16, 1), dtype=np.uint8) * 255, 3, axis=2
    )
    rgb = rng.randint(0, 256, (16, 16, 3), dtype=np.uint8)
    img = {"pgm": gray, "pgm-16": gray, "ppm-16": rgb, "pbm": bilevel}[fmt]
    return encode_image(DecodedImage(16, 16, img.tobytes()), fmt)


def _ramp(fmt):
    rgb = np.arange(16 * 16 * 3, dtype=np.uint8).reshape(16, 16, 3)
    return encode_image(DecodedImage(16, 16, rgb.tobytes()), fmt)


def _palette(fmt):
    rng = np.random.default_rng(41)
    pal = rng.integers(0, 256, size=(40, 3), dtype=np.uint8)
    img = pal[rng.integers(0, 40, size=(14, 17))]
    return encode_image(DecodedImage(17, 14, img.tobytes()), fmt)


def _gray(fmt):
    g = np.random.default_rng(43).integers(0, 256, (13, 15, 1), np.uint8)
    img = np.repeat(g, 3, axis=2)
    return encode_image(DecodedImage(15, 13, img.tobytes()), fmt)


def _gif_independent():
    from tests.test_gif_decode import _grid, _make_gif

    return _make_gif([(0, 0, _grid(16, 16), 0, None)], width=16, height=16)


def _gif_animated():
    rng = np.random.default_rng(47)
    pal = rng.integers(0, 256, size=(30, 3), dtype=np.uint8)
    frames = [
        DecodedImage(12, 10, pal[rng.integers(0, 30, (10, 12))].tobytes())
        for _ in range(3)
    ]
    return encode_video_gif(frames, fps=20)


def _mp4_independent():
    _vals, samples = _solid_frames(n=2)
    return _independent_mp4(samples, w=16, h=16)


def _wav():
    return (
        b"RIFF" + struct.pack("<I", 36 + 64) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16)
        + struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", 64) + bytes(64)
    )


# case -> (base payload builder, entry points, iterations, truncation
# step). Mutation i flips byte (i * 7919) % len and cuts at
# (i * step) % len; iterations None means one per payload byte.
CASES = {
    "jpeg": (
        lambda: encode_image(_smooth16(), "jpeg", quality=75),
        (decode_image,), 200, 131,
    ),
    "pjpeg": (
        lambda: encode_image(_noise(24, 16, 5), "pjpeg", subsample=(2, 2)),
        (decode_image,), 400, 131,
    ),
    "mjpeg-avi": (
        lambda: encode_video_mjpeg([_smooth16()] * 2, quality=75),
        (_parse_avi,), 200, 131,
    ),
    "bmp": (lambda: _ramp("bmp"), (decode_image,), 300, 131),
    "ppm": (lambda: _ramp("ppm"), (decode_image,), 300, 131),
    "png": (lambda: _ramp("png"), (decode_image,), 300, 131),
    "bmp-32": (lambda: _ramp("bmp-32"), (decode_image,), 300, 131),
    "png-i": (lambda: _ramp("png-i"), (decode_image,), 300, 131),
    "png-16": (lambda: _ramp("png-16"), (decode_image,), 300, 131),
    "bmp-pal": (lambda: _palette("bmp-pal"), (decode_image,), 300, 131),
    "png-pal": (lambda: _palette("png-pal"), (decode_image,), 300, 131),
    "gif": (lambda: _palette("gif"), (decode_image,), 300, 131),
    "png-gray": (lambda: _gray("png-gray"), (decode_image,), 300, 131),
    "pgm": (lambda: _netpbm("pgm"), (decode_image,), 300, 131),
    "pgm-16": (lambda: _netpbm("pgm-16"), (decode_image,), 300, 131),
    "ppm-16": (lambda: _netpbm("ppm-16"), (decode_image,), 300, 131),
    "pbm": (lambda: _netpbm("pbm"), (decode_image,), 300, 131),
    "tiff": (
        lambda: encode_image(_noise(8, 8, 29), "tiff"),
        (decode_image,), 300, 131,
    ),
    "tiff-lzw": (
        lambda: encode_image(_noise(12, 12, 99), "tiff-lzw"),
        (decode_image,), 200, 131,
    ),
    "tiff-pb": (
        lambda: encode_image(_noise(12, 12, 99), "tiff-pb"),
        (decode_image,), 200, 131,
    ),
    "webp": (
        lambda: encode_image(_noise(12, 12, 1234), "webp"),
        (decode_webp, webp_meta), None, 131,
    ),
    "webp-sg": (
        lambda: encode_image(_noise(12, 12, 1235), "webp-sg"),
        (decode_image, webp_meta), 300, 131,
    ),
    "gif-independent": (_gif_independent, (decode_image,), 300, 131),
    "gif-animated": (_gif_animated, (_parse_gif,), 300, 131),
    "mp4": (_mp4_independent, (_parse_mp4,), 300, 131),
    "wav": (_wav, (_decode_wav,), 200, 13),
}

# large values for a 16- or 32-bit field in either byte order, and
# for an ASCII (Netpbm) dimension
_INFLATED = (b"\xff\xff\xff\x7f", b"\x7f\xff\xff\xff", b"99999")


def _mutants(base: bytes, n: int, step: int):
    size = len(base)
    for i in range(1, n):
        flipped = bytearray(base)
        flipped[(i * 7919) % size] ^= 0xFF
        yield bytes(flipped)
        yield base[: (i * step) % size]
    # every fill at every offset of the header region, then one fill
    # per offset spread over the rest: whatever length or dimension
    # field sits there gets huge
    fills = [(off, f) for off in range(min(size, 64)) for f in _INFLATED]
    fills += [((i * 7919) % size, _INFLATED[i % 3]) for i in range(1, n)]
    for off, fill in fills:
        inflated = bytearray(base)
        inflated[off : off + len(fill)] = fill
        yield bytes(inflated[:size])


@pytest.mark.parametrize("case", list(CASES))
def test_mutated_payloads_stay_in_quarantine(case):
    build, entries, n, step = CASES[case]
    base = build()
    for entry in entries:
        entry(base)  # the unmutated payload decodes
    slowest = 0.0
    for payload in _mutants(base, n or len(base), step):
        for entry in entries:
            t0 = time.perf_counter()
            try:
                entry(payload)
            except (ValueError, NotImplementedError):
                pass  # the quarantine contract
            slowest = max(slowest, time.perf_counter() - t0)
    assert slowest < PAYLOAD_SECONDS, (case, slowest)


def _raises_fast(fn, payload, match):
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match=match):
        fn(payload)
    assert time.perf_counter() - t0 < 1.0


def test_jpeg_sof_claiming_60000_squared_rejected_before_allocation():
    base = bytearray(
        encode_image(DecodedImage(8, 8, bytes(range(192))), "jpeg")
    )
    sof = base.index(b"\xff\xc0")
    struct.pack_into(">HH", base, sof + 5, 60000, 60000)
    _raises_fast(_decode_jpeg, bytes(base), "canvas bound")
    _raises_fast(decode_image, bytes(base), "canvas bound")


def test_vp8l_header_claiming_16383_squared_rejected_before_allocation():
    payload = bytearray(encode_image(_noise(10, 10, 7), "webp"))
    at = payload.index(b"VP8L") + 8  # chunk body: 0x2f + 14+14+1+3 bits
    assert payload[at] == 0x2F
    hdr = int.from_bytes(payload[at + 1 : at + 5], "little")
    hdr = (hdr & ~((1 << 28) - 1)) | 16382 | (16382 << 14)
    payload[at + 1 : at + 5] = hdr.to_bytes(4, "little")
    assert webp_meta(bytes(payload))["width"] == 16383
    _raises_fast(decode_webp, bytes(payload), "canvas bound")


def test_vp8l_zero_bit_pixels_fill_within_the_bound():
    """A VP8L stream whose prefix codes are all single-symbol reads no
    bits per pixel, so its header alone sets the work: a solid 4x4
    raster re-headed as 2048x2048 decodes within the bound, every pixel
    the one literal."""
    rgb = bytes([200, 100, 50])
    payload = bytearray(
        encode_webp_vp8l(DecodedImage(4, 4, rgb * 16), use_lz77=False)
    )
    at = payload.index(b"VP8L") + 8
    hdr = int.from_bytes(payload[at + 1 : at + 5], "little")
    hdr = (hdr & ~((1 << 28) - 1)) | 2047 | (2047 << 14)
    payload[at + 1 : at + 5] = hdr.to_bytes(4, "little")
    t0 = time.perf_counter()
    img = decode_webp(bytes(payload))
    assert time.perf_counter() - t0 < PAYLOAD_SECONDS
    assert (img.width, img.height) == (2048, 2048)
    assert img.pixels == rgb * (2048 * 2048)


def test_png_deflate_bomb_inflates_only_what_ihdr_implies():
    rgb = np.random.default_rng(5).integers(0, 256, (16, 16, 3), np.uint8)
    scanlines = b"".join(b"\x00" + rgb[y].tobytes() for y in range(16))
    comp = zlib.compressobj(9)
    idat = comp.compress(scanlines)
    zeros = bytes(1 << 20)
    for _ in range(400):  # 400 MiB of trailing image data
        idat += comp.compress(zeros)
    idat += comp.flush()

    def chunk(cid, body):
        crc = zlib.crc32(cid + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + cid + body + struct.pack(">I", crc)

    bomb = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 16, 16, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )
    assert len(bomb) < 1 << 20
    tracemalloc.start()
    try:
        img = _decode_png(bomb)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert img.pixels == rgb.tobytes()  # trailing image data is ignored
    assert peak < 4 << 20, peak


def test_mp4_repeating_one_extent_rejected_before_decoding():
    """One 64x64 JPEG (a few hundred bytes) listed as enough samples to
    decode past the decoded-frames bound: the frames the header declares
    are checked before any sample decodes."""
    _vals, (jpeg,) = _solid_frames(n=1, w=64, h=64)
    n = codec_core.MAX_DECODED_BYTES // (64 * 64 * 3) + 1
    payload = _independent_mp4([jpeg], w=64, h=64, repeat=n)
    assert len(payload) < 8 * n + 4096
    _raises_fast(_parse_mp4, payload, "decoded-frames bound")


def test_video_frames_bounded_by_decoded_bytes(monkeypatch):
    """A header that understates its frames still stops at the bound
    once the decoded bytes pass it: AVI declares no frame count here, and
    this MP4's tkhd claims 1x1 for 16x16 samples."""
    monkeypatch.setattr(codec_core, "MAX_DECODED_BYTES", 2 * 16 * 16 * 3)
    assert len(_parse_avi(encode_video_mjpeg([_smooth16()] * 2))[1]) == 2
    _raises_fast(
        _parse_avi, encode_video_mjpeg([_smooth16()] * 3), "decoded-frames bound"
    )
    _vals, samples = _solid_frames(n=3)
    _raises_fast(
        _parse_mp4, _independent_mp4(samples, w=1, h=1), "decoded-frames bound"
    )
