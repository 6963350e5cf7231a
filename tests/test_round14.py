"""Round-14 pins. First wave: the r13 advice regressions — GIF
quarantine boundary + resource bounds (high/medium) and the JPEG
non-divisor sampling guard (low); crafted payloads mirror the
advice's verified reproducers (truncated GCE, a 35-byte GIF claiming
8000x8000, a max-dims header), all surfacing as ValueError, never
IndexError/struct.error/MemoryError. Then the round's decode
widening: PNG palette/grayscale/16-bit legs, audio WAV write path +
G.711, BMP 32-bit/palettized, baseline TIFF, animated-GIF writer.
Late wave: Adam7 interlace (writer roundtrips, independent sub-byte
and filtered-pass muxers, fail-loud, Spark featurizer equality), the
heavy-tail rebalance operator (spread + single-exchange plan pins),
and the Netpbm completion (P5 PGM, 16-bit PPM/PGM, P4 PBM)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from tests.test_gif_decode import _PALETTE16, _grid, _make_gif


def _gif_header(width: int, height: int) -> bytes:
    return (
        b"GIF89a"
        + struct.pack("<HH", width, height)
        + bytes([0x80 | 3, 0, 0])
        + _PALETTE16
    )


def test_gif_truncated_gce_raises_valueerror():
    """r13 advice (high): a GCE cut off after its size byte used to
    read past the buffer (IndexError / struct.error escaping the
    quarantine); it must now be a ValueError like every other
    malformation."""
    from m2_b3_market_data_pipeline_spark.operators.multimodal import _parse_gif

    hdr = _gif_header(8, 8)
    for tail in (
        bytes([0x21, 0xF9, 4]),  # size byte present, body missing
        bytes([0x21, 0xF9, 4, 0x04]),  # packed byte only
        bytes([0x21, 0xF9, 4, 0x04, 0x00]),  # cut mid-delay
        bytes([0x21, 0xF9, 4, 0x04, 0x00, 0x00, 0x00]),  # cut at tindex
        bytes([0x21]),  # extension introducer alone
    ):
        with pytest.raises(ValueError):
            _parse_gif(hdr + tail)


def test_gif_implausible_logical_screen_rejected():
    """r13 advice (medium): a 35-byte GIF claiming 8000x8000 used to
    materialize a 192 MB canvas per frame. The LZW-feasibility bound
    (a payload of L bytes cannot decode to more than ~ (8L/3)^2/2
    pixels) rejects it before any allocation."""
    from m2_b3_market_data_pipeline_spark.operators.multimodal import _parse_gif

    tiny = (
        b"GIF89a"
        + struct.pack("<HH", 8000, 8000)
        + bytes([0, 0, 0, 0x2C])
        + struct.pack("<HHHH", 0, 0, 1, 1)
        + bytes([0, 2, 1, 0x44, 0])
        + b"\x3B"
    )
    assert len(tiny) < 64
    with pytest.raises(ValueError, match="implausible|canvas bound"):
        _parse_gif(tiny)


def test_gif_absolute_canvas_cap():
    """Max header dims (65535x65535 -> ~12.9 GB per frame) must be
    rejected by the absolute canvas bound even when the payload is
    large enough that the LZW budget alone would pass it."""
    from m2_b3_market_data_pipeline_spark.operators.multimodal import _parse_gif

    big = (
        b"GIF89a"
        + struct.pack("<HH", 65535, 65535)
        + bytes([0, 0, 0])
        + b"\x00" * 2_000_000  # enough bytes to defeat the LZW budget
    )
    with pytest.raises(ValueError, match="canvas bound"):
        _parse_gif(big)


def test_gif_animation_total_bytes_cap():
    """Frame-count multiplication is bounded too: the per-payload
    decoded-frames cap fires once cumulative frames exceed it (the
    advice's 'multiplied by frame count in the video featurizer'
    escalation). 1024x1024 canvas = 3 MB/frame -> 86 frames clear
    the 256 MB bound."""
    from m2_b3_market_data_pipeline_spark.operators.codec_core import (
        MAX_DECODED_BYTES as _GIF_MAX_TOTAL_BYTES,
    )
    from m2_b3_market_data_pipeline_spark.operators.multimodal import _parse_gif

    w = h = 1024
    idx = np.zeros((1, 1), dtype=np.uint8)
    n_frames = _GIF_MAX_TOTAL_BYTES // (w * h * 3) + 1
    payload = _make_gif(
        [(0, 0, idx, 1, None)] * n_frames, width=w, height=h
    )
    with pytest.raises(ValueError, match="decoded-frames bound"):
        _parse_gif(payload)


def test_gif_good_payloads_still_decode():
    """The new bounds must not reject legitimate small GIFs (floor of
    4096 px on the LZW budget) or real animations under the cap."""
    from m2_b3_market_data_pipeline_spark.operators.multimodal import _parse_gif

    idx = _grid(16, 16)
    fps, frames = _parse_gif(
        _make_gif([(0, 0, idx, 5, None)] * 3, width=16, height=16)
    )
    assert len(frames) == 3 and frames[0].width == 16


def test_jpeg_non_divisor_sampling_factors_raise_explicitly():
    """r13 advice (low): spec-legal sampling pairs whose factors don't
    divide hmax/vmax (3 vs 2) used to die in a shape mismatch; they
    now raise the explicit non-divisor ValueError before entropy
    decode, and the docstring no longer overstates coverage."""
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        DecodedImage,
        _decode_jpeg,
        encode_image,
    )

    rng = np.random.default_rng(14)
    rgb = rng.integers(0, 256, size=(24, 24, 3), dtype=np.uint8)
    payload = bytearray(
        encode_image(DecodedImage(24, 24, rgb.tobytes()), "jpeg")
    )
    sof = payload.index(b"\xff\xc0")
    comp0_hv = sof + 10 + 1  # ncomp at sof+9; comp0 = (cid, hv, tq)
    comp1_hv = comp0_hv + 3
    payload[comp0_hv] = 0x31  # Y: h=3, v=1
    payload[comp1_hv] = 0x21  # Cb: h=2, v=1 -> 3 % 2 != 0
    with pytest.raises(ValueError, match="non-divisor"):
        _decode_jpeg(bytes(payload))


# ---------------------------------------------------------------------------
# PNG palette / grayscale legs (r13 verdict item 3)
# ---------------------------------------------------------------------------


def _png_chunks(chunks) -> bytes:
    """Independent minimal PNG writer for the decode tests (never the
    production encoder): list of (cid, body) -> full stream."""
    import zlib

    out = bytearray(b"\x89PNG\r\n\x1a\n")
    for cid, body in chunks:
        out += struct.pack(">I", len(body)) + cid + body
        out += struct.pack(">I", zlib.crc32(cid + body) & 0xFFFFFFFF)
    return bytes(out)


def _pack_bits(samples: np.ndarray, depth: int) -> bytes:
    """MSB-first bit packing of one scanline's samples at depth."""
    bits = []
    for s in samples:
        for b in range(depth - 1, -1, -1):
            bits.append((int(s) >> b) & 1)
    while len(bits) % 8:
        bits.append(0)
    return np.packbits(np.array(bits, dtype=np.uint8)).tobytes()


def _pixels(img) -> np.ndarray:
    return np.frombuffer(img.pixels, dtype=np.uint8).reshape(
        img.height, img.width, 3
    )


@pytest.mark.parametrize("depth", [1, 2, 4, 8])
def test_png_grayscale_depths_decode_exact(depth):
    """Color type 0 at every legal sub-16 depth: samples scale to
    8-bit by the exact 255/(2^d-1) factor and replicate to RGB."""
    import zlib

    from m2_b3_market_data_pipeline_spark.operators.multimodal import _decode_png

    w, h = 13, 5  # odd width exercises the sub-byte row padding
    maxv = (1 << depth) - 1
    samples = np.array(
        [[(3 * x + 5 * y) % (maxv + 1) for x in range(w)] for y in range(h)]
    )
    raw = b"".join(b"\x00" + _pack_bits(samples[y], depth) for y in range(h))
    payload = _png_chunks([
        (b"IHDR", struct.pack(">IIBBBBB", w, h, depth, 0, 0, 0, 0)),
        (b"IDAT", zlib.compress(raw)),
        (b"IEND", b""),
    ])
    img = _decode_png(payload)
    expect = (samples * (255 // maxv)).astype(np.uint8)
    got = _pixels(img)
    assert np.array_equal(got[:, :, 0], expect)
    assert np.array_equal(got[:, :, 0], got[:, :, 1])
    assert np.array_equal(got[:, :, 1], got[:, :, 2])


@pytest.mark.parametrize("depth", [1, 2, 4, 8])
def test_png_palette_depths_decode_exact(depth):
    import zlib

    from m2_b3_market_data_pipeline_spark.operators.multimodal import _decode_png

    w, h = 9, 4
    n = 1 << depth
    pal = np.array(
        [[(i * 37) % 256, (i * 59) % 256, (i * 83) % 256] for i in range(n)],
        dtype=np.uint8,
    )
    samples = np.array(
        [[(x + 2 * y) % n for x in range(w)] for y in range(h)]
    )
    raw = b"".join(b"\x00" + _pack_bits(samples[y], depth) for y in range(h))
    payload = _png_chunks([
        (b"IHDR", struct.pack(">IIBBBBB", w, h, depth, 3, 0, 0, 0)),
        (b"PLTE", pal.tobytes()),
        (b"IDAT", zlib.compress(raw)),
        (b"IEND", b""),
    ])
    img = _decode_png(payload)
    assert np.array_equal(_pixels(img), pal[samples])


def test_png_gray_alpha_type4_drops_alpha():
    import zlib

    from m2_b3_market_data_pipeline_spark.operators.multimodal import _decode_png

    w, h = 6, 3
    g = np.array([[(x * 40 + y * 7) % 256 for x in range(w)] for y in range(h)],
                 dtype=np.uint8)
    rows = b"".join(
        b"\x00" + np.stack(
            [g[y], np.full(w, 200, np.uint8)], axis=1
        ).tobytes()
        for y in range(h)
    )
    payload = _png_chunks([
        (b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 4, 0, 0, 0)),
        (b"IDAT", zlib.compress(rows)),
        (b"IEND", b""),
    ])
    img = _decode_png(payload)
    assert np.array_equal(_pixels(img)[:, :, 0], g)


def test_png_gray_and_palette_encoder_roundtrips():
    """The production png-gray / png-pal write paths invert the new
    decode legs exactly — the property the phash gate's six-format
    rotation rests on."""
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        DecodedImage,
        _decode_png,
        encode_image,
    )

    xg, yg = np.meshgrid(np.arange(16), np.arange(16))
    v = ((7 * xg + 13 * yg) % 256).astype(np.uint8)
    gray = np.repeat(v[:, :, None], 3, axis=2)
    img = DecodedImage(16, 16, gray.tobytes())
    for fmt in ("png-gray", "png-pal"):
        out = _decode_png(encode_image(img, fmt))
        assert out.pixels == img.pixels, fmt
    # a colorful raster is palette-expressible but NOT gray
    rgb = np.stack([v, v.T, 255 - v], axis=2).astype(np.uint8)
    cimg = DecodedImage(16, 16, rgb.tobytes())
    assert _decode_png(encode_image(cimg, "png-pal")).pixels == cimg.pixels
    with pytest.raises(ValueError, match="r == g == b"):
        encode_image(cimg, "png-gray")


def test_png_palette_fail_loud_variants():
    import zlib

    from m2_b3_market_data_pipeline_spark.operators.multimodal import _decode_png

    w, h = 4, 2
    samples = np.full((h, w), 5, dtype=np.uint8)  # beyond a 4-entry PLTE
    raw = b"".join(b"\x00" + samples[y].tobytes() for y in range(h))
    pal4 = bytes(range(12))
    payload = _png_chunks([
        (b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)),
        (b"PLTE", pal4),
        (b"IDAT", zlib.compress(raw)),
        (b"IEND", b""),
    ])
    with pytest.raises(ValueError, match="beyond PLTE"):
        _decode_png(payload)
    no_plte = _png_chunks([
        (b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)),
        (b"IDAT", zlib.compress(raw)),
        (b"IEND", b""),
    ])
    with pytest.raises(ValueError, match="missing PLTE"):
        _decode_png(no_plte)
    sixteen_bit = _png_chunks([
        (b"IHDR", struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0)),
        (b"IDAT", zlib.compress(raw)),
        (b"IEND", b""),
    ])
    with pytest.raises(ValueError):
        _decode_png(sixteen_bit)


# ---------------------------------------------------------------------------
# WAV write path + the audio decode gate (r14)
# ---------------------------------------------------------------------------


def test_encode_audio_wav_roundtrips_both_widths():
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        _decode_wav,
        encode_audio_wav,
    )

    samples = [((13 * k) % 201) - 100 for k in range(64)]
    for bits in (8, 16):
        rate, ch, got = _decode_wav(
            encode_audio_wav(samples, sample_rate=8000, channels=1, bits=bits)
        )
        assert (rate, ch) == (8000, 1)
        assert got == samples, bits
    # stereo interleave survives
    inter = [v for k in range(32) for v in (k - 16, 16 - k)]
    rate, ch, got = encode_and_back = _decode_wav(
        encode_audio_wav(inter, sample_rate=44100, channels=2, bits=16)
    )
    assert (rate, ch, got) == (44100, 2, inter)


def test_encode_audio_wav_fail_loud():
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        encode_audio_wav,
    )

    with pytest.raises(ValueError, match="out of range"):
        encode_audio_wav([200], bits=8)
    with pytest.raises(ValueError, match="out of range"):
        encode_audio_wav([40000], bits=16)
    with pytest.raises(ValueError, match="multiple of channels"):
        encode_audio_wav([1, 2, 3], channels=2)
    with pytest.raises(ValueError, match="8/16-bit"):
        encode_audio_wav([0], bits=24)


def test_decoded_wav_check_law_matches_by_hand(spark):
    """One doc_id computed by hand pins the gate's law end to end:
    16 frames of 4 samples, rms = sqrt(exact int sum / 4.0)."""
    import math

    from m2_b3_market_data_pipeline_spark.plans.media_queries import (
        decoded_wav_check,
    )

    rows = decoded_wav_check(spark, "/root/testdata/sf0.001").orderBy(
        "doc_id", "frame_idx"
    ).limit(16).collect()
    hid = abs(rows[0].doc_id)
    samples = [((hid * 13 + 7 * k) % 201) - 100 for k in range(64)]
    for r in rows:
        lo, hi = r.frame_idx * 4, r.frame_idx * 4 + 4
        expect = math.sqrt(sum(s * s for s in samples[lo:hi]) / 4.0)
        assert r.rms == expect
        assert (r.sample_rate, r.channels, r.n_samples) == (8000, 1, 64)


# ---------------------------------------------------------------------------
# 16-bit PNG leg (r14 second wave)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_16bit_rgb_filtered_decodes_exact(ftype):
    """16-bit truecolor with every filter type, via the INDEPENDENT
    writer: samples are v*257 expansions, filters run at the 6-byte
    back-distance, and the high-byte reduction recovers the original
    8-bit raster exactly."""
    import zlib

    from m2_b3_market_data_pipeline_spark.operators.multimodal import _decode_png

    w, h = 7, 5
    rng = np.random.default_rng(ftype + 40)
    rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    wide = (rgb.astype(np.int64) * 257).reshape(h, -1)
    raw16 = np.zeros((h, w * 6), dtype=np.int64)
    raw16[:, 0::2] = wide >> 8
    raw16[:, 1::2] = wide & 0xFF
    bpp, stride = 6, w * 6
    rows = []
    prior = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        line = raw16[y]
        if ftype == 0:
            f = line
        elif ftype == 1:
            left = np.concatenate([np.zeros(bpp, np.int64), line[:-bpp]])
            f = (line - left) & 0xFF
        elif ftype == 2:
            f = (line - prior) & 0xFF
        elif ftype == 3:
            left = np.concatenate([np.zeros(bpp, np.int64), line[:-bpp]])
            f = (line - ((left + prior) // 2)) & 0xFF
        else:
            a = np.concatenate([np.zeros(bpp, np.int64), line[:-bpp]])
            c = np.concatenate([np.zeros(bpp, np.int64), prior[:-bpp]])
            b = prior
            p = a + b - c
            pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
            pred = np.where((pa <= pb) & (pa <= pc), a,
                            np.where(pb <= pc, b, c))
            f = (line - pred) & 0xFF
        rows.append(bytes([ftype]) + f.astype(np.uint8).tobytes())
        prior = line
    payload = _png_chunks([
        (b"IHDR", struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0)),
        (b"IDAT", zlib.compress(b"".join(rows))),
        (b"IEND", b""),
    ])
    img = _decode_png(payload)
    assert np.array_equal(_pixels(img), rgb), ftype


def test_png_16bit_grayscale_and_palette_reject():
    import zlib

    from m2_b3_market_data_pipeline_spark.operators.multimodal import _decode_png

    w, h = 5, 3
    g = np.array([[(40 * x + 9 * y) % 256 for x in range(w)]
                  for y in range(h)], dtype=np.int64)
    wide = g * 257
    raw = b"".join(
        b"\x00" + np.stack([wide[y] >> 8, wide[y] & 0xFF], axis=1)
        .astype(np.uint8).tobytes()
        for y in range(h)
    )
    payload = _png_chunks([
        (b"IHDR", struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0)),
        (b"IDAT", zlib.compress(raw)),
        (b"IEND", b""),
    ])
    img = _decode_png(payload)
    assert np.array_equal(_pixels(img)[:, :, 0], g.astype(np.uint8))
    pal16 = _png_chunks([
        (b"IHDR", struct.pack(">IIBBBBB", w, h, 16, 3, 0, 0, 0)),
        (b"PLTE", bytes(range(12))),
        (b"IDAT", zlib.compress(raw)),
        (b"IEND", b""),
    ])
    with pytest.raises(ValueError, match="cannot be 16-bit"):
        _decode_png(pal16)


def test_png_16_production_roundtrip():
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        DecodedImage,
        _decode_png,
        encode_image,
    )

    rng = np.random.default_rng(99)
    rgb = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    img = DecodedImage(16, 16, rgb.tobytes())
    assert _decode_png(encode_image(img, "png-16")).pixels == img.pixels


def test_g711_reference_anchors_and_codeword_identity():
    """G.711 expanders pinned to public reference values (mu-law 0x00
    -> -32124, 0xFF -> 0; A-law 0xD5 -> +8) and the compressors invert
    them on every canonical codeword: all 256 for A-law; 255/256 for
    mu-law (0x7F is the non-canonical negative zero and re-encodes as
    its canonical twin 0xFF)."""
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        _alaw2linear,
        _linear2alaw,
        _linear2ulaw,
        _ulaw2linear,
    )

    assert _ulaw2linear(0x00) == -32124
    assert _ulaw2linear(0x80) == 32124
    assert _ulaw2linear(0xFF) == 0
    assert _alaw2linear(0xD5) == 8
    assert _alaw2linear(0x55) == -8
    assert [c for c in range(256)
            if _linear2ulaw(_ulaw2linear(c)) != c] == [0x7F]
    assert _linear2ulaw(_ulaw2linear(0x7F)) == 0xFF
    assert all(_linear2alaw(_alaw2linear(c)) == c for c in range(256))


def test_g711_wav_container_roundtrips():
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        _alaw2linear,
        _decode_wav,
        _ulaw2linear,
        encode_audio_wav,
    )

    us = [_ulaw2linear(c) for c in range(256) if c != 0x7F]
    rate, ch, got = _decode_wav(encode_audio_wav(us, encoding="ulaw"))
    assert (rate, ch, got) == (8000, 1, us)
    asamp = [_alaw2linear(c) for c in range(256)]
    rate, ch, got = _decode_wav(
        encode_audio_wav(asamp, sample_rate=44100, encoding="alaw")
    )
    assert (rate, ch, got) == (44100, 1, asamp)
    with pytest.raises(ValueError, match="encoding"):
        encode_audio_wav([0], encoding="gsm")


# ---------------------------------------------------------------------------
# BMP 32-bit / 8-bit-palette legs (r14 second wave)
# ---------------------------------------------------------------------------


def test_bmp_32bit_and_palette_roundtrip_and_independent_layout():
    """Production write paths invert the widened decoder; an
    independently hand-packed 32-bit payload (top-down, junk in the
    x byte) pins the BGRx layout without trusting the writer."""
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        DecodedImage,
        _decode_bmp,
        encode_image,
    )

    rng = np.random.default_rng(8)
    rgb = rng.integers(0, 256, size=(5, 3, 3), dtype=np.uint8)
    img = DecodedImage(3, 5, rgb.tobytes())
    assert _decode_bmp(encode_image(img, "bmp-32")).pixels == img.pixels
    xg, yg = np.meshgrid(np.arange(8), np.arange(8))
    v = ((5 * xg + 11 * yg) % 256).astype(np.uint8)
    gimg = DecodedImage(8, 8, np.repeat(v[:, :, None], 3, axis=2).tobytes())
    assert _decode_bmp(encode_image(gimg, "bmp-pal")).pixels == gimg.pixels
    # hand-packed 32bpp, NEGATIVE height (top-down), x byte = 0xEE
    w, h = 2, 2
    px = bytearray()
    for y in range(h):
        for x in range(w):
            r, g, b = rgb[y % 5, x % 3]
            px += bytes([b, g, r, 0xEE])
    hdr = b"BM" + struct.pack("<IHHI", 54 + len(px), 0, 0, 54)
    hdr += struct.pack("<IiiHHIIiiII", 40, w, -h, 1, 32, 0, len(px),
                       0, 0, 0, 0)
    out = _decode_bmp(hdr + bytes(px))
    got = np.frombuffer(out.pixels, np.uint8).reshape(h, w, 3)
    for y in range(h):
        for x in range(w):
            assert tuple(got[y, x]) == tuple(rgb[y % 5, x % 3])


def test_bmp_palette_fail_loud():
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        DecodedImage,
        _decode_bmp,
        encode_image,
    )

    # index beyond the declared color table
    w, h = 4, 2
    n = 4
    table = bytes(16)
    row_size = (w + 3) & ~3
    pix = bytes([7] * row_size) * h  # index 7 >= 4 colors
    hdr = b"BM" + struct.pack("<IHHI", 54 + 16 + len(pix), 0, 0, 54 + 16)
    hdr += struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(pix),
                       0, 0, n, 0)
    with pytest.raises(ValueError, match="beyond color table"):
        _decode_bmp(hdr + table + pix)
    # a colorful raster with > 256 uniques refuses bmp-pal
    rng = np.random.default_rng(11)
    rgb = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    with pytest.raises(ValueError, match="256 unique"):
        encode_image(DecodedImage(32, 32, rgb.tobytes()), "bmp-pal")


# ---------------------------------------------------------------------------
# Baseline TIFF (r14 second wave): both byte orders, strips, photometrics
# ---------------------------------------------------------------------------


def _make_tiff(entries_and_blobs, *, big_endian=False):
    """Independent TIFF writer: hand-packed header + caller-supplied
    IFD entries and external blobs. entries = list of (tag, type,
    count, inline_bytes_or_('blob', idx)); blobs land after the IFD."""
    e = ">" if big_endian else "<"
    magic = b"MM\x00*" if big_endian else b"II*\x00"
    entries, blobs = entries_and_blobs
    ifd_at = 8
    ifd_len = 2 + 12 * len(entries) + 4
    blob_at = ifd_at + ifd_len
    blob_offsets = []
    for b in blobs:
        blob_offsets.append(blob_at)
        blob_at += len(b) + (len(b) & 1)
    out = bytearray(magic + struct.pack(e + "I", ifd_at))
    out += struct.pack(e + "H", len(entries))
    for tag, typ, cnt, val in entries:
        out += struct.pack(e + "HHI", tag, typ, cnt)
        if isinstance(val, tuple) and val[0] == "blob":
            out += struct.pack(e + "I", blob_offsets[val[1]])
        else:
            out += val.ljust(4, b"\x00")
    out += struct.pack(e + "I", 0)
    for b in blobs:
        out += b + (b"\x00" if len(b) & 1 else b"")
    return bytes(out)


@pytest.mark.parametrize("big_endian", [False, True])
def test_tiff_rgb_multistrip_both_byte_orders(big_endian):
    """RGB spread over TWO strips, dims/strip tables as SHORT/LONG
    mixes, via the independent writer — in both byte orders (the
    production writer only emits II, so MM is writer-independent)."""
    from m2_b3_market_data_pipeline_spark.operators.multimodal import _decode_tiff

    e = ">" if big_endian else "<"
    w, h = 5, 4
    rng = np.random.default_rng(17 + big_endian)
    rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    px = rgb.tobytes()
    half = w * 3 * 2  # first two rows
    strip1, strip2 = px[:half], px[half:]
    short = lambda v: struct.pack(e + "H", v)  # noqa: E731
    entries = [
        (256, 3, 1, short(w)),
        (257, 3, 1, short(h)),
        (258, 3, 3, ("blob", 0)),
        (259, 3, 1, short(1)),
        (262, 3, 1, short(2)),
        (273, 4, 2, ("blob", 1)),
        (277, 3, 1, short(3)),
        (278, 4, 1, struct.pack(e + "I", 2)),
        (279, 4, 2, ("blob", 2)),
    ]
    bits = struct.pack(e + "HHH", 8, 8, 8)
    # strip offset table points at blobs 3 and 4 — compute after layout
    # trick: place offsets blob with placeholder, then fix up
    blobs = [bits, b"\x00" * 8, struct.pack(e + "II", len(strip1), len(strip2)),
             strip1, strip2]
    payload = bytearray(_make_tiff((entries, blobs), big_endian=big_endian))
    # find real strip locations: blobs are sequential after the IFD
    ifd_len = 2 + 12 * len(entries) + 4
    at = 8 + ifd_len
    locs = []
    for b in blobs:
        locs.append(at)
        at += len(b) + (len(b) & 1)
    struct.pack_into(e + "II", payload, locs[1], locs[3], locs[4])
    img = _decode_tiff(bytes(payload))
    assert (img.width, img.height) == (w, h)
    assert np.array_equal(_pixels(img), rgb)


def test_tiff_grayscale_both_polarities_and_palette():
    from m2_b3_market_data_pipeline_spark.operators.multimodal import _decode_tiff

    w, h = 6, 3
    g = np.array([[(x * 37 + y * 11) % 256 for x in range(w)]
                  for y in range(h)], dtype=np.uint8)
    short = lambda v: struct.pack("<H", v)  # noqa: E731
    for photo in (1, 0):
        entries = [
            (256, 3, 1, short(w)), (257, 3, 1, short(h)),
            (259, 3, 1, short(1)), (262, 3, 1, short(photo)),
            (273, 4, 1, ("blob", 0)), (277, 3, 1, short(1)),
            (279, 4, 1, struct.pack("<I", w * h)),
        ]
        payload = bytearray(_make_tiff((entries, [g.tobytes()])))
        ifd_len = 2 + 12 * len(entries) + 4
        struct.pack_into("<I", payload, 8 + 2 + 12 * 4 + 8, 8 + ifd_len)
        img = _decode_tiff(bytes(payload))
        expect = g if photo == 1 else (255 - g)
        assert np.array_equal(_pixels(img)[:, :, 0], expect), photo
    # palette: 16-bit ColorMap channels reduce >> 8
    n = 16
    cm = np.arange(3 * n, dtype=np.int64).reshape(3, n) * 997 % 65536
    idx = np.array([[(x + y) % n for x in range(w)] for y in range(h)],
                   dtype=np.uint8)
    entries = [
        (256, 3, 1, short(w)), (257, 3, 1, short(h)),
        (259, 3, 1, short(1)), (262, 3, 1, short(3)),
        (273, 4, 1, ("blob", 0)), (277, 3, 1, short(1)),
        (279, 4, 1, struct.pack("<I", w * h)),
        (320, 3, 3 * n, ("blob", 1)),
    ]
    cmap_bytes = struct.pack(f"<{3 * n}H", *cm.reshape(-1))
    payload = bytearray(_make_tiff((entries, [idx.tobytes(), cmap_bytes])))
    ifd_len = 2 + 12 * len(entries) + 4
    blob0_at = 8 + ifd_len
    struct.pack_into("<I", payload, 8 + 2 + 12 * 4 + 8, blob0_at)
    img = _decode_tiff(bytes(payload))
    got = _pixels(img)
    expect = np.stack(
        [(cm[c] >> 8).astype(np.uint8)[idx] for c in range(3)], axis=2
    )
    assert np.array_equal(got, expect)


def test_tiff_production_roundtrip_and_dispatch():
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        DecodedImage,
        decode_image,
        encode_image,
    )

    rng = np.random.default_rng(23)
    rgb = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    img = DecodedImage(16, 16, rgb.tobytes())
    assert decode_image(encode_image(img, "tiff")).pixels == img.pixels


def test_tiff_fail_loud_and_fuzz():
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        DecodedImage,
        _decode_tiff,
        encode_image,
    )

    rng = np.random.default_rng(29)
    rgb = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
    base = bytearray(encode_image(DecodedImage(8, 8, rgb.tobytes()), "tiff"))
    with pytest.raises(ValueError, match="not a TIFF"):
        _decode_tiff(b"XX\x00\x00 junk")
    jpeg_in_tiff = bytearray(base)
    # compression tag value: find entry 259 and set value to 7
    # (JPEG-in-TIFF — still fail-loud; LZW/PackBits became real legs
    # in r15); entries start at ifd+2; locate by tag scan
    import struct as _s
    (ifd_at,) = _s.unpack_from("<I", jpeg_in_tiff, 4)
    (n,) = _s.unpack_from("<H", jpeg_in_tiff, ifd_at)
    for i in range(n):
        at = ifd_at + 2 + 12 * i
        tag, = _s.unpack_from("<H", jpeg_in_tiff, at)
        if tag == 259:
            _s.pack_into("<H", jpeg_in_tiff, at + 8, 7)
    with pytest.raises(ValueError, match="compression"):
        _decode_tiff(bytes(jpeg_in_tiff))


def test_animated_gif_writer_lossless_and_through_featurizer(spark):
    """encode_video_gif inverts _parse_gif exactly for
    palette-expressible frames and matches the AVI/MP4 features
    through the Spark featurizer (the video gate's third container
    leg)."""
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        DecodedImage,
        _parse_gif,
        decoded_video_frame_features,
        encode_video_gif,
        encode_video_mjpeg,
    )

    frames = [
        DecodedImage(16, 16, bytes([128 + 2 * ((3 * k + 5) % 32)]) * 768)
        for k in range(3)
    ]
    fps, got = _parse_gif(encode_video_gif(frames, fps=25.0))
    assert fps == 25.0
    assert [f.pixels for f in got] == [f.pixels for f in frames]
    with pytest.raises(ValueError, match="256 unique"):
        import numpy as _np
        rng = _np.random.default_rng(1)
        big = [DecodedImage(
            32, 32, rng.integers(0, 256, (32, 32, 3), dtype=_np.uint8
                                 ).tobytes())
               for _ in range(2)]
        encode_video_gif(big)
    rows = [
        (1, encode_video_mjpeg(frames, fps=10.0, quality=50)),
        (2, encode_video_gif(frames, fps=10.0)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    out = decoded_video_frame_features(df).orderBy(
        "doc_id", "frame_idx"
    ).collect()
    avi, gif = out[:3], out[3:]
    for a, g in zip(avi, gif):
        assert (a.mean_luma, a.phash64, a.fps) == (g.mean_luma, g.phash64,
                                                   g.fps)


# ---------------------------------------------------------------------------
# Adam7 interlace (the last PNG structural fail-loud, closed late r14)
# ---------------------------------------------------------------------------

_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


@pytest.mark.parametrize("size", [(1, 1), (3, 2), (5, 7), (8, 8), (9, 10),
                                  (16, 16), (33, 17), (1, 9), (9, 1)])
def test_png_adam7_writer_roundtrips_all_variants(size):
    """Every PNG family variant (truecolor 8/16-bit, grayscale,
    palette) roundtrips pixel-exact through the Adam7 write path at
    sizes that exercise empty passes (w or h below the pass origin)
    and ragged pass widths."""
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        DecodedImage, _decode_png, encode_image,
    )

    w, h = size
    rng = np.random.RandomState(w * 100 + h)
    rgb = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    img = DecodedImage(w, h, rgb.tobytes())
    assert _decode_png(encode_image(img, "png-i")).pixels == img.pixels
    assert _decode_png(
        encode_image(img, "png-16", interlace=True)
    ).pixels == img.pixels
    g = np.repeat(rng.randint(0, 256, size=(h, w, 1), dtype=np.uint8),
                  3, axis=2)
    gimg = DecodedImage(w, h, g.tobytes())
    assert _decode_png(
        encode_image(gimg, "png-gray", interlace=True)
    ).pixels == gimg.pixels
    pal = (rng.randint(0, 6, size=(h, w, 3)) * 42).astype(np.uint8)
    pimg = DecodedImage(w, h, pal.tobytes())
    assert _decode_png(
        encode_image(pimg, "png-pal", interlace=True)
    ).pixels == pimg.pixels


def _interlaced_stream(samples: np.ndarray, depth: int, ctype: int,
                       plte: bytes | None = None) -> bytes:
    """Independent Adam7 PNG builder (filter 0 rows, never the
    production encoder): ``samples`` is (h, w) single-channel."""
    import zlib

    h, w = samples.shape
    raw = bytearray()
    for x0, y0, dx, dy in _ADAM7:
        sub = samples[y0::dy, x0::dx]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        for row in sub:
            raw += b"\x00" + (
                _pack_bits(row, depth) if depth < 8
                else row.astype(np.uint8).tobytes()
            )
    chunks = [(b"IHDR", struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 1))]
    if plte is not None:
        chunks.append((b"PLTE", plte))
    chunks += [(b"IDAT", zlib.compress(bytes(raw))), (b"IEND", b"")]
    return _png_chunks(chunks)


@pytest.mark.parametrize("depth", [1, 2, 4])
def test_png_adam7_subbyte_grayscale_independent_fixture(depth):
    """Sub-byte Adam7 grayscale built by an INDEPENDENT test muxer
    (per-pass MSB-first bit packing, pass rows pad to a byte boundary
    at the pass's own width) decodes to the exact 255/(2^d-1)-scaled
    raster — the writer can't vouch for itself here."""
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        _decode_png,
    )

    w, h = 11, 6
    rng = np.random.RandomState(depth)
    samples = rng.randint(0, 1 << depth, size=(h, w)).astype(np.int64)
    img = _decode_png(_interlaced_stream(samples, depth, 0))
    want = (samples * (255 // ((1 << depth) - 1))).astype(np.uint8)
    got = _pixels(img)
    assert np.array_equal(got[:, :, 0], want)
    assert np.array_equal(got[:, :, 0], got[:, :, 1])


def test_png_adam7_palette_independent_fixture():
    """Depth-4 Adam7 palette PNG from the independent muxer."""
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        _decode_png,
    )

    w, h = 9, 9
    rng = np.random.RandomState(9)
    idx = rng.randint(0, 16, size=(h, w)).astype(np.int64)
    plte = bytes(range(48))  # 16 entries
    img = _decode_png(_interlaced_stream(idx, 4, 3, plte))
    pal = np.frombuffer(plte, dtype=np.uint8).reshape(16, 3)
    assert np.array_equal(_pixels(img), pal[idx])


def test_png_adam7_filtered_passes_decode_exact():
    """Adam7 with REAL per-row filters (cycling 0..4 inside each
    pass, prior row zeroed at every pass boundary per spec): each
    pass defilters independently."""
    import zlib

    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        _decode_png,
    )

    w, h = 13, 12
    rng = np.random.RandomState(42)
    rgb = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    raw = bytearray()
    for x0, y0, dx, dy in _ADAM7:
        sub = rgb[y0::dy, x0::dx]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        prior = [0] * (sub.shape[1] * 3)
        for yy in range(sub.shape[0]):
            line = sub[yy].reshape(-1).astype(int).tolist()
            ftype = yy % 5
            filt = [0] * len(line)
            for i in range(len(line)):
                a = filt_a = line[i - 3] if i >= 3 else 0
                b = prior[i]
                c = prior[i - 3] if i >= 3 else 0
                if ftype == 0:
                    pred = 0
                elif ftype == 1:
                    pred = filt_a
                elif ftype == 2:
                    pred = b
                elif ftype == 3:
                    pred = (filt_a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = (a if (pa <= pb and pa <= pc)
                            else (b if pb <= pc else c))
                filt[i] = (line[i] - pred) & 0xFF
            raw += bytes([ftype]) + bytes(filt)
            prior = line
    stream = _png_chunks([
        (b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)),
        (b"IDAT", zlib.compress(bytes(raw))),
        (b"IEND", b""),
    ])
    assert np.array_equal(_pixels(_decode_png(stream)), rgb)


def test_png_adam7_fail_loud():
    """Truncated pass data and out-of-range interlace methods stay
    inside the ValueError quarantine contract."""
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        DecodedImage, _decode_png, encode_image,
    )

    rng = np.random.RandomState(0)
    rgb = rng.randint(0, 256, size=(10, 10, 3), dtype=np.uint8)
    img = DecodedImage(10, 10, rgb.tobytes())
    good = encode_image(img, "png-i")
    # re-deflate a prefix of the scanline stream: pass 7 goes missing
    import zlib
    i = good.index(b"IDAT")
    (size,) = struct.unpack_from(">I", good, i - 4)
    raw = zlib.decompress(good[i + 4 : i + 4 + size])
    # rebuild with the last 40 scanline bytes dropped
    short = _png_chunks([
        (b"IHDR", struct.pack(">IIBBBBB", 10, 10, 8, 2, 0, 0, 1)),
        (b"IDAT", zlib.compress(raw[:-40])),
        (b"IEND", b""),
    ])
    with pytest.raises(ValueError, match="truncated"):
        _decode_png(short)


def test_png_adam7_through_featurizer_matches_sequential_twin(spark):
    """End-to-end through Spark mapInPandas: the SAME image shipped
    interlaced (png-i) and sequential (png) produces identical
    decoded-domain features — layout-transparent above the parser."""
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        DecodedImage, decoded_image_features, encode_image,
    )

    rng = np.random.RandomState(14)
    rgb = rng.randint(0, 256, size=(16, 16, 3), dtype=np.uint8)
    img = DecodedImage(16, 16, rgb.tobytes())
    rows = [(1, encode_image(img, "png")), (2, encode_image(img, "png-i"))]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    out = decoded_image_features(df).orderBy("doc_id").collect()
    assert out[0].phash64 == out[1].phash64
    assert out[0].luma_hist == out[1].luma_hist
    assert (out[0].width, out[0].height) == (out[1].width, out[1].height)


def test_rebalance_for_decode_spreads_heavy_tail(spark):
    """rebalance_for_decode: rows preserved (nulls included, riding
    the light leg), giants spread at most one-ish per partition on the
    heavy leg, light rows not shuffled (their partitioning survives),
    and the featurizer output is identical either way."""
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        DecodedImage, decoded_image_features, encode_image,
        rebalance_for_decode,
    )
    from pyspark.sql import functions as F

    rng = np.random.RandomState(3)
    big = encode_image(
        DecodedImage(
            64, 64,
            rng.randint(0, 256, (64, 64, 3), dtype=np.uint8).tobytes(),
        ),
        "ppm",
    )  # 12 KiB payload
    small = encode_image(
        DecodedImage(
            4, 4, rng.randint(0, 256, (4, 4, 3), dtype=np.uint8).tobytes()
        ),
        "bmp",
    )
    rows = [(i, big) for i in range(8)]
    rows += [(100 + i, small) for i in range(50)]
    rows.append((999, None))
    # plant the true clump: one hash bucket holds every giant (the
    # crawl-shard shape — same host, same fetch batch)
    df = spark.createDataFrame(
        rows, "doc_id long, content binary"
    ).repartition(8, (F.col("doc_id") < 100).cast("int"))

    out = rebalance_for_decode(df, heavy_bytes=4096, heavy_partitions=8)
    assert out.count() == len(rows)  # null row survives the split
    # the r15 default (spread="range") cuts the deterministic row-hash
    # key space evenly: the giants spread EXACTLY one per heavy-leg
    # partition
    dist = (
        out.filter(F.length("content") >= 4096)
        .withColumn("p", F.spark_partition_id())
        .groupBy("p").count().collect()
    )
    assert max(r["count"] for r in dist) == 1 and len(dist) == 8
    # only the heavy leg gains a shuffle: ONE rangepartitioning
    # exchange, zero round-robin; the other exchanges are the test's
    # own upstream clump-planting hash repartition (per leg)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("rangepartitioning") == 1
    assert "RoundRobinPartitioning" not in plan
    assert plan.count("hashpartitioning") == 2
    # the r14 round-robin mode stays available and spreads a CLUMPED
    # tail perfectly too (its pre-spread collision is why the default
    # moved — SCALE.md §26.2)
    rr = rebalance_for_decode(
        df, heavy_bytes=4096, heavy_partitions=8, spread="roundrobin"
    )
    rr_plan = rr._jdf.queryExecution().executedPlan().toString()
    assert rr_plan.count("RoundRobinPartitioning") == 1
    dist_rr = (
        rr.filter(F.length("content") >= 4096)
        .withColumn("p", F.spark_partition_id())
        .groupBy("p").count().collect()
    )
    assert max(r["count"] for r in dist_rr) == 1
    # featurizer equality through both layouts
    a = sorted((r["doc_id"], r["phash64"])
               for r in decoded_image_features(df).collect())
    b = sorted((r["doc_id"], r["phash64"])
               for r in decoded_image_features(out).collect())
    assert a == b and len(a) == 58


# ---------------------------------------------------------------------------
# Netpbm widening: P5 grayscale PGM + 16-bit P6/P5 at maxval 65535
# ---------------------------------------------------------------------------


def test_netpbm_pgm_and_16bit_roundtrips():
    """ppm-16 / pgm / pgm-16 write paths invert through the decoder
    exactly (16-bit samples are the v*257 expansion whose high byte
    reduces losslessly, the png-16 convention); P5 replicates gray to
    RGB; pgm refuses chroma."""
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        DecodedImage, decode_image, encode_image,
    )

    rng = np.random.RandomState(6)
    for (w, h) in [(1, 1), (7, 5), (16, 16), (33, 17)]:
        rgb = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
        img = DecodedImage(w, h, rgb.tobytes())
        assert decode_image(encode_image(img, "ppm-16")).pixels == img.pixels
        g = np.repeat(rng.randint(0, 256, (h, w, 1), dtype=np.uint8),
                      3, axis=2)
        gimg = DecodedImage(w, h, g.tobytes())
        assert decode_image(encode_image(gimg, "pgm")).pixels == gimg.pixels
        assert decode_image(
            encode_image(gimg, "pgm-16")
        ).pixels == gimg.pixels
    with pytest.raises(ValueError, match="r == g == b"):
        encode_image(DecodedImage(1, 1, b"\x01\x02\x03"), "pgm")


def test_netpbm_fail_loud_variants():
    """Odd wide maxvals (a rounding convention we refuse to guess),
    truncated 16-bit data, and short P5 rasters all stay ValueError."""
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        _decode_ppm,
    )

    with pytest.raises(ValueError, match="maxval"):
        _decode_ppm(b"P5\n3 3\n300\n" + b"\x00" * 18)
    with pytest.raises(ValueError, match="maxval"):
        _decode_ppm(b"P6\n2 2\n1023\n" + b"\x00" * 24)
    with pytest.raises(ValueError, match="maxval"):
        _decode_ppm(b"P6\n2 2\n0\n")
    with pytest.raises(ValueError, match="truncated"):
        _decode_ppm(b"P6\n2 2\n65535\n" + b"\x00" * 10)
    with pytest.raises(ValueError, match="truncated"):
        _decode_ppm(b"P5\n2 2\n255\n" + b"\x00" * 3)
    with pytest.raises(ValueError, match="truncated"):
        _decode_ppm(b"P4\n9 2\n\x00")  # PBM parses now; short data fails
    with pytest.raises(ValueError, match="payload"):
        _decode_ppm(b"P3\n2 2\n255\n")  # ASCII Netpbm: unsupported magic


def test_netpbm_pgm_comment_and_independent_layout():
    """An independently hand-built P5 stream (comment line in the
    header, exact single whitespace after maxval) decodes to the
    expected replicated-gray raster — the writer doesn't vouch for
    itself."""
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        _decode_ppm,
    )

    g = np.arange(12, dtype=np.uint8).reshape(3, 4) * 20
    payload = b"P5\n# a comment\n4 3\n255\n" + g.tobytes()
    img = _decode_ppm(payload)
    got = _pixels(img)
    assert np.array_equal(got[:, :, 0], g)
    assert np.array_equal(got[:, :, 0], got[:, :, 2])


def test_netpbm_pbm_bitmap_roundtrip_and_polarity():
    """P4 1-bit bitmaps: MSB-first byte-aligned rows, spec polarity
    1 = black (luma 0). Roundtrip through the pbm write path at a
    non-multiple-of-8 width (row padding), plus an independent
    hand-packed fixture; the writer refuses non-bi-level rasters."""
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        DecodedImage, _decode_ppm, decode_image, encode_image,
    )

    rng = np.random.RandomState(4)
    for (w, h) in [(1, 1), (8, 3), (11, 5), (16, 16)]:
        g = (rng.randint(0, 2, (h, w, 1), dtype=np.uint8) * 255)
        img = DecodedImage(w, h, np.repeat(g, 3, axis=2).tobytes())
        assert decode_image(encode_image(img, "pbm")).pixels == img.pixels
    # independent fixture: 0b10100000 row at width 3 -> black white black
    img = _decode_ppm(b"P4\n3 1\n\xa0")
    assert _pixels(img)[0, :, 0].tolist() == [0, 255, 0]
    with pytest.raises(ValueError, match="0/255"):
        encode_image(DecodedImage(1, 1, b"\x80\x80\x80"), "pbm")
    with pytest.raises(ValueError, match="r == g == b"):
        encode_image(DecodedImage(1, 1, b"\x00\x00\xff"), "pbm")
