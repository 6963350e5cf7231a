"""Round-15 WebP: RIFF walk + VP8L lossless codec.

Two evidence layers, per the decode family's discipline:
- round-trip through the production encoder (lossless contract), and
- INDEPENDENT hand-assembled VP8L bitstreams (the local ``_W`` writer
  below, never imported by the code under test) exercising decoder
  paths the production encoder never emits — simple 1/2-symbol codes,
  the color cache, meta prefix groups, the predictor / color /
  palette transforms, sub-byte index bundling, 17/18 code-length
  repeats, and 2D distance-map planes — with expected pixels computed
  from spec math written independently in each test.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from m2_b3_market_data_pipeline_spark.operators.multimodal import (
    DecodedImage,
    decode_image,
    encode_image,
)
from m2_b3_market_data_pipeline_spark.operators.webp import (
    decode_webp,
    encode_webp_vp8l,
    webp_meta,
)


class _W:
    """Independent LSB-first bit writer for hand-built fixtures."""

    def __init__(self):
        self.bits = []

    def w(self, val, n):
        for i in range(n):
            self.bits.append((val >> i) & 1)
        return self

    def code(self, c, n):  # prefix codes go MSB-first
        for i in range(n - 1, -1, -1):
            self.bits.append((c >> i) & 1)
        return self

    def bytes(self):
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            b = 0
            for j, bit in enumerate(self.bits[i : i + 8]):
                b |= bit << j
            out.append(b)
        return bytes(out)


def _riff(vp8l_payload: bytes) -> bytes:
    chunk = b"VP8L" + struct.pack("<I", len(vp8l_payload)) + vp8l_payload
    if len(vp8l_payload) & 1:
        chunk += b"\x00"
    body = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _header(w, h, width, height):
    w.w(width - 1, 14).w(height - 1, 14).w(0, 1).w(0, 3)


def _simple1(w, sym):
    """Single-symbol simple code (0 data bits per read)."""
    w.w(1, 1).w(0, 1)
    if sym <= 1:
        w.w(0, 1).w(sym, 1)
    else:
        w.w(1, 1).w(sym, 8)


def _simple2(w, s0, s1):
    """Two-symbol simple code: transmitted order -> bit 0 / bit 1."""
    w.w(1, 1).w(1, 1)
    if s0 <= 1:
        w.w(0, 1).w(s0, 1)
    else:
        w.w(1, 1).w(s0, 8)
    w.w(s1, 8)


def _px(img):
    return np.frombuffer(img.pixels, dtype=np.uint8).reshape(
        img.height, img.width, 3
    )


# ------------------------------------------------------------ round trip


@pytest.mark.parametrize("sg", [False, True])
@pytest.mark.parametrize("lz", [False, True])
def test_roundtrip_random(sg, lz):
    rng = np.random.default_rng(42 + sg + 2 * lz)
    for w, h in [(1, 1), (2, 3), (16, 16), (37, 11), (64, 48)]:
        rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        img = DecodedImage(w, h, rgb.tobytes())
        data = encode_webp_vp8l(img, subtract_green=sg, use_lz77=lz)
        out = decode_webp(data)
        assert (out.width, out.height) == (w, h)
        assert out.pixels == img.pixels


def test_roundtrip_through_decode_image_and_encode_image():
    rng = np.random.default_rng(9)
    rgb = rng.integers(0, 256, size=(13, 21, 3), dtype=np.uint8)
    img = DecodedImage(21, 13, rgb.tobytes())
    for fmt in ("webp", "webp-sg"):
        out = decode_image(encode_image(img, fmt))
        assert out.pixels == img.pixels


def test_lz77_compresses_runs():
    # identical gradient rows: row-above matches collapse under LZ77
    # while literal coding pays per-pixel Huffman bits (a constant
    # image would NOT discriminate — simple codes already collapse it)
    row = np.arange(64, dtype=np.uint8) * 4
    rgb = np.repeat(
        np.repeat(row[None, :, None], 64, axis=0), 3, axis=2
    )
    img = DecodedImage(64, 64, rgb.tobytes())
    small = encode_webp_vp8l(img, use_lz77=True)
    big = encode_webp_vp8l(img, use_lz77=False)
    assert len(small) < len(big) / 3


# ----------------------------------------------- hand-built bitstreams


def test_hand_constant_color_simple_codes():
    w = _W()
    w.w(5 - 1, 14).w(3 - 1, 14).w(0, 1).w(0, 3)
    w.w(0, 1)  # no transforms
    w.w(0, 1)  # no cache
    w.w(0, 1)  # no meta
    _simple1(w, 40)  # green
    _simple1(w, 200)  # red
    _simple1(w, 7)  # blue
    _simple1(w, 255)  # alpha
    _simple1(w, 0)  # distance
    img = decode_webp(_riff(b"\x2f" + w.bytes()))
    assert (img.width, img.height) == (5, 3)
    px = _px(img)
    assert (px[:, :, 0] == 200).all()
    assert (px[:, :, 1] == 40).all()
    assert (px[:, :, 2] == 7).all()


def test_hand_two_symbol_green_stripes():
    W_, H_ = 8, 2
    w = _W()
    w.w(W_ - 1, 14).w(H_ - 1, 14).w(0, 1).w(0, 3)
    w.w(0, 1).w(0, 1).w(0, 1)
    _simple2(w, 10, 250)  # green: bit0 -> 10, bit1 -> 250
    _simple1(w, 0)  # red
    _simple1(w, 0)  # blue
    _simple1(w, 255)  # alpha
    _simple1(w, 0)  # distance
    for i in range(W_ * H_):
        w.w(i & 1, 1)  # alternate greens
    img = decode_webp(_riff(b"\x2f" + w.bytes()))
    px = _px(img)
    expect = np.tile(np.array([10, 250] * (W_ // 2), np.uint8), (H_, 1))
    assert (px[:, :, 1] == expect).all()
    assert (px[:, :, 0] == 0).all() and (px[:, :, 2] == 0).all()


def test_hand_color_cache_with_full_green_code():
    """Full (code-length-coded) green code over {0, 280+idx} with
    17/18 zero runs, 4-bit color cache: literal pixel once, then
    cache hits for the rest."""
    W_, H_ = 4, 4
    cache_bits = 4
    p = 0xFF030009  # a=255 r=3 g=0 b=9
    idx = ((0x1E35A7BD * p) & 0xFFFFFFFF) >> (32 - cache_bits)
    cache_sym = 280 + idx
    alpha_size = 256 + 24 + (1 << cache_bits)
    w = _W()
    w.w(W_ - 1, 14).w(H_ - 1, 14).w(0, 1).w(0, 3)
    w.w(0, 1)  # no transforms
    w.w(1, 1).w(cache_bits, 4)  # color cache
    w.w(0, 1)  # no meta
    # green code: lengths {0: 1, cache_sym: 1}; serialize by hand:
    # CL code over {1, 17, 18}: lengths {1:1, 17:2, 18:2}
    w.w(0, 1)  # full code
    w.w(4 - 4, 4)  # first 4 of the CL order: 17, 18, 0, 1
    w.w(2, 3).w(2, 3).w(0, 3).w(1, 3)
    w.w(0, 1)  # no max_symbol short form
    # canonical CL codes: 1 -> (0, len1); 17 -> (10); 18 -> (11)
    CL1, CL17, CL18 = (0, 1), (0b10, 2), (0b11, 2)

    def cl(sym_code):
        w.code(*sym_code)

    cl(CL1)  # lengths[0] = 1
    zeros = cache_sym - 1
    while zeros >= 11:
        r = min(zeros, 138)
        cl(CL18)
        w.w(r - 11, 7)
        zeros -= r
    while zeros >= 3:
        r = min(zeros, 10)
        cl(CL17)
        w.w(r - 3, 3)
        zeros -= r
    for _ in range(zeros):
        raise AssertionError("pick idx so zero runs land exactly")
    cl(CL1)  # lengths[cache_sym] = 1
    tail = alpha_size - cache_sym - 1
    while tail >= 11:
        r = min(tail, 138)
        cl(CL18)
        w.w(r - 11, 7)
        tail -= r
    while tail >= 3:
        r = min(tail, 10)
        cl(CL17)
        w.w(r - 3, 3)
        tail -= r
    assert tail == 0, "pick dims so the tail lands exactly on runs"
    _simple1(w, 3)  # red
    _simple1(w, 9)  # blue
    _simple1(w, 255)  # alpha
    _simple1(w, 0)  # distance
    # data: green canonical over {0:1, cache_sym:1}: 0 -> bit0, sym -> bit1
    w.w(0, 1)  # literal green 0 (red/blue/alpha are 0-bit codes)
    for _ in range(W_ * H_ - 1):
        w.w(1, 1)  # cache hit
    img = decode_webp(_riff(b"\x2f" + w.bytes()))
    px = _px(img)
    assert (px[:, :, 0] == 3).all()
    assert (px[:, :, 1] == 0).all()
    assert (px[:, :, 2] == 9).all()


def _spec_predict(mode, L, T, TR, TL):
    """Independent spec-math predictor over (a, r, g, b) tuples."""

    def avg2(a, b):
        return tuple((x + y) // 2 for x, y in zip(a, b))

    def clamp(v):
        return min(255, max(0, v))

    if mode == 0:
        return (255, 0, 0, 0)
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return avg2(avg2(L, TR), T)
    if mode == 6:
        return avg2(L, TL)
    if mode == 7:
        return avg2(L, T)
    if mode == 8:
        return avg2(TL, T)
    if mode == 9:
        return avg2(T, TR)
    if mode == 10:
        return avg2(avg2(L, TL), avg2(T, TR))
    if mode == 11:
        p = tuple(l + t - tl for l, t, tl in zip(L, T, TL))
        dl = sum(abs(a - b) for a, b in zip(p, L))
        dt = sum(abs(a - b) for a, b in zip(p, T))
        return L if dl < dt else T
    if mode == 12:
        return tuple(
            clamp(l + t - tl) for l, t, tl in zip(L, T, TL)
        )
    if mode == 13:
        av = avg2(L, T)
        return tuple(
            clamp(a + int((a - tl) / 2)) for a, tl in zip(av, TL)
        )
    raise AssertionError(mode)


@pytest.mark.parametrize("mode", range(14))
def test_hand_predictor_transform_all_modes(mode):
    """Predictor transform, constant mode, random 2-symbol residuals
    per channel; expected pixels from the independent spec-math
    implementation above."""
    W_, H_ = 8, 6
    rng = np.random.default_rng(100 + mode)
    g_res = rng.choice([0, 37], size=W_ * H_)
    r_res = rng.choice([0, 91], size=W_ * H_)
    b_res = rng.choice([0, 200], size=W_ * H_)
    w = _W()
    w.w(W_ - 1, 14).w(H_ - 1, 14).w(0, 1).w(0, 3)
    w.w(1, 1).w(0, 2)  # predictor transform
    w.w(4 - 2, 3)  # size_bits = 4 -> one 16x16 block covers all
    # sub-image (1x1): mode in green channel, single-symbol codes
    w.w(0, 1)  # sub: no cache
    _simple1(w, mode)  # green = mode
    _simple1(w, 0)
    _simple1(w, 0)
    _simple1(w, 0)
    _simple1(w, 0)
    w.w(0, 1)  # no more transforms
    w.w(0, 1)  # no cache
    w.w(0, 1)  # no meta
    _simple2(w, 0, 37)  # green residuals
    _simple2(w, 0, 91)  # red residuals
    _simple2(w, 0, 200)  # blue residuals
    _simple1(w, 0)  # alpha residual constant 0
    _simple1(w, 0)  # distance
    for i in range(W_ * H_):
        w.w(1 if g_res[i] else 0, 1)
        w.w(1 if r_res[i] else 0, 1)
        w.w(1 if b_res[i] else 0, 1)
    img = decode_webp(_riff(b"\x2f" + w.bytes()))
    # independent reconstruction
    out = [None] * (W_ * H_)
    for pos in range(W_ * H_):
        x, y = pos % W_, pos // W_
        if pos == 0:
            pred = (255, 0, 0, 0)
        elif y == 0:
            pred = out[pos - 1]
        elif x == 0:
            pred = out[pos - W_]
        else:
            pred = _spec_predict(
                mode,
                out[pos - 1],
                out[pos - W_],
                out[pos - W_ + 1],
                out[pos - W_ - 1],
            )
        res = (0, int(r_res[pos]), int(g_res[pos]), int(b_res[pos]))
        out[pos] = tuple((p + r) & 0xFF for p, r in zip(pred, res))
    px = _px(img)
    for pos in range(W_ * H_):
        x, y = pos % W_, pos // W_
        assert tuple(px[y, x]) == out[pos][1:], (mode, x, y)


def test_hand_color_transform():
    """Cross-color transform with one constant CTE block; inverse
    deltas recomputed independently from signed-8-bit spec math."""
    W_, H_ = 4, 3
    g2r, g2b, r2b = 0x40, 0xE8, 0x15  # mixed signs as int8
    cte_pixel_green = g2b
    rng = np.random.default_rng(5)
    greens = rng.choice([33, 190], size=W_ * H_)
    reds = rng.choice([12, 240], size=W_ * H_)
    blues = rng.choice([7, 99], size=W_ * H_)
    w = _W()
    w.w(W_ - 1, 14).w(H_ - 1, 14).w(0, 1).w(0, 3)
    w.w(1, 1).w(1, 2)  # color transform
    w.w(4 - 2, 3)  # one block
    w.w(0, 1)  # sub: no cache
    _simple1(w, cte_pixel_green)  # green channel = green_to_blue
    _simple1(w, r2b)  # red channel = red_to_blue
    _simple1(w, g2r)  # blue channel = green_to_red
    _simple1(w, 0)  # alpha
    _simple1(w, 0)  # distance
    w.w(0, 1)  # no more transforms
    w.w(0, 1).w(0, 1)
    _simple2(w, 33, 190)
    _simple2(w, 12, 240)
    _simple2(w, 7, 99)
    _simple1(w, 255)
    _simple1(w, 0)
    for i in range(W_ * H_):
        w.w(1 if greens[i] == 190 else 0, 1)
        w.w(1 if reds[i] == 240 else 0, 1)
        w.w(1 if blues[i] == 99 else 0, 1)
    img = decode_webp(_riff(b"\x2f" + w.bytes()))
    px = _px(img)

    def s8(v):
        return v - 256 if v >= 128 else v

    for pos in range(W_ * H_):
        x, y = pos % W_, pos // W_
        g = int(greens[pos])
        r = (int(reds[pos]) + ((s8(g2r) * s8(g)) >> 5)) & 0xFF
        b = (
            int(blues[pos])
            + ((s8(g2b) * s8(g)) >> 5)
            + ((s8(r2b) * s8(r)) >> 5)
        ) & 0xFF
        assert tuple(px[y, x]) == (r, g, b), (x, y)


def test_hand_palette_with_bundling():
    """Color-indexing transform, 4 colors -> 2-bit indices bundled 4
    per green byte; palette entries delta-coded."""
    W_, H_ = 8, 2
    # arithmetic progression keeps each channel's delta alphabet at
    # {base, step} — exactly 2 symbols, expressible with simple codes
    base, step = (255, 10, 20, 30), (0, 7, 11, 13)
    palette = [
        tuple((b + i * s) & 0xFF for b, s in zip(base, step))
        for i in range(4)
    ]
    # delta-code: entry i stored as entry[i] - entry[i-1] mod 256
    deltas = [palette[0]]
    for i in range(1, 4):
        deltas.append(
            tuple((a - b) & 0xFF for a, b in zip(palette[i], palette[i - 1]))
        )
    # two distinct 4-index groups -> two distinct packed green bytes
    indices = [0, 1, 2, 3, 0, 1, 2, 3, 3, 2, 1, 0, 3, 2, 1, 0]
    w = _W()
    w.w(W_ - 1, 14).w(H_ - 1, 14).w(0, 1).w(0, 3)
    w.w(1, 1).w(3, 2)  # color indexing
    w.w(4 - 1, 8)  # palette size 4
    # palette image: 4x1, channels via 2-symbol/1-symbol codes; build
    # with per-channel 2-symbol codes is fiddly — use 4 literal pixels
    # with full codes? Simpler: each channel has up to 4 distinct
    # values; use simple codes only if <= 2 distinct. Choose palette
    # deltas above so each channel has <= 2 distinct values:
    da = sorted({d[0] for d in deltas})
    dr = sorted({d[1] for d in deltas})
    dg = sorted({d[2] for d in deltas})
    db = sorted({d[3] for d in deltas})
    assert len(da) <= 2 and len(dr) <= 2 and len(dg) <= 2 and len(db) <= 2
    w.w(0, 1)  # palette sub-image: no cache
    (_simple1(w, dg[0]) if len(dg) == 1 else _simple2(w, dg[0], dg[1]))
    (_simple1(w, dr[0]) if len(dr) == 1 else _simple2(w, dr[0], dr[1]))
    (_simple1(w, db[0]) if len(db) == 1 else _simple2(w, db[0], db[1]))
    (_simple1(w, da[0]) if len(da) == 1 else _simple2(w, da[0], da[1]))
    _simple1(w, 0)
    for d in deltas:
        if len(dg) == 2:
            w.w(dg.index(d[2]), 1)
        if len(dr) == 2:
            w.w(dr.index(d[1]), 1)
        if len(db) == 2:
            w.w(db.index(d[3]), 1)
        if len(da) == 2:
            w.w(da.index(d[0]), 1)
    w.w(0, 1)  # no more transforms
    w.w(0, 1).w(0, 1)  # packed image: no cache, no meta
    # packed width = 2; greens pack 4 indices each, LSB-first
    packed = []
    for row in range(H_):
        for gx in range(2):
            four = indices[row * W_ + gx * 4 : row * W_ + gx * 4 + 4]
            packed.append(sum(v << (2 * k) for k, v in enumerate(four)))
    pg = sorted(set(packed))
    assert len(pg) <= 2, "choose indices so packed bytes have 2 values"
    (_simple1(w, pg[0]) if len(pg) == 1 else _simple2(w, pg[0], pg[1]))
    _simple1(w, 0)
    _simple1(w, 0)
    _simple1(w, 0)
    _simple1(w, 0)
    for v in packed:
        if len(pg) == 2:
            w.w(pg.index(v), 1)
    img = decode_webp(_riff(b"\x2f" + w.bytes()))
    px = _px(img)
    for pos, idx in enumerate(indices):
        x, y = pos % W_, pos // W_
        assert tuple(px[y, x]) == palette[idx][1:], (x, y)


def test_hand_meta_prefix_groups():
    """Huffman image with two groups: left half of each 4-px block row
    decodes under group 0, right half under group 1."""
    W_, H_ = 8, 4
    w = _W()
    w.w(W_ - 1, 14).w(H_ - 1, 14).w(0, 1).w(0, 3)
    w.w(0, 1)  # no transforms
    w.w(0, 1)  # no cache
    w.w(1, 1)  # meta prefix image present
    w.w(2 - 2, 3)  # meta_bits = 2 -> 4x4 blocks -> meta image 2x1
    # meta image: pixels green = group id {0, 1}, red = 0
    w.w(0, 1)  # meta sub-image: no cache
    _simple2(w, 0, 1)  # green
    _simple1(w, 0)
    _simple1(w, 0)
    _simple1(w, 0)
    _simple1(w, 0)
    w.w(0, 1)  # meta pixel (0,0) -> group 0
    w.w(1, 1)  # meta pixel (1,0) -> group 1
    # group 0: constant green 11; group 1: constant green 222
    for gval in (11, 222):
        _simple1(w, gval)
        _simple1(w, 1)
        _simple1(w, 2)
        _simple1(w, 255)
        _simple1(w, 0)
    img = decode_webp(_riff(b"\x2f" + w.bytes()))
    px = _px(img)
    assert (px[:, :4, 1] == 11).all()
    assert (px[:, 4:, 1] == 222).all()
    assert (px[:, :, 0] == 1).all() and (px[:, :, 2] == 2).all()


def test_hand_lz77_2d_distance_plane():
    """LZ77 copy with plane code 3 = (dx=1, dy=1): distance w+1 —
    exercises the 2D distance map beyond the encoder's two planes."""
    W_, H_ = 4, 4
    a, b = 50, 180
    w = _W()
    w.w(W_ - 1, 14).w(H_ - 1, 14).w(0, 1).w(0, 3)
    w.w(0, 1).w(0, 1).w(0, 1)
    # green code: {a: 2, b: 2, 262: 1} (262 = 256 + length code 6)
    # hand CL: stream = [2, zeros(a-1)? ...] — build with explicit
    # lengths via CL code over {0..}: simpler to reuse repeats:
    # lengths[a]=2, lengths[b]=2, lengths[262]=1, rest 0.
    w.w(0, 1)  # full code
    # CL alphabet used: {1, 2, 17, 18}; give each length 2 (complete);
    # CL order starts [17, 18, 0, 1, 2, ...] -> 5 entries needed
    w.w(5 - 4, 4)
    w.w(2, 3)  # 17 -> len 2
    w.w(2, 3)  # 18 -> len 2
    w.w(0, 3)  # 0  -> unused
    w.w(2, 3)  # 1  -> len 2
    w.w(2, 3)  # 2  -> len 2
    w.w(0, 1)  # no max_symbol form
    # canonical CL codes (len 2, by symbol): 1->00, 2->01, 17->10, 18->11
    CL = {1: (0b00, 2), 2: (0b01, 2), 17: (0b10, 2), 18: (0b11, 2)}

    def cl_zero_run(n):
        while n >= 11:
            r = min(n, 138)
            w.code(*CL[18])
            w.w(r - 11, 7)
            n -= r
        while n >= 3:
            r = min(n, 10)
            w.code(*CL[17])
            w.w(r - 3, 3)
            n -= r
        assert n == 0, "choose symbols so zero runs land exactly"

    assert a >= 11 and b - a - 1 >= 3 and (262 - b - 1) >= 3
    cl_zero_run(a)
    w.code(*CL[2])  # lengths[a] = 2
    cl_zero_run(b - a - 1)
    w.code(*CL[2])  # lengths[b] = 2
    cl_zero_run(262 - b - 1)
    w.code(*CL[1])  # lengths[262] = 1
    cl_zero_run(280 - 263)
    # green canonical: 262 -> (0, 1); a -> (10, 2); b -> (11, 2)
    GA, GB, GLEN = (0b10, 2), (0b11, 2), (0b0, 1)
    _simple1(w, 70)  # red
    _simple1(w, 71)  # blue
    _simple1(w, 255)  # alpha
    _simple1(w, 2)  # distance: single symbol, prefix code 2 -> plane 3
    # data: 5 literals (distance w+1=5 needs pos >= 5), then one copy
    # of length 11, plane 3
    for i in range(5):
        w.code(*(GA if i % 2 == 0 else GB))
    w.code(*GLEN)  # length symbol 262 -> code 6, extra 2 bits
    w.w(11 - 9, 2)  # code 6 covers 9..12
    # distance symbol: 0-bit single code; prefix value 3 -> plane 3
    img = decode_webp(_riff(b"\x2f" + w.bytes()))
    px = _px(img)
    # independent expectation: copy from distance W_ + 1 = 5
    greens = [a, b, a, b, a]
    for pos in range(5, 16):
        greens.append(greens[pos - 5])
    for pos in range(16):
        x, y = pos % W_, pos // W_
        assert tuple(px[y, x]) == (70, greens[pos], 71), (x, y)


# ------------------------------------------------------------ metadata


def _vp8_chunk(w, h):
    # keyframe header: tag (keyframe, show, size), start code, dims
    tag = (0 << 0) | (1 << 4) | (100 << 5)
    body = struct.pack("<I", tag)[:3] + b"\x9d\x01\x2a"
    body += struct.pack("<HH", w, h) + b"\x00" * 8
    return b"VP8 " + struct.pack("<I", len(body)) + body


def test_meta_lossy_vp8():
    body = b"WEBP" + _vp8_chunk(320, 240)
    data = b"RIFF" + struct.pack("<I", len(body)) + body
    m = webp_meta(data)
    assert m["format"] == "lossy"
    assert (m["width"], m["height"]) == (320, 240)
    assert m["n_frames"] == 1 and not m["animated"]
    with pytest.raises(NotImplementedError):
        decode_webp(data)


def test_meta_lossless():
    img = DecodedImage(7, 9, bytes(7 * 9 * 3))
    m = webp_meta(encode_webp_vp8l(img))
    assert m["format"] == "lossless"
    assert (m["width"], m["height"]) == (7, 9)
    assert not m["has_alpha"]


def test_meta_extended_animation():
    anmf_body = bytes(16)
    chunks = b"VP8X" + struct.pack("<I", 10) + bytes(
        [0x12]
    ) + b"\x00" * 3 + (639).to_bytes(3, "little") + (479).to_bytes(
        3, "little"
    )
    chunks += b"ANIM" + struct.pack("<I", 6) + bytes(6)
    for _ in range(3):
        chunks += b"ANMF" + struct.pack("<I", len(anmf_body)) + anmf_body
    body = b"WEBP" + chunks
    data = b"RIFF" + struct.pack("<I", len(body)) + body
    m = webp_meta(data)
    assert m["format"] == "extended"
    assert (m["width"], m["height"]) == (640, 480)
    assert m["animated"] and m["n_frames"] == 3
    assert m["has_alpha"]  # 0x12 sets alpha + animation


def test_meta_fail_loud():
    with pytest.raises(ValueError):
        webp_meta(b"RIFX" + bytes(20))
    with pytest.raises(ValueError):
        webp_meta(b"RIFF\x10\x00\x00\x00WAVEfmt ")
    # chunk overruns container
    body = b"WEBP" + b"VP8L" + struct.pack("<I", 999) + b"\x2f"
    with pytest.raises(ValueError):
        webp_meta(b"RIFF" + struct.pack("<I", len(body)) + body)
    # container with no image chunk
    body = b"WEBP" + b"EXIF" + struct.pack("<I", 2) + b"ab"
    with pytest.raises(ValueError):
        webp_meta(b"RIFF" + struct.pack("<I", len(body)) + body)
