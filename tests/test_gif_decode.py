"""Round-13 GIF decode: pure-stdlib LZW + palette + interlace +
animation compositing. The fixture writer below is an INDEPENDENT
GIF encoder (never imported by the code under test) with its own
LSB-first bit packer and a literal-code LZW emitter that either
clears before the code width would grow (the classic "uncompressed
GIF" trick) or grows its emitted width in lockstep with the decoder's
table — so both the CLEAR-handling and the width-growth paths of the
decoder are exercised against known pixels."""

from __future__ import annotations

import struct

import numpy as np
import pytest


class _LsbWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, val: int, width: int) -> None:
        for i in range(width):
            self.acc |= ((val >> i) & 1) << self.n
            self.n += 1
            if self.n == 8:
                self.buf.append(self.acc)
                self.acc = 0
                self.n = 0

    def flush(self) -> bytes:
        if self.n:
            self.buf.append(self.acc)
            self.acc = 0
            self.n = 0
        return bytes(self.buf)


def _lzw_literals(indices, min_code: int, *, clears: bool) -> bytes:
    """Emit every index as its own literal code. clears=True resets
    the decoder's table before the code width would grow; clears=False
    lets the table fill and grows the emitted width in lockstep."""
    clear = 1 << min_code
    end = clear + 1
    w = _LsbWriter()
    cs = min_code + 1
    w.put(clear, cs)
    table_len = clear + 2
    first = True
    for ix in indices:
        if clears and not first and table_len + 1 == (1 << cs):
            w.put(clear, cs)
            cs = min_code + 1
            table_len = clear + 2
            first = True
        w.put(int(ix), cs)
        if first:
            first = False
        else:
            table_len += 1
            if table_len == (1 << cs) and cs < 12:
                cs += 1
    w.put(end, cs)
    return w.flush()


def _subblocks(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00"
    return bytes(out)


_PALETTE16 = bytes(
    v for i in range(16) for v in ((i * 17) % 256, (i * 31) % 256, (i * 53) % 256)
)


def _interlace_rows(h: int) -> list[int]:
    rows = []
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        rows.extend(range(start, h, step))
    return rows


def _make_gif(
    frames,  # list of (x, y, idx2d, delay_cs, transparent_or_None)
    *,
    width: int,
    height: int,
    palette: bytes = _PALETTE16,
    bg: int = 0,
    clears: bool = True,
    interlace: bool = False,
    disposal: int = 0,
) -> bytes:
    ncol = len(palette) // 3
    depth = max((ncol - 1).bit_length(), 1)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out += bytes([0x80 | (depth - 1), bg, 0])
    out += palette
    min_code = max(depth, 2)
    for x, y, idx, delay, transparent in frames:
        idx = np.asarray(idx, dtype=np.uint8)
        fh, fw = idx.shape
        if delay or transparent is not None or disposal:
            packed = (disposal & 7) << 2 | (1 if transparent is not None else 0)
            out += bytes([0x21, 0xF9, 4, packed])
            out += struct.pack("<H", delay)
            out += bytes([transparent or 0, 0])
        iflags = 0x40 if interlace else 0
        out += bytes([0x2C]) + struct.pack("<HHHH", x, y, fw, fh)
        out += bytes([iflags, min_code])
        rows = idx[_interlace_rows(fh)] if interlace else idx
        out += _subblocks(_lzw_literals(rows.flatten(), min_code, clears=clears))
    out += b"\x3B"
    return bytes(out)


def _pal_rgb(idx: np.ndarray) -> np.ndarray:
    pal = np.frombuffer(_PALETTE16, dtype=np.uint8).reshape(-1, 3)
    return pal[np.asarray(idx, dtype=np.uint8)]


def _grid(w, h):
    xg, yg = np.meshgrid(np.arange(w), np.arange(h))
    return ((3 * xg + 5 * yg) % 16).astype(np.uint8)


def _pixels(img) -> np.ndarray:
    return np.frombuffer(img.pixels, dtype=np.uint8).reshape(
        img.height, img.width, 3
    )


def test_gif_single_frame_exact_both_lzw_modes():
    """Full-frame GIF roundtrips to exact palette RGB under both the
    clear-before-growth and the width-growth LZW emissions."""
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        _decode_gif,
        decode_image,
    )

    idx = _grid(23, 17)  # odd dims, > one code-width span of pixels
    want = _pal_rgb(idx)
    for clears in (True, False):
        data = _make_gif(
            [(0, 0, idx, 0, None)], width=23, height=17, clears=clears
        )
        img = _decode_gif(data)
        assert (img.width, img.height) == (23, 17), clears
        assert np.array_equal(_pixels(img), want), f"clears={clears}"
    via_chain = decode_image(
        _make_gif([(0, 0, idx, 0, None)], width=23, height=17)
    )
    assert np.array_equal(_pixels(via_chain), want)


def test_gif_interlaced_matches_progressive():
    from m2_b3_market_data_pipeline_spark.operators.multimodal import _decode_gif

    idx = _grid(16, 13)
    plain = _decode_gif(_make_gif([(0, 0, idx, 0, None)], width=16, height=13))
    laced = _decode_gif(
        _make_gif([(0, 0, idx, 0, None)], width=16, height=13, interlace=True)
    )
    assert plain.pixels == laced.pixels


def test_gif_animation_compositing_and_fps():
    """Partial-rect frames composite onto the canvas; transparent
    pixels keep what was under them; fps = 100 / mean delay."""
    from m2_b3_market_data_pipeline_spark.operators.multimodal import _parse_gif

    base = _grid(12, 10)
    patch = ((np.arange(20).reshape(4, 5) % 3) + 4).astype(np.uint8)
    trans = patch.copy()
    trans[1:3, 1:4] = 15  # index 15 declared transparent below
    data = _make_gif(
        [
            (0, 0, base, 5, None),
            (2, 3, patch, 5, None),
            (1, 1, trans, 10, 15),
        ],
        width=12,
        height=10,
    )
    fps, frames = _parse_gif(data)
    assert len(frames) == 3
    assert fps == pytest.approx(100.0 / ((5 + 5 + 10) / 3))
    # numpy reference compositor
    canvas = _pal_rgb(np.full((10, 12), 0, np.uint8))
    canvas[:, :] = _pal_rgb(base)
    assert np.array_equal(_pixels(frames[0]), canvas)
    canvas[3:7, 2:7] = _pal_rgb(patch)
    assert np.array_equal(_pixels(frames[1]), canvas)
    mask = trans != 15
    rect = canvas[1:5, 1:6]
    rect[mask] = _pal_rgb(trans)[mask]
    assert np.array_equal(_pixels(frames[2]), canvas)


def test_gif_disposal_restore_background():
    from m2_b3_market_data_pipeline_spark.operators.multimodal import _parse_gif

    base = _grid(8, 8)
    patch = np.full((3, 3), 7, np.uint8)
    data = _make_gif(
        [(2, 2, patch, 5, None), (0, 0, base, 5, None)],
        width=8,
        height=8,
        bg=1,
        disposal=2,
    )
    _fps, frames = _parse_gif(data)
    # frame 0: bg color everywhere except the patch rect
    want = _pal_rgb(np.full((8, 8), 1, np.uint8))
    want[2:5, 2:5] = _pal_rgb(patch)
    assert np.array_equal(_pixels(frames[0]), want)
    # frame 1 drew the full base AFTER the rect was restored to bg
    assert np.array_equal(_pixels(frames[1]), _pal_rgb(base))


def test_gif_fail_loud_variants():
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        _decode_gif,
        _parse_gif,
    )

    idx = _grid(8, 8)
    good = _make_gif([(0, 0, idx, 0, None)], width=8, height=8)
    with pytest.raises(ValueError, match="not a GIF"):
        _decode_gif(b"NOTGIF" + good[6:])
    with pytest.raises(ValueError, match="restore previous"):
        _parse_gif(
            _make_gif([(0, 0, idx, 5, None)], width=8, height=8, disposal=3)
        )
    with pytest.raises(ValueError, match="outside logical screen"):
        _decode_gif(_make_gif([(4, 4, idx, 0, None)], width=8, height=8))
    with pytest.raises(ValueError):
        _decode_gif(good[: len(good) // 2])
    with pytest.raises(ValueError, match="no frames"):
        _decode_gif(good[:13] + _PALETTE16 + b"\x3B")


def test_animated_gif_through_video_featurizer(spark):
    """decoded_video_frame_features dispatches animated GIFs: one GIF
    row fans out to n_frames composited-frame feature rows."""
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        decoded_video_frame_features,
    )

    base = _grid(12, 10)
    data = _make_gif(
        [(0, 0, base, 10, None), (0, 0, (base + 1) % 16, 10, None)],
        width=12,
        height=10,
    )
    df = spark.createDataFrame(
        [(1, data), (2, b"GIF89ajunk")], "doc_id bigint, content binary"
    )
    got = decoded_video_frame_features(df).orderBy("frame_idx").collect()
    assert [r["doc_id"] for r in got] == [1, 1]
    assert all(r["n_frames"] == 2 for r in got)
    assert all((r["width"], r["height"]) == (12, 10) for r in got)
    assert all(r["fps"] == pytest.approx(10.0) for r in got)
