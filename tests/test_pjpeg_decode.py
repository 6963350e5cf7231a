"""Round-14 progressive JPEG (ITU T.81 Annex G): spectral selection,
successive approximation, EOB-run coding, DC/AC refinement scans.

The differential anchor: the baseline and progressive writers share
ONLY `_jpeg_plan` (the quantized coefficient blocks); their scan
serialization paths are completely disjoint (one full-band interleaved
scan vs a ten-scan successive-approximation script with EOB runs and
buffered correction bits). The decoder accumulates both into the same
coefficient arrays — so pixel EQUALITY between the two decodes proves
the whole progressive entropy layer round-trips the exact quantized
coefficients, with no tolerance hiding bugs. Solid-gray payloads add
an encoder-free anchor: pixels predicted analytically from the law,
exact because the DC divides the quant step."""

from __future__ import annotations

import numpy as np
import pytest

from m2_b3_market_data_pipeline_spark.operators.multimodal import (
    DecodedImage,
    _decode_jpeg,
    _encode_jpeg_baseline,
    _encode_jpeg_progressive,
    decode_image,
)


def _rgb(w, h, seed=0):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def _pixels(img) -> np.ndarray:
    return np.frombuffer(img.pixels, dtype=np.uint8).reshape(
        img.height, img.width, 3
    )


@pytest.mark.parametrize("w,h", [(16, 16), (17, 13), (40, 24), (33, 29)])
@pytest.mark.parametrize("sub", [(1, 1), (2, 2), (2, 1)])
def test_progressive_equals_baseline_color(w, h, sub):
    rgb = _rgb(w, h, seed=w * h)
    img = DecodedImage(w, h, rgb.tobytes())
    b = _decode_jpeg(_encode_jpeg_baseline(img, quality=75, subsample=sub))
    p = _decode_jpeg(_encode_jpeg_progressive(img, quality=75, subsample=sub))
    assert b.pixels == p.pixels
    assert (p.width, p.height) == (w, h)


@pytest.mark.parametrize("w,h", [(16, 16), (17, 13), (33, 29)])
def test_progressive_equals_baseline_grayscale(w, h):
    rgb = _rgb(w, h, seed=h * 131)
    img = DecodedImage(w, h, rgb.tobytes())
    b = _decode_jpeg(_encode_jpeg_baseline(img, quality=90, gray=True))
    p = _decode_jpeg(_encode_jpeg_progressive(img, quality=90, gray=True))
    assert b.pixels == p.pixels


def test_progressive_solid_gray_analytically_exact():
    """The driver-gate anchor, encoder-free: solid gray with even
    (v - 128) has DC = 8*(v-128) divisible by the Q50 luma quant step
    16 and zero AC/chroma, so the fully-refined progressive stream
    reconstructs EVERY pixel exactly — both gray and 4:2:0 color."""
    for v in (128, 130, 160, 190):
        rgb = np.full((16, 16, 3), v, dtype=np.uint8)
        img = DecodedImage(16, 16, rgb.tobytes())
        for kwargs in ({"gray": True}, {"subsample": (2, 2)}):
            out = _decode_jpeg(
                _encode_jpeg_progressive(img, quality=50, **kwargs)
            )
            assert np.array_equal(_pixels(out), rgb), (v, kwargs)


def test_progressive_partial_script_is_decodable_and_coarse_exact():
    """A stream truncated after the DC-first scan is a LEGAL coarse
    progressive JPEG (mid-download rendering). For solid gray whose
    shifted DC loses no bits (DC quantized = 16, even, so >>1 <<1 is
    lossless) the one-scan decode is already pixel-exact."""
    rgb = np.full((16, 16, 3), 160, dtype=np.uint8)
    img = DecodedImage(16, 16, rgb.tobytes())
    one_scan = _encode_jpeg_progressive(img, quality=50, gray=True, max_scans=1)
    full = _encode_jpeg_progressive(img, quality=50, gray=True)
    assert len(one_scan) < len(full)
    out = _decode_jpeg(one_scan)
    assert np.array_equal(_pixels(out), rgb)


def test_progressive_partial_script_random_image_decodes():
    """Every prefix of the scan script must decode without error on a
    random image (coefficients partially refined, never corrupt)."""
    rgb = _rgb(24, 24, seed=3)
    img = DecodedImage(24, 24, rgb.tobytes())
    full = _decode_jpeg(_encode_jpeg_progressive(img, subsample=(2, 2)))
    for n in range(1, 11):
        payload = _encode_jpeg_progressive(
            img, subsample=(2, 2), max_scans=n
        )
        out = _decode_jpeg(payload)
        assert (out.width, out.height) == (24, 24)
    # the complete script must equal the untruncated stream
    assert (
        _decode_jpeg(
            _encode_jpeg_progressive(img, subsample=(2, 2), max_scans=10)
        ).pixels
        == full.pixels
    )


def test_progressive_dispatches_through_decode_image():
    rgb = _rgb(16, 16, seed=9)
    img = DecodedImage(16, 16, rgb.tobytes())
    payload = _encode_jpeg_progressive(img)
    out = decode_image(payload)
    assert out.pixels == _decode_jpeg(payload).pixels


def test_mixed_band_progressive_scan_rejected():
    """A full-band (Ss=0, Se=63) scan inside an SOF2 frame is illegal
    progressive structure — the message keeps the r13 'progressive'
    fail-loud contract for relabeled baseline streams."""
    rgb = _rgb(16, 16, seed=2)
    payload = bytearray(
        _encode_jpeg_baseline(DecodedImage(16, 16, rgb.tobytes()))
    )
    payload[payload.index(b"\xff\xc0") + 1] = 0xC2
    with pytest.raises(ValueError, match="progressive"):
        _decode_jpeg(bytes(payload))


@pytest.mark.parametrize("ri", [1, 3, 7])
def test_progressive_restart_intervals_match_no_dri(ri):
    """DRI restart markers inside progressive scans (RSTn every ri
    MCUs/blocks, DC predictors AND EOB runs reset, runs never spanning
    a boundary) must decode to the identical pixels of the marker-free
    stream — in every scan kind, color and grayscale."""
    rgb = _rgb(40, 24, seed=100 + ri)
    img = DecodedImage(40, 24, rgb.tobytes())
    for kwargs in ({"subsample": (2, 2)}, {"gray": True}):
        plain = _decode_jpeg(_encode_jpeg_progressive(img, **kwargs))
        with_dri = _decode_jpeg(
            _encode_jpeg_progressive(img, restart_interval=ri, **kwargs)
        )
        assert plain.pixels == with_dri.pixels, (ri, kwargs)
