"""Round-13: the image WRITE path (encode_image) and the decode
family's differential oracle gate (decoded_phash_check)."""

from __future__ import annotations

import numpy as np
import pytest


def _raster(doc_id: int):
    from m2_b3_market_data_pipeline_spark.operators.multimodal import DecodedImage

    xg, yg = np.meshgrid(np.arange(16), np.arange(16))
    v = ((abs(doc_id) * 31 + 7 * xg + 13 * yg) % 256).astype(np.uint8)
    return DecodedImage(16, 16, np.repeat(v[:, :, None], 3, axis=2).tobytes())


def test_encode_image_roundtrips_all_formats():
    """encode_image -> decode_image is pixel-exact for every lossless
    format it writes, including non-multiple-of-4 widths (BMP row
    padding) and non-square rasters."""
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        DecodedImage,
        decode_image,
        encode_image,
    )

    for w, h in ((16, 16), (9, 7), (5, 12)):
        rng = np.random.default_rng(w * 100 + h)
        rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        img = DecodedImage(w, h, rgb.tobytes())
        # gif is valid here too: <= 256 pixels -> <= 256 unique colors
        for fmt in ("bmp", "ppm", "png", "gif"):
            back = decode_image(encode_image(img, fmt))
            assert (back.width, back.height) == (w, h), fmt
            assert back.pixels == img.pixels, f"{fmt} {w}x{h}"
    with pytest.raises(ValueError, match="encode format"):
        encode_image(_raster(0), "heic")  # webp became a real leg in r15


def test_decoded_phash_check_matches_analytic_law(spark):
    """The registered differential gate reproduces the oracle's
    analytic phash for hand-computed doc ids, through each of the
    four container formats (|id| mod 4 rotation: BMP/PPM/PNG/GIF),
    and its phash values are exactly what pixel_phash computes on the
    raw raster — the encode/decode hop is transparent."""
    from m2_b3_market_data_pipeline_spark.operators.multimodal import pixel_phash
    from m2_b3_market_data_pipeline_spark.plans.all_queries import QUERIES

    import pyarrow as pa
    import pyarrow.parquet as pq
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        ids = [0, 1, 2, 3, 5, 17, 100, 102]  # covers all four formats twice
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(ids, type=pa.int64()),
                    "text": pa.array(["x"] * len(ids)),
                    "lang": pa.array(["en"] * len(ids)),
                    "source": pa.array(["s"] * len(ids)),
                }
            ),
            os.path.join(d, "documents.parquet"),
        )
        got = {
            r["doc_id"]: r
            for r in QUERIES["decoded_phash_check"](spark, d).collect()
        }
    assert set(got) == set(ids)
    for i in ids:
        expect = pixel_phash(_raster(i))
        expect = expect - (1 << 64) if expect >= (1 << 63) else expect
        assert got[i]["phash64"] == expect, f"doc {i}"
        assert (got[i]["width"], got[i]["height"]) == (16, 16)
        # histogram bins sum constraint: exact /256 doubles
        assert got[i]["hist_0"] * 256 == int(got[i]["hist_0"] * 256)


def test_encode_image_jpeg_production_writer():
    """The production baseline JPEG writer: decode(encode) dimension-
    exact with bounded error at high quality, pixel-EXACT for the
    solid-gray analytic anchor at Q50 (Annex-K base tables, DC
    divisible by q00=16), and agreeing pixel-for-pixel with the
    INDEPENDENT test encoder on that anchor."""
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        DecodedImage,
        _decode_jpeg,
        decode_image,
        encode_image,
    )
    from tests.test_jpeg_decode import _encode_jpeg, _rgb_array, _smooth, _solid

    rgb = _rgb_array(24, 16, _smooth)
    img = DecodedImage(24, 16, rgb.tobytes())
    for kwargs, bound in (
        ({"quality": 95}, 6),
        ({"quality": 75, "subsample": (2, 2)}, 24),
    ):
        back = decode_image(encode_image(img, "jpeg", **kwargs))
        assert (back.width, back.height) == (24, 16)
        got = np.frombuffer(back.pixels, dtype=np.uint8).astype(np.int64)
        err = np.abs(got - np.frombuffer(img.pixels, np.uint8).astype(np.int64))
        assert err.max() <= bound, (kwargs, err.max())

    solid_rgb = _rgb_array(16, 16, _solid(160))
    solid = DecodedImage(16, 16, solid_rgb.tobytes())
    ours = _decode_jpeg(encode_image(solid, "jpeg", quality=50))
    theirs = _decode_jpeg(_encode_jpeg(solid_rgb, luma_q=16, chroma_q=17))
    assert ours.pixels == solid.pixels  # exact anchor
    assert ours.pixels == theirs.pixels  # two encoders, one pixel truth

    gray = decode_image(encode_image(solid, "jpeg", quality=50, gray=True))
    assert gray.pixels == solid.pixels


def test_encode_video_mjpeg_roundtrip():
    """Production MJPEG-AVI writer parses back through _parse_avi with
    fps and per-frame pixels (solid anchor: exact); the independent
    test AVI writer wrapping the same JPEG bytes parses identically."""
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        DecodedImage,
        _parse_avi,
        encode_video_mjpeg,
    )
    from tests.test_jpeg_decode import _rgb_array, _solid

    imgs = [
        DecodedImage(16, 12, _rgb_array(16, 12, _solid(v)).tobytes())
        for v in (160, 96, 144)  # all DC-divisible at Q50 -> exact
    ]
    fps, frames = _parse_avi(encode_video_mjpeg(imgs, fps=25, quality=50))
    assert fps == pytest.approx(25.0)
    assert [f.pixels for f in frames] == [i.pixels for i in imgs]
    with pytest.raises(ValueError, match="share dimensions"):
        encode_video_mjpeg([imgs[0], DecodedImage(8, 8, bytes(192))])
    with pytest.raises(ValueError, match="at least one"):
        encode_video_mjpeg([])
