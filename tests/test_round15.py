"""Round-15 advice fixes: MP4 leaf-table bounds, per-trak fallback,
rebalance_for_decode materialize contract.

The MP4 fixtures here use an mdat-FIRST layout (ftyp + mdat + moov)
so sample offsets are independent of moov length — that lets a test
splice extra (broken) traks into moov without re-deriving offsets,
which the moov-first builder in test_mp4_decode can't do."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from m2_b3_market_data_pipeline_spark.operators.multimodal import (
    _parse_mp4,
    _parse_mp4_tables,
)
from tests.test_jpeg_decode import _encode_jpeg, _rgb_array, _solid
from tests.test_mp4_decode import _box, _full, _pixels


def _vide_trak(
    samples: list,
    *,
    w: int,
    h: int,
    offsets: list,
    broken: bool = False,
    bad_stts_count: int | None = None,
) -> bytes:
    """One video trak. broken=True omits the sample tables entirely
    (the 'damaged track' case); bad_stts_count forges an stts entry
    count that overruns the box."""
    n = len(samples)
    timescale, delta = 600, 60
    tkhd = _full(
        b"tkhd", 0x000007,
        struct.pack(">IIIII", 0, 0, 1, 0, n * delta) + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", w << 16, h << 16),
    )
    mdhd = _full(
        b"mdhd", 0,
        struct.pack(">IIII", 0, 0, timescale, n * delta)
        + struct.pack(">HH", 0x55C4, 0),
    )
    hdlr = _full(b"hdlr", 0, struct.pack(">I", 0) + b"vide"
                 + b"\x00" * 12 + b"t\x00")
    entry = (
        b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 16
        + struct.pack(">HH", w, h) + struct.pack(">II", 0x480000, 0x480000)
        + struct.pack(">IH", 0, 1) + b"\x00" * 32 + struct.pack(">Hh", 24, -1)
    )
    stsd = _full(b"stsd", 0, struct.pack(">I", 1) + _box(b"jpeg", entry))
    if broken:
        stbl = _box(b"stbl", stsd)  # no stts/stsz/stsc/stco
    else:
        stts_n = 1 if bad_stts_count is None else bad_stts_count
        stts = _full(b"stts", 0, struct.pack(">III", stts_n, n, delta))
        stsc = _full(b"stsc", 0, struct.pack(">IIII", 1, 1, n, 1))
        stsz = _full(
            b"stsz", 0,
            struct.pack(">II", 0, n)
            + b"".join(struct.pack(">I", len(s)) for s in samples),
        )
        stco = _full(
            b"stco", 0,
            struct.pack(">I", len(offsets))
            + b"".join(struct.pack(">I", o) for o in offsets),
        )
        stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = _box(b"minf", _full(b"vmhd", 1, b"\x00" * 8) + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    return _box(b"trak", tkhd + mdia)


def _mdat_first_mp4(samples, *, w, h, extra_traks=(), **trak_kw) -> bytes:
    """ftyp + mdat + moov: absolute sample offsets depend only on
    len(ftyp), so moov content (incl. spliced broken traks) is free to
    vary. One chunk per sample keeps stsc trivial (1 sample/chunk)."""
    ftyp = _box(b"ftyp", b"mp42" + struct.pack(">I", 0) + b"mp42isom")
    mdat = _box(b"mdat", b"".join(samples))
    offsets, off = [], len(ftyp) + 8
    for s in samples:
        offsets.append(off)
        off += len(s)
    # the trak builder's stsc declares all n samples in chunk 1 and
    # the samples are contiguous in mdat, so one chunk offset suffices
    n = len(samples)
    good = _vide_trak(samples, w=w, h=h, offsets=[offsets[0]], **trak_kw)
    mvhd = _full(
        b"mvhd", 0,
        struct.pack(">IIII", 0, 0, 600, n * 60)
        + struct.pack(">IH", 0x10000, 0x100) + b"\x00" * 10
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24 + struct.pack(">I", 2),
    )
    moov = _box(b"moov", mvhd + b"".join(extra_traks) + good)
    return ftyp + mdat + moov


def _frames(n=3, w=16, h=16):
    vals = [100 + 20 * k for k in range(n)]
    return vals, [
        _encode_jpeg(_rgb_array(w, h, _solid(v)), luma_q=16, chroma_q=16)
        for k, v in enumerate(vals)
    ]


def test_mdat_first_layout_parses_and_decodes():
    vals, samples = _frames()
    data = _mdat_first_mp4(samples, w=16, h=16)
    info = _parse_mp4_tables(data)
    assert info["n_samples"] == 3
    fps, frames = _parse_mp4(data)
    assert len(frames) == 3
    for v, img in zip(vals, frames):
        px = _pixels(img)
        assert abs(int(px.mean()) - v) <= 3


def test_broken_first_trak_falls_through_to_good_trak():
    vals, samples = _frames()
    broken = _vide_trak(samples, w=16, h=16, offsets=[0], broken=True)
    data = _mdat_first_mp4(samples, w=16, h=16, extra_traks=(broken,))
    info = _parse_mp4_tables(data)
    assert info["n_samples"] == 3
    assert info["width"] == 16 and info["height"] == 16


def test_all_traks_broken_raises_first_error():
    vals, samples = _frames()
    broken = _vide_trak(samples, w=16, h=16, offsets=[0], broken=True)
    ftyp = _box(b"ftyp", b"mp42" + struct.pack(">I", 0) + b"mp42isom")
    moov = _box(b"moov", broken)
    with pytest.raises(ValueError, match="missing sample tables"):
        _parse_mp4_tables(ftyp + moov)


def test_leaf_table_count_overrun_raises():
    # stts declares 1,000,000 entries but the box holds one: must
    # raise instead of silently unpacking bytes from following boxes
    vals, samples = _frames()
    data = _mdat_first_mp4(samples, w=16, h=16, bad_stts_count=1_000_000)
    with pytest.raises(ValueError, match="overrun|malformed"):
        _parse_mp4_tables(data)


def test_rebalance_materialize_preserves_rows(spark):
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        rebalance_for_decode,
    )
    import pyspark.sql.functions as F

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 37 == 0,
               F.repeat(F.lit("x"), 5000).cast("binary"))
        .otherwise(F.repeat(F.lit("y"), 10).cast("binary"))
        .alias("content"),
    )
    out = rebalance_for_decode(
        df, heavy_bytes=1000, heavy_partitions=4, materialize=True
    )
    assert out.count() == 200
    assert sorted(r.doc_id for r in out.collect()) == list(range(200))


# ------------------------- compressed TIFF (r15 verdict item 3) ------


class TestTiffCompression:
    def _img(self, w, h, kind, seed=0):
        rng = np.random.default_rng(seed)
        if kind == "noise":
            rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        else:  # runs: the compressible scanned-document shape
            v = np.repeat(
                (np.arange(h, dtype=np.uint8) * 7)[:, None], w, axis=1
            )
            rgb = np.repeat(v[:, :, None], 3, axis=2)
        from m2_b3_market_data_pipeline_spark.operators.multimodal import (
            DecodedImage,
        )

        return DecodedImage(w, h, rgb.tobytes())

    @pytest.mark.parametrize("fmt", ["tiff-lzw", "tiff-pb"])
    @pytest.mark.parametrize("kind", ["noise", "runs"])
    def test_roundtrip_pixel_exact_vs_uncompressed_twin(self, fmt, kind):
        from m2_b3_market_data_pipeline_spark.operators.multimodal import (
            decode_image,
            encode_image,
        )

        for w, h in ((16, 16), (1, 1), (9, 7), (257, 3), (64, 48)):
            img = self._img(w, h, kind, seed=w * h)
            out = decode_image(encode_image(img, fmt))
            twin = decode_image(encode_image(img, "tiff"))
            assert out.pixels == img.pixels, (fmt, kind, w, h)
            assert out.pixels == twin.pixels

    def test_lzw_width_bump_and_clear_path(self):
        # 200x200 noise fills the 12-bit table repeatedly: every
        # width bump and the 4093-entry clear both execute
        from m2_b3_market_data_pipeline_spark.operators.multimodal import (
            decode_image,
            encode_image,
        )

        img = self._img(200, 200, "noise", seed=11)
        assert decode_image(encode_image(img, "tiff-lzw")).pixels == img.pixels

    def test_compression_actually_compresses(self):
        from m2_b3_market_data_pipeline_spark.operators.multimodal import (
            encode_image,
        )

        img = self._img(60, 50, "runs")
        raw = len(encode_image(img, "tiff"))
        assert len(encode_image(img, "tiff-lzw")) < raw / 4
        assert len(encode_image(img, "tiff-pb")) < raw / 4

    def test_lzw_width_schedule_early_change(self):
        # the documented early-change thresholds: one code EARLIER
        # than the GIF variant's power-of-two points
        from m2_b3_market_data_pipeline_spark.operators.multimodal import (
            _tiff_lzw_width,
        )

        assert _tiff_lzw_width(258) == 9
        assert _tiff_lzw_width(510) == 9
        assert _tiff_lzw_width(511) == 10
        assert _tiff_lzw_width(1022) == 10
        assert _tiff_lzw_width(1023) == 11
        assert _tiff_lzw_width(2046) == 11
        assert _tiff_lzw_width(2047) == 12
        assert _tiff_lzw_width(4094) == 12  # capped

    def test_lzw_hand_packed_vector(self):
        # independent MSB-first packing of [Clear, 'A', 258, 259, EOI]
        # at 9 bits: the KwKwK path ('code == len(table)') twice
        from m2_b3_market_data_pipeline_spark.operators.multimodal import (
            _tiff_lzw_decode,
        )

        bits = []
        for code in (256, 65, 258, 259, 257):
            bits.extend((code >> i) & 1 for i in range(8, -1, -1))
        data = bytearray()
        for i in range(0, len(bits), 8):
            b = 0
            for j, bit in enumerate(bits[i : i + 8]):
                b |= bit << (7 - j)
            data.append(b)
        assert _tiff_lzw_decode(bytes(data), 6) == b"AAAAAA"

    def test_lzw_early_change_boundary_independent_stream(self):
        """A literal-only stream packed by INDEPENDENT inline width
        arithmetic: 300 literals cross the 9->10 bit boundary at the
        early-change point (encoder counter 511, the 254th literal).
        A decoder lag-compensation error desynchronizes exactly
        there and corrupts everything after."""
        from m2_b3_market_data_pipeline_spark.operators.multimodal import (
            _tiff_lzw_decode,
        )

        payload = bytes((i * 17 + 3) % 256 for i in range(300))
        bits = []

        def emit(code, width):
            bits.extend((code >> i) & 1 for i in range(width - 1, -1, -1))

        # encoder-side counter: starts 258, +1 per data code emitted;
        # width bumps when the counter REACHES 2^w - 1 (early change)
        def width(counter):
            w = 9
            while w < 12 and counter >= (1 << w) - 1:
                w += 1
            return w

        counter = 258
        emit(256, width(counter))  # clear
        for b in payload:
            emit(b, width(counter))
            counter += 1
        emit(257, width(counter))  # EOI
        data = bytearray()
        for i in range(0, len(bits), 8):
            acc = 0
            for j, bit in enumerate(bits[i : i + 8]):
                acc |= bit << (7 - j)
            data.append(acc)
        assert _tiff_lzw_decode(bytes(data), 300) == payload

    def test_packbits_spec_cases(self):
        from m2_b3_market_data_pipeline_spark.operators.multimodal import (
            _tiff_packbits_decode,
            _tiff_packbits_encode,
        )

        # spec control bytes: literal(n-1), repeat(257-n), 128 no-op
        assert _tiff_packbits_decode(b"\x02abc", 3) == b"abc"
        assert _tiff_packbits_decode(b"\xfeZ", 3) == b"ZZZ"  # 254 -> x3
        assert _tiff_packbits_decode(b"\x80\x00a", 1) == b"a"
        with pytest.raises(ValueError):
            _tiff_packbits_decode(b"\x05ab", 6)  # literal overrun
        with pytest.raises(ValueError):
            _tiff_packbits_decode(b"", 1)
        # 128-cap: a 200-byte repeat splits into 128 + 72
        row = b"\xaa" * 200
        enc = _tiff_packbits_encode(row)
        assert _tiff_packbits_decode(enc, 200) == row
        # long literal > 128
        row = bytes(range(200)) + bytes(range(200))
        enc = _tiff_packbits_encode(row)
        assert _tiff_packbits_decode(enc, 400) == row

    def test_multistrip_lzw_independent_streams(self):
        """Each strip is an independent LZW stream (RowsPerStrip=2):
        framed by the independent IFD writer from test_round14."""
        from m2_b3_market_data_pipeline_spark.operators.multimodal import (
            _decode_tiff,
            _tiff_lzw_encode,
        )
        from tests.test_round14 import _make_tiff

        w, h = 6, 5
        rng = np.random.default_rng(23)
        rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        strips = []
        for y0 in range(0, h, 2):
            strips.append(_tiff_lzw_encode(rgb[y0 : y0 + 2].tobytes()))
        short = lambda v: struct.pack("<H", v)  # noqa: E731
        entries = [
            (256, 3, 1, short(w)),
            (257, 3, 1, short(h)),
            (258, 3, 3, ("blob", 0)),
            (259, 3, 1, short(5)),
            (262, 3, 1, short(2)),
            (273, 4, 3, ("blob", 1)),
            (277, 3, 1, short(3)),
            (278, 4, 1, struct.pack("<I", 2)),
            (279, 4, 3, ("blob", 2)),
        ]
        bits = struct.pack("<HHH", 8, 8, 8)
        blobs = [
            bits,
            b"\x00" * 12,
            struct.pack("<III", *(len(s) for s in strips)),
        ] + strips
        payload = bytearray(_make_tiff((entries, blobs)))
        ifd_len = 2 + 12 * len(entries) + 4
        at = 8 + ifd_len
        locs = []
        for b in blobs:
            locs.append(at)
            at += len(b) + (len(b) & 1)
        struct.pack_into("<III", payload, locs[1], locs[3], locs[4], locs[5])
        img = _decode_tiff(bytes(payload))
        assert np.array_equal(
            np.frombuffer(img.pixels, np.uint8).reshape(h, w, 3), rgb
        )
