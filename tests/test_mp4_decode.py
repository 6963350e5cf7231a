"""Round-14 ISO-BMFF/MP4 container: box walk -> sample tables ->
MJPEG sample decode (r13 verdict item 2).

The fixture writer below is an INDEPENDENT MP4 muxer (never imported
by the code under test): bytes laid out literally, a DIFFERENT
physical arrangement than the production writer — moov BEFORE mdat,
TWO chunks with an stsc run change, co64 instead of stco, a largesize
mdat, and the independent test JPEG encoder from test_jpeg_decode for
the samples — so offset bookkeeping errors that a symmetric
writer/parser pair would cancel break these pixels instead."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from tests.test_jpeg_decode import _encode_jpeg, _rgb_array, _solid


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + btype + body


def _full(btype: bytes, ver_flags: int, body: bytes) -> bytes:
    return _box(btype, struct.pack(">I", ver_flags) + body)


def _independent_mp4(
    samples: list,  # encoded JPEG byte strings
    *,
    w: int,
    h: int,
    timescale: int = 600,
    delta: int = 60,
    keyframes=(1,),
    co64: bool = False,
    largesize_mdat: bool = False,
    two_chunks: bool = True,
    repeat: int = 1,
) -> bytes:
    """moov-first layout; samples split across two chunks with a gap
    byte between them (stsc: chunk 1 carries n-1 samples, chunk 2 the
    last one) unless two_chunks=False. ``repeat`` > 1 stores one sample
    once and lists its extent ``repeat`` times, one chunk each."""
    n = len(samples)
    ftyp = _box(b"ftyp", b"mp42" + struct.pack(">I", 0) + b"mp42isom")

    if repeat > 1:
        assert n == 1
        mdat_payload = samples[0]
        stsc_entries = [(1, 1, 1)]
        rel_offsets = [0] * repeat
        samples, n = samples * repeat, repeat
    elif two_chunks and n >= 2:
        chunk1 = b"".join(samples[:-1])
        chunk2 = samples[-1]
        mdat_payload = chunk1 + b"\xAA" + chunk2  # junk gap byte
        stsc_entries = [(1, n - 1, 1), (2, 1, 1)]
        rel_offsets = [0, len(chunk1) + 1]
    else:
        mdat_payload = b"".join(samples)
        stsc_entries = [(1, n, 1)]
        rel_offsets = [0]

    if largesize_mdat:
        mdat = (
            struct.pack(">I", 1) + b"mdat"
            + struct.pack(">Q", 16 + len(mdat_payload)) + mdat_payload
        )
        payload_at = 16
    else:
        mdat = _box(b"mdat", mdat_payload)
        payload_at = 8

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
    stts = _full(b"stts", 0, struct.pack(">III", 1, n, delta))
    stsc = _full(
        b"stsc", 0,
        struct.pack(">I", len(stsc_entries))
        + b"".join(struct.pack(">III", *e) for e in stsc_entries),
    )
    stsz = _full(
        b"stsz", 0,
        struct.pack(">II", 0, n)
        + b"".join(struct.pack(">I", len(s)) for s in samples),
    )
    stss = _full(
        b"stss", 0,
        struct.pack(">I", len(keyframes))
        + b"".join(struct.pack(">I", k) for k in keyframes),
    )

    # moov-first: mdat payload offset = len(ftyp) + len(moov) + hdr.
    # moov length is independent of the offsets' VALUES (fixed-width
    # fields), so build once with zeros, then rebuild with real ones.
    def build_moov(abs_offsets):
        if co64:
            stco = _full(
                b"co64", 0,
                struct.pack(">I", len(abs_offsets))
                + b"".join(struct.pack(">Q", o) for o in abs_offsets),
            )
        else:
            stco = _full(
                b"stco", 0,
                struct.pack(">I", len(abs_offsets))
                + b"".join(struct.pack(">I", o) for o in abs_offsets),
            )
        stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco + stss)
        dinf = _box(b"dinf", _full(b"dref", 0, struct.pack(">I", 1)
                                   + _full(b"url ", 1, b"")))
        minf = _box(b"minf", _full(b"vmhd", 1, b"\x00" * 8) + dinf + stbl)
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        trak = _box(b"trak", tkhd + mdia)
        mvhd = _full(
            b"mvhd", 0,
            struct.pack(">IIII", 0, 0, timescale, n * delta)
            + struct.pack(">IH", 0x10000, 0x100) + b"\x00" * 10
            + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                          0x40000000)
            + b"\x00" * 24 + struct.pack(">I", 2),
        )
        return _box(b"moov", mvhd + trak)

    moov_len = len(build_moov([0] * len(rel_offsets)))
    base = len(ftyp) + moov_len + payload_at
    moov = build_moov([base + r for r in rel_offsets])
    return ftyp + moov + mdat


def _solid_frames(n=4, w=16, h=16, base=128):
    vals = [base + 2 * ((5 + 3 * k) % 32) for k in range(n)]
    return vals, [
        _encode_jpeg(_rgb_array(w, h, _solid(v)), luma_q=16, chroma_q=16)
        for v in vals
    ]


def _pixels(img):
    return np.frombuffer(img.pixels, dtype=np.uint8).reshape(
        img.height, img.width, 3
    )


@pytest.mark.parametrize("co64", [False, True])
@pytest.mark.parametrize("largesize", [False, True])
def test_mp4_independent_writer_decodes_exact(co64, largesize):
    from m2_b3_market_data_pipeline_spark.operators.multimodal import _parse_mp4

    vals, samples = _solid_frames()
    payload = _independent_mp4(
        samples, w=16, h=16, co64=co64, largesize_mdat=largesize
    )
    fps, frames = _parse_mp4(payload)
    assert fps == pytest.approx(600 / 60)
    assert len(frames) == 4
    for v, img in zip(vals, frames):
        assert np.array_equal(_pixels(img), np.full((16, 16, 3), v)), v


def test_mp4_two_chunk_stsc_expansion():
    """The chunk-gap byte between chunk 1 and chunk 2 is never read:
    wrong stsc expansion or offset arithmetic would decode garbage."""
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        _parse_mp4_tables,
    )

    _vals, samples = _solid_frames(n=3)
    payload = _independent_mp4(samples, w=16, h=16)
    info = _parse_mp4_tables(payload)
    assert info["n_samples"] == 3
    offs = info["samples"]
    assert [payload[o : o + 2] for o, _sz in offs] == [b"\xff\xd8"] * 3
    assert [sz for _o, sz in offs] == [len(s) for s in samples]


def test_mp4_video_meta_box_walk_only():
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        mp4_video_meta,
    )

    _vals, samples = _solid_frames(n=5)
    payload = _independent_mp4(
        samples, w=16, h=16, timescale=1000, delta=40, keyframes=(1, 3, 5)
    )
    meta = mp4_video_meta(payload)
    assert meta == {
        "width": 16,
        "height": 16,
        "fps": 25.0,
        "codec": "jpeg",
        "n_frames": 5,
        "keyframes": [1, 3, 5],
    }


def test_mp4_production_writer_roundtrip_and_avi_parity():
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        DecodedImage,
        _parse_avi,
        _parse_mp4,
        encode_video_mjpeg,
        encode_video_mp4,
        mp4_video_meta,
    )

    frames = [
        DecodedImage(16, 16, bytes([128 + 2 * ((5 * 7 + 3 * k) % 32)]) * 768)
        for k in range(4)
    ]
    mp4 = encode_video_mp4(frames, fps=10.0, quality=50)
    fps, got = _parse_mp4(mp4)
    assert fps == 10.0
    avi_fps, avi = _parse_avi(encode_video_mjpeg(frames, fps=10.0, quality=50))
    assert [f.pixels for f in got] == [f.pixels for f in avi]
    meta = mp4_video_meta(encode_video_mp4(frames, fps=25.0, keyframe_every=2))
    assert (meta["fps"], meta["keyframes"]) == (25.0, [1, 3])


def test_mp4_fail_loud_variants():
    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        _parse_mp4,
        _parse_mp4_tables,
    )

    _vals, samples = _solid_frames(n=2)
    good = _independent_mp4(samples, w=16, h=16)
    with pytest.raises(ValueError, match="ISO-BMFF"):
        _parse_mp4_tables(b"\x00" * 20)
    with pytest.raises(ValueError, match="moov"):
        _parse_mp4_tables(good[: good.index(b"moov") - 4])
    # truncate mid-moov: box sizes run past the end
    with pytest.raises(ValueError):
        _parse_mp4_tables(good[: len(good) // 3])
    # sample extent past end: drop the mdat tail
    with pytest.raises(ValueError):
        _parse_mp4(good[:-10])
    # audio-only track: flip the handler fourcc
    soun = bytearray(good)
    at = soun.index(b"vide")
    soun[at : at + 4] = b"soun"
    with pytest.raises(ValueError, match="video track"):
        _parse_mp4_tables(bytes(soun))


def test_mp4_through_video_featurizer(spark):
    """End-to-end through Spark mapInPandas with MIXED containers:
    the same solid frames shipped as AVI, MP4, and (via palette) GIF
    produce identical per-frame features except fps/format-specific
    fields — the container layer is transparent above the parser."""
    import pandas as pd

    from m2_b3_market_data_pipeline_spark.operators.multimodal import (
        DecodedImage,
        decoded_video_frame_features,
        encode_video_mjpeg,
        encode_video_mp4,
    )

    frames = [
        DecodedImage(16, 16, bytes([128 + 2 * ((3 * k + 1) % 32)]) * 768)
        for k in range(3)
    ]
    rows = [
        (1, encode_video_mjpeg(frames, fps=10.0, quality=50)),
        (2, encode_video_mp4(frames, fps=10.0, quality=50)),
        (3, b"not a video"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    out = (
        decoded_video_frame_features(df)
        .orderBy("doc_id", "frame_idx")
        .collect()
    )
    assert [r.doc_id for r in out] == [1, 1, 1, 2, 2, 2]
    avi_rows = [r for r in out if r.doc_id == 1]
    mp4_rows = [r for r in out if r.doc_id == 2]
    for a, m in zip(avi_rows, mp4_rows):
        assert (a.mean_luma, a.phash64, a.width, a.height, a.fps) == (
            m.mean_luma, m.phash64, m.width, m.height, m.fps,
        )
