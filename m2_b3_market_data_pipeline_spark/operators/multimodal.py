"""Multimodal column handling: opaque binary payloads + typed metadata.

Design for image/audio/video at 100 TB (BASELINE.json north star):
content travels as an opaque ``binary`` column with a typed metadata
struct alongside (byte length, content hash, modality, declared mime).
Decode / feature-extraction runs as Arrow-batched ``mapInPandas`` — the
only place Python touches bytes, and it touches them one Arrow batch at
a time, never one row at a time.

The container has no image/audio libraries. Since round 12 the decode
step is REAL regardless: pure-stdlib parsers for BMP (``_decode_bmp``
— 24/32-bit and 8-bit palettized), binary PPM (``_decode_ppm``), WAV
(``_decode_wav`` — 8/16-bit PCM plus, round 14, G.711 mu-law/A-law),
PNG (``_decode_png``, stdlib zlib + the four row defilters; round 14
adds grayscale/palette/gray+alpha color types, sub-byte depths, and
16-bit high-byte reduction), JPEG — baseline sequential AND (round
14) progressive with successive approximation (``_decode_jpeg``, ITU
T.81 incl. Annex G: Huffman entropy decode + matrix IDCT + chroma
upsample), baseline TIFF (``_decode_tiff`` — both byte orders,
strips, photometrics 0-3), the RIFF/AVI video container
(``_parse_avi`` — MJPEG frames ride the JPEG decoder, '00db' frames
the DIB layout), the ISO-BMFF/MP4 container (``_parse_mp4`` box walk
-> sample tables -> MJPEG sample decode; ``mp4_video_meta`` for the
metadata-only probe), and GIF87a/89a (``_parse_gif``: LZW, palettes,
interlace, animation compositing with transparency + disposal). All
sit behind the PIL import-try, and the decoded-domain
featurizers (``decoded_image_features`` — phash/luma over decoded
pixels; ``decoded_frame_energy`` — per-frame RMS over decoded samples;
``decoded_video_frame_features`` — per-frame phash over decoded video
frames) run end-to-end in-container (tests/test_round12.py,
tests/test_jpeg_decode.py, tests/test_avi_decode.py). Other formats
still raise and fall back to the deterministic byte-level feature
extractor; the Spark-side plumbing — schema, batching, partitioning,
UDF signature — is identical either way.

The algorithms several formats share live once in ``codec_core``: the
LZW decode loop (GIF LSB-first, TIFF MSB-first with its early width
steps), the buffered bit writer (GIF/TIFF LZW and JPEG entropy
segments, which add their own 1-padding and byte stuffing), the
canonical prefix-code assigner (JPEG DHT tables on both sides), the
``quarantine`` decorator that turns struct.error/IndexError into the
ValueError every decoder entry point raises on malformed input, and
the decode-size bound: header dimensions are checked against
``codec_core.MAX_PIXELS`` (64M px) before any raster, list or
coefficient array is sized from them. On top of that, GIF and JPEG
reject dimensions their payload could never fill, MP4 rejects sample
counts its payload could never hold, and PNG inflates no more IDAT
output than IHDR implies, so a deflate bomb stops at the raster size.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .codec_core import (
    BitWriter,
    canonical_codes,
    check_frames,
    check_size,
    lzw_decode,
    lzw_width,
    quarantine,
)

FEATURE_BINS = 16

FEATURE_SCHEMA = (
    "doc_id bigint, byte_len int, content_md5 string, feature array<double>"
)


def attach_binary(df: DataFrame, *, text_col: str = "text", modality: str = "text") -> DataFrame:
    """Wrap a payload column as (content binary, meta struct). For the
    fixtures the payload is utf-8 text; for real images/audio it is the
    raw file bytes — the schema is identical."""
    content = F.encode(F.col(text_col), "utf-8")
    return df.withColumn("content", content).withColumn(
        "meta",
        F.struct(
            F.length(content).alias("byte_len"),
            F.md5(content).alias("content_md5"),
            F.lit(modality).alias("modality"),
            F.lit("application/octet-stream").alias("mime"),
        ),
    )


class DecodedImage:
    """Minimal decoded-raster container: RGB8, row-major, top-down.
    The common currency of ``decode_image`` — the stdlib BMP path
    produces it directly; a PIL result (when that library exists) is
    converted so downstream featurizers see ONE interface."""

    __slots__ = ("width", "height", "pixels")

    def __init__(self, width: int, height: int, pixels: bytes):
        self.width = width
        self.height = height
        self.pixels = pixels  # len == width * height * 3, RGB

    def luma(self) -> "object":
        """Per-pixel integer luminance (ITU-R BT.601 weights, the
        classic (299R + 587G + 114B) // 1000), row-major top-down —
        a numpy int64 array (vectorized: the decode featurizers run
        inside Arrow batches, and a per-pixel Python loop would be
        the 100 TB hot path's slowest line)."""
        import numpy as np

        px = np.frombuffer(self.pixels, dtype=np.uint8).astype(np.int64)
        return (299 * px[0::3] + 587 * px[1::3] + 114 * px[2::3]) // 1000


def _decode_bmp(data: bytes) -> DecodedImage:
    """Pure-stdlib decode of an UNCOMPRESSED 24-bit BMP (BI_RGB) —
    the one raster format `struct` alone can parse, which cracks the
    container block on real decode (r11 verdict item 6: PIL will never
    appear here). Handles bottom-up (positive height, the common case)
    and top-down (negative height) layouts and the 4-byte row padding.
    Round 14 widened the bpp coverage to the other common real-world
    layouts: 32-bit BI_RGB (BGRx, the padding byte dropped) and 8-bit
    palettized (BGRx color-table lookup, the layout screenshots and
    icons ship in). RLE compression, 1/4/16bpp, and V4/V5 extras
    beyond the core fields raise ValueError — fail loud, never guess
    pixels."""
    import struct

    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (data_offset,) = struct.unpack_from("<I", data, 10)
    (hdr_size,) = struct.unpack_from("<I", data, 14)
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    width, height = struct.unpack_from("<ii", data, 18)
    _planes, bpp = struct.unpack_from("<HH", data, 26)
    (compression,) = struct.unpack_from("<I", data, 30)
    (clr_used,) = struct.unpack_from("<I", data, 46)
    if bpp not in (8, 24, 32) or compression != 0:
        raise ValueError(
            f"only 8/24/32-bit uncompressed BMP supported (bpp={bpp}, "
            f"compression={compression})"
        )
    if width <= 0 or height == 0:
        raise ValueError(f"degenerate BMP dimensions {width}x{height}")
    top_down = height < 0
    h = abs(height)
    row_size = (width * (bpp // 8) + 3) & ~3  # rows pad to 4 bytes
    if data_offset + row_size * h > len(data):
        raise ValueError("truncated BMP pixel data")
    import numpy as np

    raw = np.frombuffer(
        data, dtype=np.uint8, count=row_size * h, offset=data_offset
    ).reshape(h, row_size)[:, : width * (bpp // 8)]
    if not top_down:
        raw = raw[::-1]  # bottom-up rows flip to top-down
    if bpp == 8:  # palettized: BGRx color table follows the info header
        n_colors = clr_used or 256
        pal_at = 14 + hdr_size
        if pal_at + 4 * n_colors > data_offset:
            raise ValueError("BMP color table overruns pixel data")
        pal = np.frombuffer(
            data, dtype=np.uint8, count=4 * n_colors, offset=pal_at
        ).reshape(-1, 4)[:, :3][:, ::-1]  # BGRx -> RGB
        idx = raw.reshape(h, width)
        if int(idx.max(initial=0)) >= n_colors:
            raise ValueError("BMP pixel index beyond color table")
        return DecodedImage(width, h, pal[idx].tobytes())
    # BMP stores BGR(x): reverse the channel axis and drop the 32-bit
    # padding byte (vectorized — a per-pixel Python loop here is the
    # decode hot path at 100 TB)
    rgb = raw.reshape(h, width, bpp // 8)[:, :, :3][:, :, ::-1]
    return DecodedImage(width, h, np.ascontiguousarray(rgb).tobytes())


_PIL_UNPROBED = object()
_PIL_CACHE: object = _PIL_UNPROBED


def _pil_image():
    """``PIL.Image`` or None, probed ONCE per process (r15, guide §4.5:
    Python does NOT cache a FAILED import, so the old per-call
    ``from PIL import Image`` inside ``decode_image`` paid a full
    sys.path scan + ImportError per image in every PIL-less container —
    seconds per gate run). A PIL placed in ``sys.modules`` after the
    probe (the round-13 fall-through test monkeypatches one) is still
    honored via the dict check, which is also the fast path when real
    PIL is installed.

    A ``sys.modules['PIL']`` entry WITHOUT an ``Image`` attribute (a
    bare ``import PIL`` ran first — Pillow's ``__init__`` does not
    import the submodule) falls through to the cached ``from PIL
    import Image`` probe instead of permanently disabling PIL decode
    (r16, advisor fix)."""
    import sys

    mod = sys.modules.get("PIL")
    if mod is not None:
        img = getattr(mod, "Image", None)
        if img is not None:
            return img
    global _PIL_CACHE
    if _PIL_CACHE is _PIL_UNPROBED:
        try:
            from PIL import Image  # type: ignore[import-not-found]

            _PIL_CACHE = Image
        except ImportError:
            _PIL_CACHE = None
    return _PIL_CACHE


def decode_image(data: bytes) -> DecodedImage:
    """Real decode. Chain: PIL when a container ships it (converted to
    the DecodedImage interface), else the pure-stdlib parsers for
    uncompressed 24-bit BMP, the binary Netpbm trio (P6/P5/P4), PNG
    (r13; Adam7 late r14), and JPEG — baseline-sequential (r13) AND
    progressive (r14) — EXERCISED in this container (round 12+; the decode step
    is no longer stub-only).
    Anything no path can read raises NotImplementedError and the
    byte-level deterministic_features stand-in applies.

    The PIL try is import-only (r12 advice): in a PIL-equipped
    container a decode failure (UnidentifiedImageError, a truncated
    file's OSError) falls THROUGH to the stdlib parsers instead of
    escaping the featurizers' quarantine net — one malformed payload
    must never fail the Spark task."""
    Image = _pil_image()
    if Image is not None:
        import io

        try:
            img = Image.open(io.BytesIO(data)).convert("RGB")
            return DecodedImage(img.width, img.height, img.tobytes())
        except Exception:  # noqa: BLE001 — quarantine contract: any PIL
            pass  # decode failure defers to the stdlib chain below
    if data[:2] == b"BM":
        return _decode_bmp(data)
    if data[:2] in (b"P6", b"P5", b"P4"):
        return _decode_ppm(data)
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(data)
    if data[:2] == b"\xff\xd8":
        return _decode_jpeg(data)
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return _decode_gif(data)
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        return _decode_tiff(data)
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        from .webp import decode_webp

        return decode_webp(data)
    raise NotImplementedError(
        "no decoder for this payload: PIL absent and not an uncompressed "
        "BMP / binary PPM-PGM-PBM / PNG / JPEG / GIF / TIFF / "
        "lossless WebP — byte-level features apply "
        "(deterministic_features)"
    )


def pixel_phash(img: DecodedImage, *, hash_size: int = 8, luma=None) -> int:
    """64-bit average-hash over DECODED pixels: box-average the luma
    plane into a hash_size x hash_size grid, threshold each cell by the
    grid mean (ties -> 0), bits row-major MSB-first. The decoded-pixel
    counterpart of the byte-domain ``perceptual_hash`` operator — near
    identical images differ in few bits under brightness-preserving
    noise. Pass a precomputed ``img.luma()`` via ``luma`` to share the
    dominant per-pixel pass with ``luma_histogram`` (r12 advice)."""
    import numpy as np

    w, h = img.width, img.height
    grid = np.asarray(img.luma() if luma is None else luma).reshape(h, w)
    cells = []
    for gy in range(hash_size):
        y0 = gy * h // hash_size
        y1 = min(max((gy + 1) * h // hash_size, y0 + 1), h)
        for gx in range(hash_size):
            x0 = gx * w // hash_size
            x1 = min(max((gx + 1) * w // hash_size, x0 + 1), w)
            box = grid[y0:y1, x0:x1]
            # exact-int sum then ONE division — float-identical to the
            # scalar form at any box size
            cells.append(float(box.sum()) / box.size if box.size else 0.0)
    avg = sum(cells) / len(cells)
    bits = 0
    for cell in cells:
        bits = (bits << 1) | (1 if cell > avg else 0)
    return bits


def luma_histogram(
    img: DecodedImage, bins: int = FEATURE_BINS, *, luma=None
) -> list[float]:
    """Normalized luminance histogram over DECODED pixels — the
    decoded-domain twin of ``deterministic_features``' byte histogram.
    ``luma`` shares a precomputed ``img.luma()`` (r12 advice)."""
    import numpy as np

    luma = np.asarray(img.luma() if luma is None else luma)
    if luma.size == 0:
        return [0.0] * bins
    counts = np.bincount(luma * bins // 256, minlength=bins)
    return [float(c) / luma.size for c in counts]


DECODED_SCHEMA = (
    "doc_id bigint, width int, height int, phash64 bigint, "
    "luma_hist array<double>"
)


def decoded_image_features(
    df: DataFrame, *, id_col: str = "doc_id", binary_col: str = "content"
) -> DataFrame:
    """REAL decode -> feature extraction over binary image payloads via
    Arrow-batched mapInPandas — the non-stubbed path (r11 verdict item
    6): each payload decodes with ``decode_image`` (stdlib BMP in this
    container) and yields decoded-pixel features — dimensions, the
    64-bit average-hash, the luminance histogram. Payloads no decoder
    accepts are SKIPPED (counted out, not poisoned — the quarantine
    posture of every decode stage here); NULLs are excluded before the
    Arrow batches. Partitioning carries through, no shuffle."""
    id_name, bin_name = id_col, binary_col

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, ws, hs, phs, hists = [], [], [], [], []
            for i, raw in zip(pdf[id_name], pdf[bin_name]):
                try:
                    img = decode_image(bytes(raw))
                except (NotImplementedError, ValueError):
                    continue
                ids.append(int(i))
                ws.append(img.width)
                hs.append(img.height)
                # one luma pass feeds both featurizers (r12 advice: the
                # per-pixel conversion dominates this hot path)
                luma = img.luma()
                # two's-complement into BIGINT: bit 63 set is legal
                ph = pixel_phash(img, luma=luma)
                phs.append(ph - (1 << 64) if ph >= (1 << 63) else ph)
                hists.append(luma_histogram(img, luma=luma))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "width": pd.array(ws, dtype="int32"),
                    "height": pd.array(hs, dtype="int32"),
                    "phash64": pd.array(phs, dtype="int64"),
                    # object dtype even when EMPTY: an all-skipped batch
                    # would otherwise type this float64 and Arrow can't
                    # cast that to list<double>
                    "luma_hist": pd.Series(hists, dtype="object"),
                }
            )

    return (
        df.filter(F.col(binary_col).isNotNull())
        .select(id_col, binary_col)
        .mapInPandas(batches, DECODED_SCHEMA)
    )


def rebalance_for_decode(
    df: DataFrame,
    *,
    binary_col: str = "content",
    heavy_bytes: int = 4 << 20,
    heavy_partitions: int | None = None,
    materialize: bool = False,
    spread: str = "range",
) -> DataFrame:
    """Heavy-tail payload rebalance ahead of the decode featurizers
    (r13 verdict item 8). ``decoded_image_features`` /
    ``decoded_video_frame_features`` inherit upstream partitioning;
    a real crawl corpus has a long payload-size tail (a few giant
    images per shard, usually CLUSTERED — same host, same fetch
    batch), and one partition holding several giants straggles its
    whole ``mapInPandas`` stage: decode cost is per-BYTE, not
    per-row, and a single payload can't be split.

    The fix is a two-path split, priced for 100 TB: rows whose
    payload is >= ``heavy_bytes`` are ROUND-ROBIN repartitioned
    (``repartition(n)`` with no column — hash-by-id could still park
    two giants together; round-robin assigns a CLUMPED tail to
    consecutive partitions, exactly one giant per task, and bounds an
    already-spread tail at ceil(per-source-partition count) plus the
    start-offset overlap) so each lands in its own task; everything
    else (the overwhelming byte majority) passes through with NO
    shuffle — the union just concatenates the two legs' partition
    lists. Shuffle cost is therefore proportional to the heavy TAIL's
    bytes only, never the corpus. NULL payloads ride the light leg
    (``length(NULL)`` is NULL, which fails both predicates unless
    routed explicitly) so row-preservation holds for the featurizers'
    own null filter to act on.

    Row-preservation contract: the split is two FILTERS over the same
    upstream, so the upstream is evaluated once per leg per action. A
    DETERMINISTIC source (parquet scan, deterministic synth — the
    shipped gate) sees identical payloads on both evaluations and the
    two legs partition the rows exactly. A non-deterministic upstream
    (e.g. a ``rand()``-derived payload) could place a row's length on
    different sides of ``heavy_bytes`` across the two evaluations,
    dropping or duplicating it — pass ``materialize=True`` there,
    which localCheckpoints the input first (one extra materialization,
    paid only when asked; the default stays the zero-copy single-
    exchange plan the gate pins).

    ``spread`` picks the heavy leg's placement strategy (r15 verdict
    item 4 — the r14 docstring's pre-spread caveat, now measured and
    closed):

    - ``"range"`` (default): repartitionByRange on a DETERMINISTIC
      whole-row hash key (``xxhash64`` over every column). Range
      placement splits the sampled key space into near-equal runs,
      so the giants land ceil(k/n) per partition for BOTH tail
      layouts — a CLUMPED tail and a PRE-SPREAD tail hash to
      distinct, uniformly spread keys either way. The key must be
      deterministic: a positional key (row offset / source partition
      id from ``monotonically_increasing_id``) changes values when a
      fetch failure re-runs upstream tasks, and a repartition keyed
      on it can duplicate or drop rows under retry (the SPARK-38388
      class) — the row hash is retry-stable by construction. Rows
      identical in EVERY column share a key and co-locate; real
      corpora carry a unique id column, so this costs nothing in
      practice. Cost: the range sampler adds one extra evaluation
      pass over the heavy leg only (tail bytes, never the corpus) —
      measured ~0 at probe scale (SCALE.md §26.2 pre-spread row).
    - ``"roundrobin"``: the r14 behavior. Perfect on a clumped tail
      (sequential assignment from one source partition) but each
      source partition starts its round-robin at Random(pid) — a
      pre-spread tail collides two giants onto one task with
      birthday probability (measured 2-per-task at 12 giants / 32
      partitions, SCALE.md §26.2), halving the straggle win."""
    if materialize:
        df = df.localCheckpoint(eager=False)
    size = F.length(F.col(binary_col))
    heavy = df.filter(size >= F.lit(heavy_bytes))
    light = df.filter(
        (size < F.lit(heavy_bytes)) | F.col(binary_col).isNull()
    )
    if heavy_partitions is None:
        heavy_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    if spread == "range":
        # Deterministic whole-row hash: distinct rows get distinct,
        # uniformly spread keys on ANY source layout, and the key is
        # stable under task retry (a positional mid-derived key is
        # not — see docstring). Equal-size range cuts then hold the
        # giants apart in both the clumped and the pre-spread layout.
        key = F.xxhash64(*[F.col(c) for c in heavy.columns])
        heavy = (
            heavy.withColumn("__rb_k", key)
            .repartitionByRange(heavy_partitions, "__rb_k")
            .drop("__rb_k")
        )
    elif spread == "roundrobin":
        heavy = heavy.repartition(heavy_partitions)
    else:
        raise ValueError(f"unknown spread strategy {spread!r}")
    return light.unionByName(heavy)


def deterministic_features(data: bytes, bins: int = FEATURE_BINS) -> list[float]:
    """Deterministic stand-in for a decoded-content featurizer: a
    normalized histogram of byte values. Keeps the full pipeline
    (schema, Arrow batching, downstream similarity) runnable and
    testable without media libraries."""
    if not data:
        return [0.0] * bins
    import numpy as np

    # vectorized bincount over the byte values (this runs inside the
    # REGISTERED multimodal_features Arrow batches — the one per-byte
    # Python loop on an oracle-checked path); integer bucket math and
    # one division per bin keep every value identical to the scalar
    # form, so the hash row is unchanged
    b = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
    counts = np.bincount(b * bins // 256, minlength=bins)
    total = float(len(data))
    return [float(c) / total for c in counts]


def extract_features(df: DataFrame, *, id_col: str = "doc_id", binary_col: str = "content") -> DataFrame:
    """Arrow-batched feature extraction over binary content via
    mapInPandas: the production shape for decode/resize/frame-sample
    stages. Python cost is per-Arrow-batch, not per-row; partitioning of
    the input carries straight through (no shuffle)."""
    id_name, bin_name = id_col, binary_col

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            content = pdf[bin_name]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_name],
                    "byte_len": content.str.len().astype("int32"),
                    "content_md5": [
                        __import__("hashlib").md5(b).hexdigest() for b in content
                    ],
                    "feature": [deterministic_features(b) for b in content],
                }
            )

    # Decode contract: a NULL payload cannot be featurized — excluded
    # before the Arrow batches (a NaN byte_len would poison the int
    # cast; a None md5 input would throw mid-batch).
    return (
        df.filter(F.col(binary_col).isNotNull())
        .select(id_col, binary_col)
        .mapInPandas(batches, FEATURE_SCHEMA)
    )


FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_hash string"


def sample_frames(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    binary_col: str = "content",
    n_frames: int = 4,
    frame_bytes: int = 16,
) -> DataFrame:
    """Evenly-spaced frame sampling over an opaque binary payload.

    The video-pipeline shape: one input row fans out to ``n_frames``
    rows, each a fixed-size window taken at evenly spaced offsets
    (first frame at 0, last frame ending flush with the payload). A
    real deployment decodes container formats here (stubbed — no codec
    libs in this container); the deterministic stand-in slices the raw
    bytes, which keeps the exact same Spark plumbing: Arrow-batched
    ``mapInPandas``, a 1→N row multiplier, partitioning preserved (no
    shuffle), output hashed so frames dedup downstream by content.
    Payloads shorter than ``n_frames * frame_bytes`` are skipped (a
    real decoder's too-short-to-sample case), as are NULL payloads.

    ``frame_hash`` is md5 over the frame's UPPERCASE HEX encoding (not
    the raw bytes): hex is injective, so identity semantics are
    unchanged, and the digest becomes portable to engines whose md5
    only accepts text (DuckDB) even when a frame boundary falls inside
    a multi-byte codepoint — which removes the previous ASCII-only
    oracle caveat.
    """
    import hashlib

    id_name, bin_name = id_col, binary_col

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids: list[int] = []
            idxs: list[int] = []
            hashes: list[str] = []
            for i, raw in zip(pdf[id_name], pdf[bin_name]):
                if raw is None:
                    continue
                b = bytes(raw)
                if len(b) < n_frames * frame_bytes:
                    continue
                stride = (len(b) - frame_bytes) // (n_frames - 1)
                for k in range(n_frames):
                    frame = b[k * stride : k * stride + frame_bytes]
                    ids.append(int(i))
                    idxs.append(k)
                    hashes.append(hashlib.md5(frame.hex().upper().encode()).hexdigest())
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": pd.array(idxs, dtype="int32"),
                 "frame_hash": hashes}
            )

    return df.select(id_col, binary_col).mapInPandas(batches, FRAME_SCHEMA)


AUDIO_FRAMES = 16


def _bytes_in_segments(
    df: DataFrame, *, id_col: str, binary_col: str, segments: int
) -> DataFrame:
    """(id, __len, __pos, __v, __seg) rows: every byte of the payload
    parsed EXACTLY once (one hex transform + one posexplode) and
    pigeonholed into ``segments`` equal windows — the shared byte-parse
    front end of ``perceptual_hash`` (64 segments) and ``frame_energy``
    (16 frames). Payloads shorter than ``segments`` bytes are skipped
    (too short to sample). The input takes the parallelism floor first:
    the per-byte explode is the most expensive map work in the repo and
    must not fuse into a single-task scan stage (operators/
    parallelism.py; no-op on a real multi-split corpus)."""
    from .parallelism import ensure_parallelism

    return (
        ensure_parallelism(df.select(id_col, binary_col))
        .withColumn("__hx", F.hex(F.col(binary_col)))
        .withColumn("__len", F.length(F.col(binary_col)).cast("bigint"))
        .filter(F.col("__len") >= segments)
        .select(
            id_col,
            "__len",
            F.posexplode(
                F.expr(
                    "transform(sequence(1, cast(__len as int)), "
                    "i -> cast(conv(substr(__hx, (i - 1) * 2 + 1, 2), 16, 10) as bigint))"
                )
            ).alias("__pos", "__v"),
        )
        .withColumn("__seg", F.expr(f"cast(({segments} * __pos) div __len as int)"))
    )


def frame_energy(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    binary_col: str = "content",
    frames: int = AUDIO_FRAMES,
) -> DataFrame:
    """Frame-level energy over an opaque binary payload — the AUDIO
    analog of ``perceptual_hash``'s image path: split the byte stream
    into ``frames`` equal windows (the fixed-frame shape of PCM feature
    extraction) and emit per-frame mean squared deviation from the
    byte midpoint (energy/RMS proxy). For real audio this runs on
    decoded PCM samples; the byte-domain stand-in keeps the
    schema/partitioning/fan-out plumbing identical and — unlike a
    decoder — hash-checkable against DuckDB.

    Shape: one hex transform + one posexplode parses each byte exactly
    once; the (doc, frame) fold is a narrow codegen'd aggregate with
    map-side combine, so shuffle volume is ``frames`` rows per doc
    regardless of payload size. Sums stay integer (squared deviations
    of 0..255 bytes); the single division to mean happens at the
    output edge, identically on both engines. Payloads shorter than
    ``frames`` bytes are skipped (same contract as phash/frame
    sampling)."""
    per_byte = _bytes_in_segments(
        df, id_col=id_col, binary_col=binary_col, segments=frames
    )
    dev = F.col("__v") - 128
    return (
        per_byte.groupBy(id_col, F.col("__seg").alias("frame_idx"))
        .agg(
            F.count("*").alias("n_bytes"),
            F.round(F.sum(dev * dev) / F.count("*"), 6).alias("energy"),
        )
        .orderBy(id_col, "frame_idx")
    )


PHASH_SAMPLES = 64


def perceptual_hash(
    df: DataFrame, *, id_col: str = "doc_id", binary_col: str = "content"
) -> DataFrame:
    """aHash-style 64-bit perceptual signature over an opaque binary
    payload: split the payload into 64 equal segments (the byte-domain
    analog of the aHash 8x8 downscale), set bit j iff segment j's mean
    byte value exceeds the whole-payload mean. All comparisons are
    cross-multiplied integers — no float ties. Packed as two 32-bit
    halves named ``simhash_lo`` / ``simhash_hi`` so
    ``dedup.simhash_near_pairs`` consumes the output as-is for the
    Hamming pigeonhole join (signature family composition, not code
    duplication).

    Shape: parse each byte EXACTLY once (one hex transform + one
    posexplode), reduce to (doc, segment) partials map-side, then pack
    the 64 segment rows per doc into the two bit halves with one small
    aggregate. Two design dead-ends informed this:
    - 64 slice-aggregates over a shared array column: Catalyst inlines
      the shared projection into every consumer, re-parsing all bytes
      64x per row in the interpreted HOF evaluator (~100x slower).
    - one wide aggregate with 128 per-segment conditional sums over the
      exploded bytes: every byte row evaluates 128 CASE branches
      (~4x slower than the two-level form).
    Payloads shorter than 64 bytes are skipped (too short to sample —
    same contract as frame sampling). For real images this runs on
    decoded pixel luma; the byte-domain stand-in keeps identical
    signature/join plumbing.
    """
    per_byte = _bytes_in_segments(
        df, id_col=id_col, binary_col=binary_col, segments=PHASH_SAMPLES
    )
    # Partial aggregation collapses the byte stream to <= 64 rows per doc
    # before the shuffle; the per-doc totals ride a window over those
    # tiny groups and the bit pack is a NARROW declarative aggregate —
    # all stages stay in whole-stage codegen. (The previous form packed
    # via collect_list + a higher-order aggregate(): the collect_list
    # forces an un-codegen'd ObjectHashAggregate and the fold runs in
    # the interpreted HOF evaluator; same round-6 lesson as
    # dedup.simhash_expr — narrow codegen'd beats clever-wide.)
    per_seg = per_byte.groupBy(id_col, "__seg").agg(
        F.sum("__v").alias("__ssum"), F.count("*").alias("__slen")
    )
    w = Window.partitionBy(id_col)
    voted = (
        per_seg.withColumn("__tot", F.sum("__ssum").over(w))
        .withColumn("__n", F.sum("__slen").over(w))
        .withColumn("__bit", F.expr("__ssum * __n > __tot * __slen"))
    )
    bit = (
        "CASE WHEN __bit AND __seg {cmp} "
        "THEN shiftleft(CAST(1 AS BIGINT), __seg {off}) ELSE CAST(0 AS BIGINT) END"
    )
    # groupBy(id) reuses the window's hashpartitioning — no third shuffle.
    return voted.groupBy(id_col).agg(
        F.sum(F.expr(bit.format(cmp="< 32", off=""))).alias("simhash_lo"),
        F.sum(F.expr(bit.format(cmp=">= 32", off="- 32"))).alias("simhash_hi"),
    )


def frame_dedup(
    frames: DataFrame, *, id_col: str = "doc_id", hash_col: str = "frame_hash",
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-wide duplicate-frame detection over the output of
    ``sample_frames``: group the sampled frames by content hash and keep
    hashes seen in >= ``min_docs`` distinct payloads — the video-corpus
    analog of exact text dedup (intro cards, logo stings, and re-uploads
    share identical frames long before whole files match).

    One shuffle on the 16-byte frame hash — at 100 TB the frames
    relation is ``n_frames`` rows per video of a few dozen bytes each,
    so this aggregates orders of magnitude less data than the payloads
    themselves; the count-distinct expands the hash groups 2x (doc-id
    dedup within group), bounded by n_frames x docs. Downstream, the
    surviving hash set joins back to prune or cluster the source videos
    (same composition as exact_dedup -> clusters)."""
    return (
        frames.groupBy(hash_col)
        .agg(
            F.count("*").alias("n_frames"),
            F.countDistinct(id_col).alias("n_docs"),
            F.min(id_col).alias("min_doc_id"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .orderBy(hash_col)
    )


def _tiff_packbits_decode(data: bytes, expected: int) -> bytes:
    """PackBits (TIFF 6 §9, compression 32773): control byte n —
    0..127 copies the next n+1 literal bytes, 129..255 repeats the
    next byte 257-n times, 128 is a no-op. Stops at ``expected``
    output bytes (strips may carry pad); short streams raise."""
    out = bytearray()
    pos = 0
    n = len(data)
    while len(out) < expected:
        if pos >= n:
            raise ValueError("truncated PackBits stream")
        c = data[pos]
        pos += 1
        if c == 128:
            continue
        if c < 128:
            if pos + c + 1 > n:
                raise ValueError("PackBits literal run past end")
            out += data[pos : pos + c + 1]
            pos += c + 1
        else:
            if pos >= n:
                raise ValueError("PackBits repeat run past end")
            out += bytes([data[pos]]) * (257 - c)
            pos += 1
    return bytes(out[:expected])


_TIFF_LZW_EARLY = 2


def _tiff_lzw_width(next_code: int) -> int:
    """TIFF LZW code width given the ENCODER's next free entry: the
    9->10/10->11/11->12 steps come when it reaches 2^w - 1
    (511/1023/2047). The decoder's table is one entry behind, hence
    ``codec_core.lzw_width(next_code - 1, ...)``."""
    return lzw_width(next_code - 1, 8, _TIFF_LZW_EARLY)


def _tiff_lzw_decode(data: bytes, expected: int) -> bytearray:
    """TIFF-variant LZW (compression 5): MSB-first bit packing, fixed
    8-bit roots, ClearCode 256 / EOI 257, the ``_tiff_lzw_width``
    schedule. Stops at ``expected`` decompressed bytes."""
    return lzw_decode(
        data, 8, expected, msb=True, early=_TIFF_LZW_EARLY, what="TIFF"
    )


def _tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF-variant LZW writer: inverse of ``_tiff_lzw_decode``
    (MSB-first, early change, clear at table entry 4093 per the
    writers-must-reset convention)."""
    out = BitWriter(msb=True)
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    out.write(256, _tiff_lzw_width(next_code))  # leading clear
    w = b""
    for i in range(len(data)):
        c = data[i : i + 1]
        if w + c in table:
            w += c
            continue
        out.write(table[w], _tiff_lzw_width(next_code))
        table[w + c] = next_code
        next_code += 1
        w = c
        if next_code == 4093:
            out.write(256, _tiff_lzw_width(next_code))
            table = {bytes([j]): j for j in range(256)}
            next_code = 258
    if w:
        out.write(table[w], _tiff_lzw_width(next_code))
        next_code += 1
    out.write(257, _tiff_lzw_width(next_code))  # EOI
    return out.bytes()


def _tiff_packbits_encode(row: bytes) -> bytes:
    """PackBits one ROW (TIFF 6: rows pack independently, never
    across row boundaries): greedy repeat runs >= 3, literals
    otherwise, both capped at 128."""
    out = bytearray()
    i = 0
    n = len(row)
    while i < n:
        run = 1
        while i + run < n and run < 128 and row[i + run] == row[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, row[i]])
            i += run
            continue
        lit_start = i
        i += run
        while i < n and i - lit_start < 128:
            run = 1
            while i + run < n and run < 128 and row[i + run] == row[i]:
                run += 1
            if run >= 3:
                break
            i += run
        lit = row[lit_start : min(i, lit_start + 128)]
        i = lit_start + len(lit)
        out += bytes([len(lit) - 1]) + lit
    return bytes(out)


@quarantine("TIFF stream")
def _decode_tiff(data: bytes) -> DecodedImage:
    """Pure-stdlib TIFF decode (r14; compression legs r15): both byte
    orders (II little-endian / MM big-endian), first-IFD walk over
    the core tags, 8-bit samples, strips. Compression 1
    (uncompressed), 5 (LZW through the shared ``codec_core``
    decoder, MSB-first with the early width steps of
    ``_tiff_lzw_width``) and 32773 (PackBits) decode, each strip an
    independent stream; horizontal differencing (Predictor tag 317 =
    2, the usual LZW companion) is inverted with one vectorized
    cumsum. Photometric 2 (RGB, extra samples/alpha dropped), 1
    (BlackIsZero grayscale), 0 (WhiteIsZero, inverted), and 3
    (palette via the 16-bit-per-channel ColorMap, reduced >>8) are
    supported — the scanned-document / export formats a crawl corpus
    actually contains. CCITT/JPEG-in-TIFF compression, 16-bit
    samples, tiled layout, and planar configuration 2 raise
    ValueError — fail loud, never guess pixels."""
    import struct

    import numpy as np

    if len(data) < 8 or data[:4] not in (b"II*\x00", b"MM\x00*"):
        raise ValueError("not a TIFF payload")
    e = "<" if data[:2] == b"II" else ">"
    (ifd_off,) = struct.unpack_from(e + "I", data, 4)
    if ifd_off + 2 > len(data):
        raise ValueError("truncated TIFF IFD")
    (n_entries,) = struct.unpack_from(e + "H", data, ifd_off)
    type_size = {1: 1, 2: 1, 3: 2, 4: 4}
    tags: dict[int, tuple] = {}
    for i in range(n_entries):
        at = ifd_off + 2 + 12 * i
        if at + 12 > len(data):
            raise ValueError("truncated TIFF IFD entry")
        tag, typ, cnt = struct.unpack_from(e + "HHI", data, at)
        size = type_size.get(typ)
        if size is None:  # RATIONAL etc.: not needed for the core tags
            continue
        total = size * cnt
        if total <= 4:
            off = at + 8
        else:
            (off,) = struct.unpack_from(e + "I", data, at + 8)
        if off + total > len(data):
            raise ValueError("TIFF tag data past end of stream")
        if typ == 3:
            tags[tag] = struct.unpack_from(f"{e}{cnt}H", data, off)
        elif typ == 4:
            tags[tag] = struct.unpack_from(f"{e}{cnt}I", data, off)
        else:  # BYTE / ASCII
            tags[tag] = tuple(data[off : off + cnt])

    def first(tag: int, default=None):
        v = tags.get(tag)
        return v[0] if v else default

    width, height = first(256), first(257)
    if not width or not height:
        raise ValueError("TIFF missing image dimensions")
    check_size("TIFF image", width, height)
    comp = first(259, 1)
    if comp not in (1, 5, 32773):
        raise ValueError(
            "only uncompressed / LZW / PackBits TIFF supported "
            f"(compression={comp})"
        )
    if first(284, 1) != 1:
        raise ValueError("planar-configuration-2 TIFF not supported")
    if 322 in tags or 323 in tags:
        raise ValueError("tiled TIFF not supported")
    predictor = first(317, 1)
    if predictor not in (1, 2):
        raise ValueError(f"unsupported TIFF predictor {predictor}")
    photo = first(262)
    spp = first(277, 1)
    bits = tags.get(258, (8,) * spp)
    if any(b != 8 for b in bits):
        raise ValueError(f"only 8-bit TIFF samples supported (bits={bits})")
    offsets, counts = tags.get(273), tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("TIFF missing strip layout (273/279)")
    rps = first(278, height)
    if rps <= 0:
        raise ValueError("TIFF RowsPerStrip must be positive")
    row_bytes = width * spp
    raw = bytearray()
    rows_left = height
    for o, c in zip(offsets, counts):
        if o + c > len(data):
            raise ValueError("TIFF strip past end of stream")
        strip = data[o : o + c]
        strip_rows = min(rps, rows_left)
        rows_left -= strip_rows
        need_strip = strip_rows * row_bytes
        if comp == 5:
            raw += _tiff_lzw_decode(strip, need_strip)
        elif comp == 32773:
            raw += _tiff_packbits_decode(strip, need_strip)
        else:
            raw += strip
    need = width * height * spp
    if len(raw) < need:
        raise ValueError("truncated TIFF strip data")
    a = np.frombuffer(bytes(raw), np.uint8, count=need).reshape(
        height, width, spp
    )
    if predictor == 2:
        # horizontal differencing inverse: cumulative sum per row per
        # channel, mod 256 — one vectorized pass
        a = (
            np.cumsum(a.astype(np.int64), axis=1) & 0xFF
        ).astype(np.uint8)
    if photo == 2:
        if spp < 3:
            raise ValueError(f"TIFF RGB needs >= 3 samples (spp={spp})")
        rgb = np.ascontiguousarray(a[:, :, :3])  # alpha/extra dropped
    elif photo in (0, 1):
        g = a[:, :, 0]
        if photo == 0:  # WhiteIsZero
            g = 255 - g
        rgb = np.repeat(g[:, :, None], 3, axis=2)
    elif photo == 3:
        cmap = tags.get(320)
        if not cmap or len(cmap) % 3:
            raise ValueError("palette TIFF missing/odd ColorMap")
        cm = (np.asarray(cmap, dtype=np.int64).reshape(3, -1) >> 8).astype(
            np.uint8
        )
        idx = a[:, :, 0]
        if int(idx.max(initial=0)) >= cm.shape[1]:
            raise ValueError("TIFF palette index beyond ColorMap")
        rgb = np.stack([cm[0][idx], cm[1][idx], cm[2][idx]], axis=2)
    else:
        raise ValueError(f"unsupported TIFF photometric {photo}")
    return DecodedImage(width, height, rgb.tobytes())


def _decode_ppm(data: bytes) -> DecodedImage:
    """Pure-stdlib decode of binary Netpbm rasters: PPM (P6, RGB
    triplets), and — late r14, completing the trio — PGM (P5,
    grayscale replicated to RGB) and PBM (P4, 1-bit bitmap: rows
    byte-aligned MSB-first, spec polarity 1 = black). P6/P5 decode at
    maxval <= 255 (1 byte/sample) or exactly 65535 (2 bytes
    big-endian; the high byte is the standard 8-bit rendering, exact
    for the v*257 expansion the ppm-16/pgm-16 write paths emit —
    other wide maxvals fail loud rather than pick a rounding
    convention). ASCII header — magic, whitespace/comment-separated
    width height [maxval], ONE whitespace byte — then raw samples.
    The second struct-free raster family in ``decode_image``'s
    chain."""
    magic = data[:2]
    if magic not in (b"P6", b"P5", b"P4"):
        raise ValueError(
            "not a binary PPM (P6) / PGM (P5) / PBM (P4) payload"
        )
    pos = 2
    n_fields = 2 if magic == b"P4" else 3  # P4 has no maxval field
    fields: list[int] = []
    while len(fields) < n_fields:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if pos < len(data) and data[pos : pos + 1] == b"#":  # comment
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        if pos == start:
            raise ValueError("truncated PPM header")
        fields.append(int(data[start:pos]))
    pos += 1  # exactly one whitespace byte after the last header field
    if magic == b"P4":  # 1-bit bitmap: rows pack MSB-first, byte-
        # aligned per ROW; spec polarity 1 = black -> luma 0
        width, height = fields
        if width <= 0 or height <= 0:
            raise ValueError(f"degenerate PBM dimensions {width}x{height}")
        stride = (width + 7) // 8
        need = stride * height
        px = data[pos : pos + need]
        if len(px) < need:
            raise ValueError("truncated PBM pixel data")
        import numpy as np

        rows = np.frombuffer(px, dtype=np.uint8).reshape(height, stride)
        bits = np.unpackbits(rows, axis=1)[:, :width]
        g = ((1 - bits) * 255).astype(np.uint8)  # 1 = black
        return DecodedImage(
            width, height, np.repeat(g[:, :, None], 3, axis=2).tobytes()
        )
    width, height, maxval = fields
    channels = 3 if magic == b"P6" else 1
    if width <= 0 or height <= 0:
        raise ValueError(f"degenerate PPM/PGM dimensions {width}x{height}")
    if maxval <= 0 or (maxval > 255 and maxval != 65535):
        # 2-byte samples are only exact at the full 65535 range (the
        # v*257 expansion whose high byte inverts losslessly, same
        # convention as the PNG-16 leg); odd wide maxvals would force
        # a rounding convention — fail loud instead of guessing one
        raise ValueError(f"unsupported PPM/PGM maxval {maxval}")
    spb = 2 if maxval == 65535 else 1  # bytes per sample, big-endian
    need = width * height * channels * spb
    px = data[pos : pos + need]
    if len(px) < need:
        raise ValueError("truncated PPM/PGM pixel data")
    import numpy as np

    arr = np.frombuffer(px, dtype=np.uint8)
    if spb == 2:  # 16-bit: high byte is the standard 8-bit rendering
        arr = arr[0::2]
    if channels == 1:  # P5 grayscale: replicate to RGB
        g = arr.reshape(height, width)
        return DecodedImage(
            width, height, np.repeat(g[:, :, None], 3, axis=2).tobytes()
        )
    return DecodedImage(width, height, arr.tobytes())


# Adam7 pass geometry (PNG spec §8.2): (x0, y0, dx, dy) per pass.
# Pass p covers pixels (x0 + i*dx, y0 + j*dy); a pass whose width or
# height rounds to zero contributes NO bytes to the IDAT stream.
_PNG_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_defilter(raw: bytes, offset: int, height: int, stride: int,
                  bpp: int):
    """Defilter one PNG sub-image (the whole raster, or one Adam7
    pass — each pass filters independently with its own scanlines and
    a zeroed prior row) from the inflated IDAT stream at ``offset``.
    Returns the reconstructed ``(height, stride)`` uint8 array.

    Filter vectorization: None and Up are whole-row numpy ops; Sub is
    a per-channel cumulative sum; Average and Paeth carry an intra-row
    serial dependence through recon[x - bpp] (spec-mandated) and run
    as plain-int list loops (~10x numpy scalar indexing) — rows stay
    Arrow-batch-local either way, so the decode cost is per-payload,
    not per-task-serial, at 100 TB."""
    import numpy as np

    need = (stride + 1) * height
    if len(raw) - offset < need:
        raise ValueError("truncated PNG scanline data")
    rows = np.frombuffer(raw, dtype=np.uint8, count=need, offset=offset)
    rows = rows.reshape(height, stride + 1)
    out = np.zeros((height, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.int64)
    for y in range(height):
        ftype = int(rows[y, 0])
        line = rows[y, 1:].astype(np.int64)
        if ftype == 0:  # None
            recon = line
        elif ftype == 1:  # Sub: per-channel cumsum
            if stride % bpp:
                raise ValueError("PNG stride not divisible by bpp")
            recon = (
                np.cumsum(line.reshape(stride // bpp, bpp), axis=0)
                .reshape(stride)
                & 0xFF
            )
        elif ftype == 2:  # Up
            recon = (line + prior) & 0xFF
        elif ftype == 3:  # Average — serial through recon[x - bpp]
            rawline = rows[y, 1:].tobytes()
            pr = prior.tolist()
            rec = [0] * stride
            for x in range(stride):
                left = rec[x - bpp] if x >= bpp else 0
                rec[x] = (rawline[x] + ((left + pr[x]) >> 1)) & 0xFF
            recon = np.asarray(rec, dtype=np.int64)
        elif ftype == 4:  # Paeth — same serial dependence, same form
            rawline = rows[y, 1:].tobytes()
            pr = prior.tolist()
            rec = [0] * stride
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0
                b = pr[x]
                c = pr[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[x] = (rawline[x] + pred) & 0xFF
            recon = np.asarray(rec, dtype=np.int64)
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = recon
        prior = recon.astype(np.int64)
    return out


def _png_samples(out, width: int, channels: int, depth: int):
    """Defiltered byte rows -> ``(h, width, channels)`` uint8 sample
    grid: 16-bit samples reduce to their high byte (the standard 8-bit
    rendering, exact for v*257-expanded streams), sub-byte depths
    unpack MSB-first per the spec (channels == 1 there — only color
    types 0/3 allow depths < 8)."""
    import numpy as np

    h = out.shape[0]
    if depth == 16:
        out = np.ascontiguousarray(out[:, 0::2])
        depth = 8
    if depth == 8:
        return out[:, : width * channels].reshape(h, width, channels)
    bits = np.unpackbits(out, axis=1)[:, : width * depth]
    weights = 1 << np.arange(depth - 1, -1, -1)
    samples = bits.reshape(h, width, depth).astype(np.int64) @ weights
    return samples.astype(np.uint8).reshape(h, width, 1)


def _decode_png(data: bytes) -> DecodedImage:
    """Pure-stdlib PNG decode: truecolor (color type 2 = RGB, 6 =
    RGBA, 8-bit), and — round 14, closing r13 verdict item 3 —
    grayscale (type 0 at depths 1/2/4/8), gray+alpha (type 4, 8-bit)
    and PALETTE (type 3 at depths 1/2/4/8 with PLTE), each in BOTH
    progressive layouts: interlace 0 (sequential) and interlace 1
    (Adam7 — seven independently-filtered sub-images scattered back
    onto the (x0 + i*dx, y0 + j*dy) grid per spec §8.2, empty passes
    contributing no bytes).
    Alpha is dropped (straight RGB, no compositing); sub-byte depths
    unpack MSB-first per the spec and grayscale samples scale to
    8-bit by the exact 255/(2^d-1) integer factor. stdlib ``zlib``
    inflates the concatenated IDAT stream, then the four row
    defilters (Sub/Up/Average/Paeth) run over numpy rows
    (``_png_defilter``) — filters operate on BYTES with the spec's
    floor(bits-per-pixel/8) >= 1 back-distance, so sub-byte images
    filter at distance 1.
    16-bit samples (types 0/2/4/6) reduce to their high byte — the
    standard 8-bit rendering, exact for v*257-expanded streams."""
    import struct
    import zlib

    import numpy as np

    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos = 8
    ihdr = None
    idat: list[bytes] = []
    plte = None
    while pos + 8 <= len(data):
        (size,) = struct.unpack_from(">I", data, pos)
        cid = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError("truncated PNG chunk")
        if cid == b"IHDR":
            if size < 13:
                raise ValueError("truncated PNG IHDR")
            ihdr = struct.unpack_from(">IIBBBBB", body, 0)
        elif cid == b"IDAT":
            idat.append(body)
        elif cid == b"PLTE":
            if size % 3 or size == 0 or size > 768:
                raise ValueError(f"bad PNG PLTE size {size}")
            plte = body
        elif cid == b"IEND":
            break
        pos += 12 + size  # length + type + body + CRC
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT chunk")
    width, height, depth, ctype, comp, filt, interlace = ihdr
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if channels is None:
        raise ValueError(f"unknown PNG color type {ctype}")
    if ctype in (2, 4, 6) and depth not in (8, 16):
        raise ValueError(
            f"bad PNG depth {depth} for color type {ctype}"
        )
    if ctype in (0, 3) and depth not in (1, 2, 4, 8, 16):
        raise ValueError(
            f"bad PNG depth {depth} for color type {ctype}"
        )
    if ctype == 3 and depth == 16:
        raise ValueError("palette PNG cannot be 16-bit (spec)")
    if ctype == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE chunk")
    if comp != 0 or filt != 0 or interlace not in (0, 1):
        raise ValueError(
            f"unsupported PNG scheme (compression={comp}, filter={filt}, "
            f"interlace={interlace})"
        )
    if width <= 0 or height <= 0:
        raise ValueError(f"degenerate PNG dimensions {width}x{height}")
    check_size("PNG image", width, height)
    bpp = max(1, channels * depth // 8)  # filter back-distance, bytes
    # sub-images: the whole raster, or the seven Adam7 passes, each
    # filtered from its own prior row (empty passes: zero bytes)
    subs = []
    for x0, y0, dx, dy in _PNG_ADAM7 if interlace else ((0, 0, 1, 1),):
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        if pw > 0 and ph > 0:
            stride = (pw * channels * depth + 7) // 8
            subs.append((x0, y0, dx, dy, pw, ph, stride))
    need = sum((stride + 1) * ph for *_, ph, stride in subs)
    # inflate no further than the filtered bytes IHDR implies: a
    # deflate bomb (tiny IHDR, huge IDAT output) stops at ``need``;
    # image data past it is ignored, as it always was, but no longer
    # inflated or checked
    inflater = zlib.decompressobj()
    try:
        raw = inflater.decompress(b"".join(idat), need)
    except zlib.error as exc:
        raise ValueError(f"corrupt PNG IDAT stream: {exc}") from exc
    if len(raw) < need and not inflater.eof:
        raise ValueError("corrupt PNG IDAT stream: truncated zlib stream")
    samples = np.zeros((height, width, channels), dtype=np.uint8)
    offset = 0
    for x0, y0, dx, dy, pw, ph, stride in subs:
        out = _png_defilter(raw, offset, ph, stride, bpp)
        offset += (stride + 1) * ph
        samples[y0::dy, x0::dx] = _png_samples(out, pw, channels, depth)
    if ctype == 2:
        return DecodedImage(
            width, height, np.ascontiguousarray(samples).tobytes()
        )
    if ctype == 6:
        rgb = np.ascontiguousarray(samples[:, :, :3])
        return DecodedImage(width, height, rgb.tobytes())
    if ctype == 4:  # gray + alpha: replicate gray, drop alpha
        g = samples[:, :, 0]
        return DecodedImage(
            width, height, np.repeat(g[:, :, None], 3, axis=2).tobytes()
        )
    if ctype == 0:  # grayscale: exact scale to 8-bit, replicate
        g = (
            samples[:, :, 0].astype(np.int64)
            * (255 // ((1 << min(depth, 8)) - 1))
        ).astype(np.uint8)
        return DecodedImage(
            width, height, np.repeat(g[:, :, None], 3, axis=2).tobytes()
        )
    pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
    idx = samples[:, :, 0].astype(np.int64)
    if int(idx.max(initial=0)) >= pal.shape[0]:
        raise ValueError("PNG palette index beyond PLTE")
    return DecodedImage(width, height, pal[idx].tobytes())


# JPEG stream position k -> row-major index into the 8x8 block
# (ITU T.81 Figure 5 zigzag order; a spec constant, duplicated
# independently in tests so a transposition here breaks roundtrip)
_JPEG_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)

_JPEG_SOF_UNSUPPORTED = {
    0xC3: "lossless sequential (SOF3)",
    0xC5: "differential sequential (SOF5)",
    0xC6: "differential progressive (SOF6)",
    0xC7: "differential lossless (SOF7)",
    0xC9: "arithmetic-coded sequential (SOF9)",
    0xCA: "arithmetic-coded progressive (SOF10)",
    0xCB: "arithmetic-coded lossless (SOF11)",
    0xCD: "differential arithmetic sequential (SOF13)",
    0xCE: "differential arithmetic progressive (SOF14)",
    0xCF: "differential arithmetic lossless (SOF15)",
}


def _jpeg_huffman_table(counts: bytes, symbols: bytes) -> tuple:
    """Canonical Huffman table from a DHT segment's BITS/HUFFVAL lists
    (ITU T.81 Annex C), in decode-ready form: ``(lut, exact)`` where
    ``lut[b]`` is the ``(symbol, code_length)`` resolved by the 8-bit
    prefix ``b`` for every code of <= 8 bits (length 0 = no short
    code starts with that byte), and ``exact`` is the full
    {(code_length, code): symbol} map the 9-16-bit tail falls back
    to. Codes assign in symbol order within each length, doubling
    between lengths. The LUT turns the common case (short codes
    dominate any real JPEG stream) into ONE list index instead of up
    to 16 per-bit dict probes — entropy decode is the family's priced
    bottleneck (SCALE.md §24), so the constant matters."""
    lengths = [ln for ln in range(1, 17) for _ in range(counts[ln - 1])]
    if len(symbols) < len(lengths):
        raise ValueError("truncated JPEG DHT segment")
    exact = {
        (length, code): sym
        for sym, code, length in canonical_codes(zip(symbols, lengths))
    }
    lut = [(0, 0)] * 256
    for (length, c), sym in exact.items():
        if length <= 8:
            base = c << (8 - length)
            for i in range(1 << (8 - length)):
                lut[base + i] = (sym, length)
    return lut, exact


class _JpegBitReader:
    """MSB-first bit reader over the entropy-coded scan bytes with
    T.81 byte unstuffing (0xFF 0x00 -> literal 0xFF) and restart-marker
    awareness: hitting 0xFF D0-D7 or any other marker sets ``marker``
    and yields no further bits until ``restart()`` consumes an RSTn."""

    __slots__ = ("data", "pos", "bitbuf", "nbits", "marker")

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bitbuf = 0
        self.nbits = 0
        self.marker = None

    def _fill(self) -> bool:
        if self.marker is not None:
            return False
        d = self.data
        if self.pos >= len(d):
            return False
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
            if nxt == 0x00:
                self.pos += 2
            else:  # a real marker (RSTn, EOI, anything) ends the segment
                self.marker = nxt
                return False
        else:
            self.pos += 1
        # keep only the UNREAD low nbits: without the mask, consumed
        # bits accumulate forever and bitbuf becomes a multi-kilobit
        # Python integer whose every shift is O(scan length) — the
        # single biggest constant in the priced entropy decode
        self.nbits += 8
        self.bitbuf = (((self.bitbuf << 8) | b)
                       & ((1 << self.nbits) - 1))
        return True

    def read_bit(self) -> int:
        if self.nbits == 0 and not self._fill():
            raise ValueError("truncated JPEG entropy-coded segment")
        self.nbits -= 1
        return (self.bitbuf >> self.nbits) & 1

    def receive(self, t: int) -> int:
        if t == 0:
            return 0
        while self.nbits < t and self._fill():
            pass
        if self.nbits >= t:  # whole field in the buffer: one shift
            self.nbits -= t
            return (self.bitbuf >> self.nbits) & ((1 << t) - 1)
        v = 0  # segment tail: bit-by-bit (raises on true exhaustion)
        for _ in range(t):
            v = (v << 1) | self.read_bit()
        return v

    def decode_huffman(self, table: tuple) -> int:
        lut, exact = table
        while self.nbits < 8 and self._fill():
            pass
        if self.nbits >= 8:  # fast path: resolve by the 8-bit prefix
            sym, length = lut[(self.bitbuf >> (self.nbits - 8)) & 0xFF]
            if length:
                self.nbits -= length
                return sym
        code = 0  # 9-16-bit codes, or a segment tail under 8 bits
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = exact.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code (no match in 16 bits)")

    def restart(self, expected: int) -> None:
        """Byte-align, consume the pending RSTn marker, resume."""
        self.bitbuf = 0
        self.nbits = 0
        if self.marker is None:
            # reader hasn't hit the marker yet (aligned segment end):
            # scan forward to it
            d = self.data
            while self.pos + 1 < len(d):
                if d[self.pos] == 0xFF and d[self.pos + 1] != 0x00:
                    self.marker = d[self.pos + 1]
                    break
                self.pos += 1
        if self.marker != 0xD0 + (expected & 7):
            raise ValueError(
                f"JPEG restart-marker mismatch: expected RST{expected & 7}, "
                f"found {self.marker!r}"
            )
        self.pos += 2  # past FF Dn
        self.marker = None


def _jpeg_extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 sign extension of a t-bit received value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _idct_8x8_matrix():
    """Orthonormal 8-point DCT basis A with A[u,x] = C(u)/2 *
    cos((2x+1)u*pi/16); spatial = A.T @ F @ A recovers T.81's IDCT."""
    import math

    import numpy as np

    a = np.zeros((8, 8))
    for u in range(8):
        c = (1.0 / math.sqrt(2.0)) if u == 0 else 1.0
        for x in range(8):
            a[u, x] = 0.5 * c * math.cos((2 * x + 1) * u * math.pi / 16)
    return a


@quarantine("JPEG stream")
def _decode_jpeg(data: bytes) -> DecodedImage:
    """Pure-stdlib JPEG decode, baseline AND progressive (ITU T.81
    SOF0/SOF1 sequential DCT + SOF2 progressive DCT, 8-bit precision):
    marker walk -> DQT/DHT tables (redefinable between scans) -> one
    or more entropy-coded scans accumulated into per-component
    COEFFICIENT arrays -> dequantize -> dezigzag -> batched matrix
    IDCT (one numpy matmul over every block at once) -> chroma
    upsample by pixel replication -> JFIF full-range YCbCr->RGB.

    Progressive scans (r13 verdict item 1 — most real web JPEGs are
    progressive) implement the full T.81 Annex G successive-
    approximation ladder: interleaved/non-interleaved DC first scans
    (point transform Al), DC refinement bits, per-component AC scans
    with spectral selection Ss..Se and EOB-run coding, and AC
    refinement scans with correction bits. DRI restart markers reset
    DC predictors and the EOB run in every scan kind. Because every
    scan only ever writes quantized coefficients, a fully-refined
    progressive stream reconstructs the IDENTICAL coefficients a
    baseline stream of the same quantized blocks carries — pinned by
    the baseline-vs-progressive pixel-equality test.

    Grayscale (1 component) replicates to RGB; sampling factors whose
    h,v divide hmax/vmax (4:4:4 / 4:2:2 / 4:2:0 / 4:1:1) are handled
    via integer plane replication — spec-legal non-divisor pairs
    raise ValueError. Arithmetic-coded, lossless, hierarchical,
    12-bit, and 4-component (CMYK) streams raise ValueError — fail
    loud, never guess pixels.

    Cost shape: entropy decode is a per-block Python loop; IDCT is a
    single broadcast matmul over (blocks_y, blocks_x, 8, 8), all
    inside the caller's Arrow batch — per-payload work, never
    task-serial, same posture as _decode_png."""
    import struct

    import numpy as np

    if len(data) < 4 or data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    quant: dict[int, "np.ndarray"] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None  # (height, width, [(comp_id, h, v, tq), ...])
    progressive = False
    restart_interval = 0
    geom = None  # filled at first SOS
    coefs = None  # per-comp zigzag coefficient arrays (pbh, pbw, 64)
    preds = None
    saw_scan = False
    pos = 2
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"bad JPEG marker alignment at byte {pos}")
        marker = data[pos + 1]
        if marker == 0xFF:  # fill byte (T.81 B.1.1.2) — slide to marker
            pos += 1
            continue
        if marker == 0xD9:  # EOI
            break
        if 0xD0 <= marker <= 0xD7 or marker == 0x01:
            # stray RSTn / TEM between segments: standalone, no length
            pos += 2
            continue
        if pos + 4 > len(data):
            raise ValueError("truncated JPEG marker segment")
        (size,) = struct.unpack_from(">H", data, pos + 2)
        body = data[pos + 4 : pos + 2 + size]
        if len(body) < size - 2:
            raise ValueError("truncated JPEG marker segment")
        if marker == 0xDB:  # DQT: one or more tables per segment
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 0x0F
                off += 1
                if pq == 0:
                    tbl = np.frombuffer(
                        body, dtype=np.uint8, count=64, offset=off
                    ).astype(np.int32)
                    off += 64
                else:  # 16-bit entries
                    tbl = np.array(
                        struct.unpack_from(">64H", body, off), dtype=np.int32
                    )
                    off += 128
                quant[tq] = tbl
        elif marker == 0xC4:  # DHT: one or more tables per segment
            off = 0
            while off < len(body):
                tc, th = body[off] >> 4, body[off] & 0x0F
                counts = body[off + 1 : off + 17]
                n = sum(counts)
                symbols = body[off + 17 : off + 17 + n]
                (huff_dc if tc == 0 else huff_ac)[th] = _jpeg_huffman_table(
                    counts, symbols
                )
                off += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 prog.
            if frame is not None:
                raise ValueError("multiple JPEG SOF markers")
            precision = body[0]
            if precision != 8:
                raise ValueError(
                    f"only 8-bit JPEG precision supported ({precision})"
                )
            height, width = struct.unpack_from(">HH", body, 1)
            ncomp = body[5]
            if ncomp not in (1, 3):
                raise ValueError(
                    f"only 1- or 3-component JPEG supported ({ncomp})"
                )
            comps = []
            for i in range(ncomp):
                cid = body[6 + 3 * i]
                hv = body[7 + 3 * i]
                comps.append((cid, hv >> 4, hv & 0x0F, body[8 + 3 * i]))
            frame = (height, width, comps)
            progressive = marker == 0xC2
        elif marker in _JPEG_SOF_UNSUPPORTED or marker == 0xCC:
            raise ValueError(
                "unsupported JPEG coding: "
                + _JPEG_SOF_UNSUPPORTED.get(marker, "arithmetic conditioning")
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            if geom is None:
                geom = _jpeg_geometry(frame)
                # every block costs at least one bit in the scan that
                # codes its DC (a Huffman code is >= 1 bit), so a frame
                # claiming more blocks than the payload has bits cannot
                # decode: reject it before the coefficient lists exist
                nblocks = sum(bh * bw for *_, bh, bw in geom["blocks"])
                if nblocks > 8 * len(data):
                    raise ValueError(
                        f"JPEG frame {frame[1]}x{frame[0]} implausible "
                        f"for a {len(data)}-byte payload"
                    )
                # plain nested lists during entropy decode: the scan
                # loops mutate single coefficients, where Python-int
                # list ops run ~5x numpy scalar indexing (the same
                # lesson as the PNG defilters); numpy takes over at
                # the batched dequant/IDCT below
                coefs = [
                    [[[0] * 64 for _ in range(pbw)] for _ in range(pbh)]
                    for (pbh, pbw, _bh, _bw) in geom["blocks"]
                ]
                preds = [0] * len(frame[2])
            ns = body[0]
            scan = []  # (comp_idx, dc_table_id, ac_table_id)
            comp_ids = [c[0] for c in frame[2]]
            for i in range(ns):
                cs = body[1 + 2 * i]
                tds = body[2 + 2 * i]
                if cs not in comp_ids:
                    raise ValueError(f"JPEG scan references unknown comp {cs}")
                scan.append((comp_ids.index(cs), tds >> 4, tds & 0x0F))
            ss, se, a = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
            ah, al = a >> 4, a & 0x0F
            if not progressive:
                if ns != len(comp_ids):
                    raise ValueError("partial-scan JPEG not supported")
                ss, se, ah, al = 0, 63, 0, 0
                preds = [0] * len(comp_ids)  # predictors reset per scan
            pos = _jpeg_decode_scan(
                data,
                pos + 2 + size,
                frame,
                geom,
                scan,
                (ss, se, ah, al),
                coefs,
                preds,
                huff_dc,
                huff_ac,
                restart_interval,
                progressive,
            )
            saw_scan = True
            continue
        # APPn / COM / others: skip
        pos += 2 + size
    if frame is None or not saw_scan:
        raise ValueError("JPEG missing SOF/SOS")
    height, width, comps = frame
    hmax = geom["hmax"]
    vmax = geom["vmax"]
    basis = _idct_8x8_matrix()
    order = np.asarray(_JPEG_ZIGZAG)
    out_planes = []
    for ci, (_cid, h, v, tq) in enumerate(comps):
        if tq not in quant:
            raise ValueError(f"JPEG references missing quant table {tq}")
        arr = np.asarray(coefs[ci], dtype=np.float64)
        pbh, pbw = arr.shape[:2]
        dq = arr * quant[tq][None, None, :]
        nat = np.empty_like(dq)
        nat[:, :, order] = dq  # dezigzag every block at once
        blocks = nat.reshape(pbh, pbw, 8, 8)
        spatial = basis.T @ blocks @ basis  # broadcast IDCT over blocks
        plane = (
            spatial.transpose(0, 2, 1, 3).reshape(pbh * 8, pbw * 8) + 128.0
        )
        up = np.repeat(np.repeat(plane, vmax // v, axis=0), hmax // h, axis=1)
        out_planes.append(up[:height, :width])
    if len(out_planes) == 1:
        g = np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)
        rgb = np.stack([g, g, g], axis=2)
    else:
        y, cb, cr = out_planes
        r = y + 1.402 * (cr - 128.0)
        g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        b = y + 1.772 * (cb - 128.0)
        rgb = np.clip(
            np.round(np.stack([r, g, b], axis=2)), 0, 255
        ).astype(np.uint8)
    return DecodedImage(width, height, rgb.tobytes())


def _jpeg_geometry(frame: tuple) -> dict:
    """Block geometry per T.81 A.1.1/A.2.4: MCU grid from the max
    sampling factors; per component both the MCU-PADDED block dims
    (interleaved scans cover them) and the TRUE block dims (ceil of
    the component's own sample dims / 8 — non-interleaved scans cover
    only these). Validates factor ranges and the divisor constraint
    the upsampler needs (r13 advice, low)."""
    height, width, comps = frame
    if height == 0 or width == 0:
        raise ValueError(f"degenerate JPEG dimensions {width}x{height}")
    check_size("JPEG frame", width, height)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if not (1 <= hmax <= 4 and 1 <= vmax <= 4):
        raise ValueError(f"bad JPEG sampling factors (hmax={hmax}, vmax={vmax})")
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    blocks = []
    for _cid, ch, cv, _tq in comps:
        if ch < 1 or cv < 1 or hmax % ch or vmax % cv:
            # upsampling is integer pixel replication (np.repeat by
            # vmax//v, hmax//h), so each factor must divide the max —
            # spec-legal non-divisor pairs (3 vs 2) raise instead of
            # mis-shaping planes (r13 advice, low)
            raise ValueError(
                f"non-divisor JPEG sampling factors ({ch}x{cv} vs "
                f"max {hmax}x{vmax}) not supported"
            )
        cw = -(-width * ch // hmax)  # component sample dims (A.1.1)
        chh = -(-height * cv // vmax)
        blocks.append((mcuy * cv, mcux * ch, -(-chh // 8), -(-cw // 8)))
    return {
        "hmax": hmax,
        "vmax": vmax,
        "mcux": mcux,
        "mcuy": mcuy,
        "blocks": blocks,  # per comp: (padded_bh, padded_bw, true_bh, true_bw)
    }


def _jpeg_decode_scan(
    data: bytes,
    pos: int,
    frame: tuple,
    geom: dict,
    scan: list,
    band: tuple,
    coefs: list,
    preds: list,
    huff_dc: dict,
    huff_ac: dict,
    restart_interval: int,
    progressive: bool,
) -> int:
    """Decode one entropy-coded scan (baseline full-band, or any of
    the four progressive scan kinds) into the per-component zigzag
    coefficient arrays; returns the byte offset of the next marker.
    Restart markers reset DC predictors AND the EOB run (T.81 G.1.2)."""
    _height, _width, comps = frame
    ss, se, ah, al = band
    ns = len(scan)
    if progressive:
        if ss == 0 and se != 0:
            raise ValueError(
                "progressive JPEG scan cannot mix DC and AC bands "
                f"(Ss={ss}, Se={se})"
            )
        if ss > 0 and ns != 1:
            raise ValueError(
                "progressive JPEG AC scan must be single-component"
            )
        if not (se < 64 and ss <= se and al < 14):
            raise ValueError(f"bad progressive JPEG band (Ss={ss}, Se={se})")
    dc_scan = ss == 0
    # table presence scoped by scan kind: DC-refine scans use no
    # Huffman table at all; AC scans never touch a DC table
    tables = []
    for ci, dc_id, ac_id in scan:
        dc_tbl = ac_tbl = None
        if not progressive:
            if dc_id not in huff_dc or ac_id not in huff_ac:
                raise ValueError("JPEG references missing Huffman table")
            dc_tbl, ac_tbl = huff_dc[dc_id], huff_ac[ac_id]
        elif dc_scan and ah == 0:
            if dc_id not in huff_dc:
                raise ValueError("JPEG references missing Huffman table")
            dc_tbl = huff_dc[dc_id]
        elif not dc_scan:
            if ac_id not in huff_ac:
                raise ValueError("JPEG references missing Huffman table")
            ac_tbl = huff_ac[ac_id]
        tables.append((ci, dc_tbl, ac_tbl))
    reader = _JpegBitReader(data, pos)
    state = {"eobrun": 0}
    rst_count = 0

    def decode_block(zz, ci, dc_tbl, ac_tbl):
        if not progressive:
            _jpeg_block_baseline(reader, zz, ci, dc_tbl, ac_tbl, preds)
        elif dc_scan and ah == 0:
            t = reader.decode_huffman(dc_tbl)
            if t > 15:
                raise ValueError(f"invalid JPEG DC category {t}")
            preds[ci] += _jpeg_extend(reader.receive(t), t)
            zz[0] = preds[ci] << al
        elif dc_scan:
            if reader.read_bit():
                zz[0] |= 1 << al
        elif ah == 0:
            state["eobrun"] = _jpeg_block_ac_first(
                reader, ac_tbl, zz, ss, se, al, state["eobrun"]
            )
        else:
            state["eobrun"] = _jpeg_block_ac_refine(
                reader, ac_tbl, zz, ss, se, al, state["eobrun"]
            )

    def maybe_restart(unit: int):
        nonlocal rst_count
        if restart_interval and unit and unit % restart_interval == 0:
            reader.restart(rst_count)
            rst_count = (rst_count + 1) & 7
            for i in range(len(preds)):
                preds[i] = 0
            state["eobrun"] = 0

    if ns > 1:  # interleaved: MCU order over padded block dims
        mcux, mcuy = geom["mcux"], geom["mcuy"]
        for m in range(mcux * mcuy):
            maybe_restart(m)
            my, mx = divmod(m, mcux)
            for ci, dc_tbl, ac_tbl in tables:
                _cid, ch, cv, _tq = comps[ci]
                arr = coefs[ci]
                for by in range(cv):
                    for bx in range(ch):
                        decode_block(
                            arr[my * cv + by][mx * ch + bx],
                            ci,
                            dc_tbl,
                            ac_tbl,
                        )
    else:  # non-interleaved: raster order over the comp's TRUE dims
        ci, dc_tbl, ac_tbl = tables[0]
        _pbh, _pbw, bh, bw = geom["blocks"][ci]
        arr = coefs[ci]
        for b in range(bh * bw):
            maybe_restart(b)
            decode_block(arr[b // bw][b % bw], ci, dc_tbl, ac_tbl)

    # advance to the next marker: skip stuffed FF00 pairs and any
    # trailing pad bits; leave pos at the 0xFF of a real marker
    p = reader.pos
    while p + 1 < len(data):
        if data[p] == 0xFF and data[p + 1] != 0x00:
            return p
        p += 2 if data[p] == 0xFF else 1
    raise ValueError("JPEG scan data runs past end of stream")


def _jpeg_block_baseline(reader, zz, ci, dc_tbl, ac_tbl, preds) -> None:
    """T.81 F.2: one full sequential block — DC diff + AC run/size."""
    t = reader.decode_huffman(dc_tbl)
    if t > 15:  # 8-bit baseline caps DC category at 11; a corrupt
        # table must not build unbounded ints
        raise ValueError(f"invalid JPEG DC category {t}")
    preds[ci] += _jpeg_extend(reader.receive(t), t)
    zz[0] = preds[ci]
    k = 1
    while k < 64:
        rs = reader.decode_huffman(ac_tbl)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL: sixteen zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("JPEG AC run past block end")
        zz[k] = _jpeg_extend(reader.receive(s), s)
        k += 1


def _jpeg_block_ac_first(reader, tbl, zz, ss, se, al, eobrun) -> int:
    """T.81 G.1.2.2: first AC scan of a band — run/size coding with
    EOBn run-length codes; new coefficients enter at magnitude << Al."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = reader.decode_huffman(tbl)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += reader.receive(r)
            break
        k += r
        if k > se:
            raise ValueError("JPEG AC run past band end")
        zz[k] = _jpeg_extend(reader.receive(s), s) << al
        k += 1
    return eobrun


def _jpeg_block_ac_refine(reader, tbl, zz, ss, se, al, eobrun) -> int:
    """T.81 G.1.2.3: AC refinement — newly-nonzero coefficients enter
    at +-1<<Al; every already-nonzero coefficient passed on the way
    reads one correction bit (adding 1<<Al toward its sign when the
    bit is set and that bit position is still clear)."""
    p1 = 1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = reader.decode_huffman(tbl)
            r, s = rs >> 4, rs & 0x0F
            val = 0
            if s:
                if s != 1:
                    raise ValueError("invalid JPEG AC refinement magnitude")
                val = p1 if reader.read_bit() else -p1
            elif r != 15:
                eobrun = 1 << r
                if r:
                    eobrun += reader.receive(r)
                break  # correction tail below handles this block
            # advance over r zero-history coefficients, correcting the
            # nonzero-history ones encountered on the way (ZRL: r=15
            # plus the terminating zero = 16 positions)
            while k <= se:
                if zz[k] != 0:
                    if reader.read_bit() and (zz[k] & p1) == 0:
                        zz[k] += p1 if zz[k] >= 0 else -p1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                zz[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:  # EOB-run block: correction bits only
            if zz[k] != 0:
                if reader.read_bit() and (zz[k] & p1) == 0:
                    zz[k] += p1 if zz[k] >= 0 else -p1
            k += 1
        eobrun -= 1
    return eobrun


def _decode_wav(data: bytes) -> tuple[int, int, list[int]]:
    """Pure-stdlib decode of PCM WAV (RIFF/WAVE, format 1, 8/16-bit):
    (sample_rate, channels, samples) with samples interleaved as
    signed ints (8-bit unsigned recentred to signed, per the spec) —
    the audio leg of the stdlib decode family (r11 verdict item 6
    named BMP/PPM/WAV as the struct-parseable trio). Walks RIFF chunks
    (fmt / data can be preceded by LIST etc.); compressed or float
    formats raise ValueError — fail loud, never guess samples."""
    import struct

    if len(data) < 44 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    raw = None
    while pos + 8 <= len(data):
        cid, size = struct.unpack_from("<4sI", data, pos)
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:
                # r12 advice (medium): a truncated fmt chunk must raise
                # ValueError, not struct.error — the featurizers'
                # quarantine net catches the former only
                raise ValueError(
                    f"truncated WAV fmt chunk ({len(body)} bytes < 16)"
                )
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            raw = body
        pos += 8 + size + (size & 1)  # chunks pad to even
    if fmt is None or raw is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_fmt, channels, sample_rate, _brate, _align, bits = fmt
    if audio_fmt == 7 and bits == 8:  # G.711 mu-law (r14)
        return sample_rate, channels, [_ulaw2linear(b) for b in raw]
    if audio_fmt == 6 and bits == 8:  # G.711 A-law (r14)
        return sample_rate, channels, [_alaw2linear(b) for b in raw]
    if audio_fmt != 1 or bits not in (8, 16):
        raise ValueError(
            f"only PCM 8/16-bit and G.711 u-law/A-law supported "
            f"(fmt={audio_fmt}, bits={bits})"
        )
    if bits == 16:
        n = len(raw) // 2
        samples = list(struct.unpack(f"<{n}h", raw[: n * 2]))
    else:
        samples = [b - 128 for b in raw]
    return sample_rate, channels, samples


def _ulaw2linear(b: int) -> int:
    """ITU-T G.711 mu-law expansion (the public-spec integer form):
    codeword byte -> 16-bit linear sample. Bias 0x84, 3-bit segment,
    4-bit mantissa; max magnitude 32124."""
    u = (~b) & 0xFF
    t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x07)
    return (0x84 - t) if (u & 0x80) else (t - 0x84)


def _linear2ulaw(s: int) -> int:
    """G.711 mu-law compression: linear -> codeword. Canonical
    segment search; clips past +-32635 per the spec. Inverts
    `_ulaw2linear` exactly on every canonical codeword (0x7F, the
    non-canonical negative zero, re-encodes as 0xFF — pinned)."""
    sign = 0x80 if s < 0 else 0
    if s < 0:
        s = -s
    s = min(s, 32635) + 0x84
    seg = 7
    for i in range(8):
        if s < (0x100 << i):
            seg = i
            break
    return (~(sign | (seg << 4) | ((s >> (seg + 3)) & 0x0F))) & 0xFF


def _alaw2linear(b: int) -> int:
    """ITU-T G.711 A-law expansion: codeword -> linear (sign bit SET
    means positive, even bits inverted by the 0x55 mask)."""
    a = b ^ 0x55
    seg = (a >> 4) & 0x07
    q = a & 0x0F
    if seg == 0:
        t = (q << 4) + 8
    elif seg == 1:
        t = (q << 4) + 0x108
    else:
        t = ((q << 4) + 0x108) << (seg - 1)
    return t if (a & 0x80) else -t


def _linear2alaw(s: int) -> int:
    """G.711 A-law compression: inverts `_alaw2linear` exactly on all
    256 codewords (A-law has no double-zero — pinned in tests)."""
    sign = 0x80 if s >= 0 else 0
    if s < 0:
        s = -s
    s = min(s, 32767)
    if s >= 0x100:
        seg = 1
        v = s >> 8
        while v > 1 and seg < 7:
            v >>= 1
            seg += 1
        q = (s >> (seg + 3)) & 0x0F
    else:
        seg = 0
        q = s >> 4
    return (sign | (seg << 4) | q) ^ 0x55


def encode_audio_wav(
    samples: list,
    *,
    sample_rate: int = 8000,
    channels: int = 1,
    bits: int = 16,
    encoding: str = "pcm",
) -> bytes:
    """Audio WRITE path (r14): a RIFF/WAVE container inverting
    ``_decode_wav`` exactly. ``encoding="pcm"``: 16-bit signed
    little-endian or 8-bit unsigned (samples recentred by +128 per
    the spec, the exact inverse of the decoder's -128);
    ``"ulaw"``/``"alaw"``: G.711 companded 8-bit (WAVE format codes
    7/6) — linear samples compress through `_linear2ulaw` /
    `_linear2alaw`, which invert the decoder's expanders exactly on
    every canonical codeword value (lossy quantization otherwise, as
    the codec defines). ``samples`` are channel-interleaved signed
    ints; out-of-range PCM values raise rather than wrap (never
    corrupt audio silently). The test-vector generator for
    ``decoded_wav_check``, the audio leg's differential gate."""
    import struct

    n = len(samples)
    if n == 0 or n % max(channels, 1):
        raise ValueError("sample count must be a positive multiple of channels")
    if encoding == "ulaw":
        fmt_code, bits = 7, 8
        raw = bytes(_linear2ulaw(int(s)) for s in samples)
    elif encoding == "alaw":
        fmt_code, bits = 6, 8
        raw = bytes(_linear2alaw(int(s)) for s in samples)
    elif encoding != "pcm":
        raise ValueError(f"unsupported WAV encoding {encoding!r}")
    elif bits == 16:
        fmt_code = 1
        if any(not (-32768 <= s <= 32767) for s in samples):
            raise ValueError("16-bit WAV sample out of range")
        raw = struct.pack(f"<{n}h", *samples)
    elif bits == 8:
        fmt_code = 1
        if any(not (-128 <= s <= 127) for s in samples):
            raise ValueError("8-bit WAV sample out of range")
        raw = bytes(s + 128 for s in samples)
    else:
        raise ValueError(f"only 8/16-bit PCM WAV supported (bits={bits})")
    block_align = channels * bits // 8
    fmt = struct.pack(
        "<HHIIHH", fmt_code, channels, sample_rate,
        sample_rate * block_align, block_align, bits,
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(raw)) + raw
        + (b"\x00" if len(raw) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


DECODED_AUDIO_SCHEMA = (
    "doc_id bigint, sample_rate int, channels int, n_samples bigint, "
    "frame_idx int, rms double"
)


def decoded_frame_energy(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    binary_col: str = "content",
    frames: int = AUDIO_FRAMES,
) -> DataFrame:
    """REAL decode -> per-frame RMS over PCM WAV payloads via Arrow
    mapInPandas — the decoded-sample counterpart of ``frame_energy``'s
    byte-domain stand-in: samples split into ``frames`` equal windows,
    per-window root-mean-square amplitude (channel-interleaved, the
    mono-mixdown-free form). Payloads that aren't decodable PCM WAV,
    or are shorter than ``frames`` samples, are skipped — the same
    quarantine posture as ``decoded_image_features``. One input row
    fans out to ``frames`` rows; partitioning carries through."""
    import math

    import numpy as np

    id_name, bin_name = id_col, binary_col

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, rates, chans, counts, idxs, rmss = [], [], [], [], [], []
            for i, raw in zip(pdf[id_name], pdf[bin_name]):
                if raw is None:
                    continue
                try:
                    rate, ch, samples = _decode_wav(bytes(raw))
                except ValueError:
                    continue
                n = len(samples)
                if n < frames:
                    continue
                sq = np.asarray(samples, dtype=np.int64) ** 2
                for k in range(frames):
                    lo, hi = k * n // frames, (k + 1) * n // frames
                    ids.append(int(i))
                    rates.append(rate)
                    chans.append(ch)
                    counts.append(n)
                    idxs.append(k)
                    # exact-int sum of squares, one division, one sqrt
                    # — float-identical to the scalar form
                    rmss.append(
                        math.sqrt(float(sq[lo:hi].sum()) / (hi - lo))
                    )
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "sample_rate": pd.array(rates, dtype="int32"),
                    "channels": pd.array(chans, dtype="int32"),
                    "n_samples": pd.array(counts, dtype="int64"),
                    "frame_idx": pd.array(idxs, dtype="int32"),
                    "rms": pd.array(rmss, dtype="float64"),
                }
            )

    return (
        df.filter(F.col(binary_col).isNotNull())
        .select(id_col, binary_col)
        .mapInPandas(batches, DECODED_AUDIO_SCHEMA)
    )


def _decode_dib(body: bytes, width: int, height: int, bpp: int) -> DecodedImage:
    """Headerless Windows DIB frame (an AVI '00db' chunk payload):
    the BMP pixel layout without the BITMAPFILEHEADER — bottom-up
    (or top-down when height < 0) BGR rows padded to 4 bytes. Only
    24-bit uncompressed is supported; fail loud otherwise."""
    import numpy as np

    if bpp != 24:
        raise ValueError(f"only 24-bit DIB frames supported (bpp={bpp})")
    top_down = height < 0
    h = abs(height)
    row_size = (width * 3 + 3) & ~3
    if row_size * h > len(body):
        raise ValueError("truncated DIB frame")
    raw = np.frombuffer(
        body, dtype=np.uint8, count=row_size * h
    ).reshape(h, row_size)[:, : width * 3]
    if not top_down:
        raw = raw[::-1]
    rgb = raw.reshape(h, width, 3)[:, :, ::-1]
    return DecodedImage(width, h, rgb.tobytes())


def _bounded_frames(what: str, images: Iterator[DecodedImage]) -> list[DecodedImage]:
    """Collect a video's decoded frames, raising once their total bytes
    pass ``MAX_DECODED_BYTES``."""
    frames: list[DecodedImage] = []
    total = 0
    for img in images:
        total += len(img.pixels)
        check_frames(what, total)
        frames.append(img)
    return frames


def _parse_avi(data: bytes) -> tuple[float, list[DecodedImage]]:
    """Pure-stdlib RIFF/AVI container parse -> (fps, decoded frames).
    Walks hdrl (avih frame timing; the first 'vids' strl's strf
    BITMAPINFOHEADER) and the movi LIST; video chunks of stream 00:
    '00dc' compressed frames decode via the stdlib chain (MJPEG —
    JPEG-per-frame — rides the r13 baseline JPEG decoder), '00db'
    uncompressed frames via the DIB layout. Nested 'rec ' LISTs are
    descended. Any frame no decoder reads, or a frame past the
    ``MAX_DECODED_BYTES`` total, raises ValueError — the
    payload-level quarantine in the featurizer skips the whole
    document, never poisons the task. No video-codec bitstreams
    (H.264 etc.) are guessed at: fail loud."""
    import struct

    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")

    def chunks(pos: int, end: int):
        while pos + 8 <= end:
            cid, size = struct.unpack_from("<4sI", data, pos)
            yield cid, pos + 8, min(size, end - pos - 8)
            pos += 8 + size + (size & 1)

    usec_per_frame = 0
    bmp_w = bmp_h = bmp_bpp = None

    def walk_movi(pos: int, end: int) -> Iterator[DecodedImage]:
        for cid, body_start, size in chunks(pos, end):
            body = data[body_start : body_start + size]
            if cid == b"LIST" and body[:4] == b"rec ":
                yield from walk_movi(body_start + 4, body_start + size)
            elif cid == b"00dc":
                yield decode_image(body)
            elif cid == b"00db":
                if bmp_w is None:
                    raise ValueError("AVI 00db frame before strf header")
                yield _decode_dib(body, bmp_w, bmp_h, bmp_bpp)

    def walk() -> Iterator[DecodedImage]:
        nonlocal usec_per_frame, bmp_w, bmp_h, bmp_bpp
        for cid, body_start, size in chunks(12, len(data)):
            if cid != b"LIST":
                continue
            subtype = data[body_start : body_start + 4]
            if subtype == b"hdrl":
                for hcid, hstart, hsize in chunks(body_start + 4, body_start + size):
                    if hcid == b"avih" and hsize >= 4:
                        (usec_per_frame,) = struct.unpack_from("<I", data, hstart)
                    elif hcid == b"LIST" and data[hstart : hstart + 4] == b"strl":
                        is_vids = False
                        for scid, sstart, ssize in chunks(hstart + 4, hstart + hsize):
                            if scid == b"strh" and ssize >= 4:
                                is_vids = data[sstart : sstart + 4] == b"vids"
                            elif scid == b"strf" and is_vids and ssize >= 40:
                                _bsz, w, h = struct.unpack_from("<Iii", data, sstart)
                                _pl, bpp = struct.unpack_from("<HH", data, sstart + 12)
                                bmp_w, bmp_h, bmp_bpp = w, h, bpp
            elif subtype == b"movi":
                yield from walk_movi(body_start + 4, body_start + size)

    frames = _bounded_frames("AVI video", walk())
    if not frames:
        raise ValueError("AVI contains no decodable video frames")
    fps = 1e6 / usec_per_frame if usec_per_frame else 0.0
    return fps, frames


DECODED_VIDEO_SCHEMA = (
    "doc_id bigint, frame_idx int, n_frames int, width int, height int, "
    "fps double, phash64 bigint, mean_luma double"
)


def decoded_video_frame_features(
    df: DataFrame, *, id_col: str = "doc_id", binary_col: str = "content"
) -> DataFrame:
    """REAL video decode -> per-frame features over AVI payloads via
    Arrow mapInPandas: each container parses with ``_parse_avi``
    (MJPEG frames ride the stdlib JPEG decoder, '00db' frames the DIB
    layout) and every frame yields its decoded-pixel 64-bit
    average-hash — the decoded-domain twin of the byte-domain
    ``sample_frames``/``frame_dedup`` pair, and the input a shot-change
    or frame-level near-dup pass keys on. Undecodable payloads are
    SKIPPED (quarantine posture of every decode stage here); one input
    row fans out to n_frames rows; partitioning carries through."""
    id_name, bin_name = id_col, binary_col

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, ns, ws, hs = [], [], [], [], []
            fpss, phs, lms = [], [], []
            for i, raw in zip(pdf[id_name], pdf[bin_name]):
                if raw is None:
                    continue
                payload = bytes(raw)
                try:
                    if payload[:6] in (b"GIF87a", b"GIF89a"):
                        fps, frames = _parse_gif(payload)  # animated GIF
                    elif payload[4:8] == b"ftyp":  # ISO-BMFF (r14)
                        fps, frames = _parse_mp4(payload)
                    else:
                        fps, frames = _parse_avi(payload)
                except (NotImplementedError, ValueError):
                    continue
                for k, img in enumerate(frames):
                    ids.append(int(i))
                    idxs.append(k)
                    ns.append(len(frames))
                    ws.append(img.width)
                    hs.append(img.height)
                    fpss.append(fps)
                    # one luma pass feeds phash AND the brightness
                    # summary (the r12-advice shared-pass rule)
                    luma = img.luma()
                    ph = pixel_phash(img, luma=luma)
                    phs.append(ph - (1 << 64) if ph >= (1 << 63) else ph)
                    # exact-int sum, ONE division — oracle-exact when
                    # the pixel count is a power of two
                    lms.append(float(luma.sum()) / luma.size)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": pd.array(idxs, dtype="int32"),
                    "n_frames": pd.array(ns, dtype="int32"),
                    "width": pd.array(ws, dtype="int32"),
                    "height": pd.array(hs, dtype="int32"),
                    "fps": pd.array(fpss, dtype="float64"),
                    "phash64": pd.array(phs, dtype="int64"),
                    "mean_luma": pd.array(lms, dtype="float64"),
                }
            )

    return (
        df.filter(F.col(binary_col).isNotNull())
        .select(id_col, binary_col)
        .mapInPandas(batches, DECODED_VIDEO_SCHEMA)
    )


def encode_image(img: DecodedImage, fmt: str, **kwargs) -> bytes:
    """Image WRITE path: serialize a decoded RGB raster as
    'bmp' (uncompressed 24-bit, bottom-up), 'ppm' (binary P6),
    'png' (8-bit RGB, filter 0, one zlib IDAT), or 'jpeg'
    (baseline-sequential, lossy; kwargs: quality / subsample / gray —
    see ``_encode_jpeg_baseline``). The lossless three invert the
    stdlib members of ``decode_image``'s chain exactly — they are also
    the test-vector generator for ``decoded_phash_check``, the
    differential gate that gives the decode family driver-oracle
    evidence: any asymmetry between an encoder here and its decoder
    breaks that hash match."""
    import struct
    import zlib

    import numpy as np

    w, h = img.width, img.height
    rgb = np.frombuffer(img.pixels, dtype=np.uint8).reshape(h, w, 3)
    if fmt == "ppm":
        return b"P6\n%d %d\n255\n" % (w, h) + rgb.tobytes()
    if fmt == "ppm-16":  # maxval 65535, v*257 big-endian (inverts exactly)
        wide = (rgb.astype(np.uint16) * 257).astype(">u2")
        return b"P6\n%d %d\n65535\n" % (w, h) + wide.tobytes()
    if fmt in ("pgm", "pgm-16"):
        # P5 requires a true gray raster (r == g == b) — same honesty
        # contract as png-gray: never silently drop chroma
        if not (
            np.array_equal(rgb[:, :, 0], rgb[:, :, 1])
            and np.array_equal(rgb[:, :, 1], rgb[:, :, 2])
        ):
            raise ValueError("pgm requires r == g == b pixels")
        g = rgb[:, :, 0]
        if fmt == "pgm":
            return b"P5\n%d %d\n255\n" % (w, h) + g.tobytes()
        wide = (g.astype(np.uint16) * 257).astype(">u2")
        return b"P5\n%d %d\n65535\n" % (w, h) + wide.tobytes()
    if fmt == "pbm":
        # P4 1-bit bitmap: only a strictly bi-level 0/255 gray raster
        # is expressible — anything else would quantize silently
        if not (
            np.array_equal(rgb[:, :, 0], rgb[:, :, 1])
            and np.array_equal(rgb[:, :, 1], rgb[:, :, 2])
        ):
            raise ValueError("pbm requires r == g == b pixels")
        g = rgb[:, :, 0]
        if not np.isin(g, (0, 255)).all():
            raise ValueError("pbm requires strictly 0/255 pixels")
        bits = (g == 0).astype(np.uint8)  # spec polarity: 1 = black
        packed = np.packbits(bits, axis=1)  # per-row, byte-aligned
        return b"P4\n%d %d\n" % (w, h) + packed.tobytes()
    if fmt == "bmp":
        row_size = (w * 3 + 3) & ~3
        pix = bytearray()
        for y in reversed(range(h)):  # bottom-up BGR, rows pad to 4
            row = rgb[y, :, ::-1].tobytes()
            pix += row + b"\x00" * (row_size - len(row))
        header = b"BM" + struct.pack(
            "<IHHI", 54 + len(pix), 0, 0, 54
        ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 0, 0, 0, 0)
        return header + bytes(pix)
    if fmt == "bmp-32":  # BGRx rows (32-bit BI_RGB), no row padding needed
        bgrx = np.zeros((h, w, 4), dtype=np.uint8)
        bgrx[:, :, :3] = rgb[:, :, ::-1]
        pix = b"".join(bgrx[y].tobytes() for y in reversed(range(h)))
        header = b"BM" + struct.pack(
            "<IHHI", 54 + len(pix), 0, 0, 54
        ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 32, 0, len(pix), 0, 0, 0, 0)
        return header + pix
    if fmt == "bmp-pal":  # 8-bit palettized, honest <=256-unique bound
        flat = rgb.reshape(-1, 3)
        colors, idx = np.unique(flat, axis=0, return_inverse=True)
        if colors.shape[0] > 256:
            raise ValueError(
                f"bmp-pal needs <= 256 unique colors ({colors.shape[0]} "
                "found); quantization is a modeling choice this engine "
                "won't make silently"
            )
        n = colors.shape[0]
        table = np.zeros((n, 4), dtype=np.uint8)
        table[:, :3] = colors[:, ::-1]  # RGB -> BGRx
        rows = idx.astype(np.uint8).reshape(h, w)
        row_size = (w + 3) & ~3
        pix = bytearray()
        for y in reversed(range(h)):
            pix += rows[y].tobytes() + b"\x00" * (row_size - w)
        data_offset = 54 + 4 * n
        header = b"BM" + struct.pack(
            "<IHHI", data_offset + len(pix), 0, 0, data_offset
        ) + struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(pix), 0, 0, n, 0
        )
        return header + table.tobytes() + bytes(pix)
    if fmt in ("png", "png-i", "png-gray", "png-pal", "png-16"):
        def chunk(cid: bytes, body: bytes) -> bytes:
            return (
                struct.pack(">I", len(body)) + cid + body
                + struct.pack(">I", zlib.crc32(cid + body) & 0xFFFFFFFF)
            )

        # interlace: 'png-i' is the rotation-facing Adam7 truecolor
        # name; the kwarg interlaces ANY of the png family variants
        interlaced = bool(kwargs.pop("interlace", False)) or fmt == "png-i"
        extra = b""
        depth = 8
        if fmt in ("png", "png-i"):
            ctype, pix = 2, rgb  # (h, w, 3)
        elif fmt == "png-16":
            # truecolor at 16 bits/sample: v -> v*257 = (v<<8)|v, the
            # exact expansion whose high byte inverts losslessly
            ctype, depth = 2, 16
            pix = rgb.astype(np.uint16) * 257  # (h, w, 3) uint16
        elif fmt == "png-gray":
            # color type 0 requires a true gray raster (r == g == b);
            # anything else would silently drop chroma — fail instead
            if not (
                np.array_equal(rgb[:, :, 0], rgb[:, :, 1])
                and np.array_equal(rgb[:, :, 1], rgb[:, :, 2])
            ):
                raise ValueError("png-gray requires r == g == b pixels")
            ctype, pix = 0, rgb[:, :, :1]  # (h, w, 1)
        else:  # png-pal: color type 3, honest <=256-unique constraint
            flat = rgb.reshape(-1, 3)
            colors, idx = np.unique(flat, axis=0, return_inverse=True)
            if colors.shape[0] > 256:
                raise ValueError(
                    f"png-pal needs <= 256 unique colors "
                    f"({colors.shape[0]} found); quantization is a "
                    "modeling choice this engine won't make silently"
                )
            ctype, pix = 3, idx.astype(np.uint8).reshape(h, w, 1)
            extra = chunk(b"PLTE", colors.astype(np.uint8).tobytes())

        def pack(sub) -> bytes:
            # one sub-image (whole raster, or one Adam7 pass) as
            # filter-0 scanlines; 16-bit samples big-endian per spec
            if depth == 16:
                return b"".join(
                    b"\x00" + sub[y].astype(">u2").tobytes()
                    for y in range(sub.shape[0])
                )
            return b"".join(
                b"\x00" + sub[y].tobytes() for y in range(sub.shape[0])
            )

        if interlaced:  # Adam7: empty passes contribute zero bytes
            raw = b"".join(
                pack(pix[y0::dy, x0::dx])
                for x0, y0, dx, dy in _PNG_ADAM7
                if (w - x0 + dx - 1) // dx > 0 and (h - y0 + dy - 1) // dy > 0
            )
        else:
            raw = pack(pix)
        ihdr = struct.pack(
            ">IIBBBBB", w, h, depth, ctype, 0, 0, 1 if interlaced else 0
        )
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + extra
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )
    if fmt == "jpeg":
        return _encode_jpeg_baseline(img, **kwargs)
    if fmt == "pjpeg":
        return _encode_jpeg_progressive(img, **kwargs)
    if fmt == "gif":
        return _encode_gif(img)
    if fmt in ("webp", "webp-sg"):
        # lossless VP8L; the -sg leg adds the subtract-green transform
        # so the transform machinery sits on an oracle-checked path
        from .webp import encode_webp_vp8l

        return encode_webp_vp8l(img, subtract_green=(fmt == "webp-sg"))
    if fmt in ("tiff", "tiff-lzw", "tiff-pb"):
        # minimal little-endian TIFF: one RGB strip at offset 8,
        # BitsPerSample array + IFD after it. tiff-lzw compresses the
        # strip with the MSB-first early-change LZW variant AFTER
        # horizontal differencing (Predictor 2, the real-world LZW
        # companion); tiff-pb packs each row with PackBits (32773)
        if fmt == "tiff-lzw":
            diff = rgb.astype(np.int64)
            diff[:, 1:, :] -= rgb[:, :-1, :].astype(np.int64)
            px = _tiff_lzw_encode((diff & 0xFF).astype(np.uint8).tobytes())
            comp_tag, pred_tag = 5, 2
        elif fmt == "tiff-pb":
            px = b"".join(
                _tiff_packbits_encode(rgb[y].tobytes()) for y in range(h)
            )
            comp_tag, pred_tag = 32773, 1
        else:
            px = rgb.tobytes()
            comp_tag, pred_tag = 1, 1
        pad = b"\x00" if len(px) & 1 else b""  # word-align what follows
        bits_at = 8 + len(px) + len(pad)
        ifd_at = bits_at + 6
        short = lambda v: struct.pack("<HH", v, 0)  # noqa: E731
        entries = [
            (256, 3, 1, short(w)),
            (257, 3, 1, short(h)),
            (258, 3, 3, struct.pack("<I", bits_at)),
            (259, 3, 1, short(comp_tag)),
            (262, 3, 1, short(2)),  # RGB
            (273, 4, 1, struct.pack("<I", 8)),
            (277, 3, 1, short(3)),
            (278, 4, 1, struct.pack("<I", h)),
            (279, 4, 1, struct.pack("<I", len(px))),
        ]
        if pred_tag != 1:
            entries.append((317, 3, 1, short(pred_tag)))
        entries.sort()  # IFD entries must be tag-ascending (TIFF 6)
        ifd = struct.pack("<H", len(entries))
        for tag, typ, cnt, val in entries:
            ifd += struct.pack("<HHI", tag, typ, cnt) + val
        ifd += struct.pack("<I", 0)  # no next IFD
        return (
            b"II*\x00" + struct.pack("<I", ifd_at)
            + px + pad + struct.pack("<HHH", 8, 8, 8) + ifd
        )
    raise ValueError(f"unsupported image encode format {fmt!r}")


# ITU T.81 Annex K.1/K.2 reference quantization tables (spec
# constants, zigzag order) — the base the quality knob scales.
_JPEG_QUANT_LUMA = (
    16, 11, 12, 14, 12, 10, 16, 14, 13, 14, 18, 17, 16, 19, 24, 40,
    26, 24, 22, 22, 24, 49, 35, 37, 29, 40, 58, 51, 61, 60, 57, 51,
    56, 55, 64, 72, 92, 78, 64, 68, 87, 69, 55, 56, 80, 109, 81, 87,
    95, 98, 103, 104, 103, 62, 77, 113, 121, 112, 100, 120, 92, 101,
    103, 99,
)
_JPEG_QUANT_CHROMA = (
    17, 18, 18, 24, 21, 24, 47, 26, 26, 47, 99, 66, 56, 66, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
)


def _jpeg_scaled_quant(base: tuple, quality: int):
    """IJG quality scaling: Q<50 -> 5000/Q, else 200-2Q; entries
    clamped to [1, 255]. Q=50 reproduces the Annex K base exactly."""
    import numpy as np

    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (np.asarray(base, dtype=np.int64) * scale + 50) // 100
    return np.clip(q, 1, 255)


def _jpeg_segment(wtr: BitWriter) -> bytes:
    """Close one entropy-coded segment (T.81 F.1.2.3): 1-pad to a
    byte boundary, pack, then stuff a 0x00 after every produced 0xFF."""
    pad = -wtr.bit_length() % 8
    if pad:
        wtr.write((1 << pad) - 1, pad)
    return wtr.bytes().replace(b"\xff", b"\xff\x00")


def _jpeg_canonical(symbol_freq: dict) -> tuple:
    """Kraft-safe canonical code assignment for the symbols actually
    emitted: by descending frequency, the top 4 get 4-bit codes, the
    next 12 get 8-bit, the rest 12-bit (sum 2^-len <= 0.25 + 0.047 +
    240/4096 < 1 for any symbol set). Returns (codes {sym: (len,
    code)}, DHT counts[16], DHT symbol list in code order)."""
    used = sorted(symbol_freq, key=lambda s: (-symbol_freq[s], s)) or [0]
    pairs = [
        (sym, 4 if i < 4 else (8 if i < 16 else 12))
        for i, sym in enumerate(used)
    ]
    pairs.sort(key=lambda sl: sl[1])
    codes = {}
    counts = [0] * 16
    for sym, code, length in canonical_codes(pairs):
        codes[sym] = (length, code)
        counts[length - 1] += 1
    return codes, counts, [sym for sym, _ in pairs]


def _jpeg_plan(
    img: DecodedImage,
    *,
    quality: int = 90,
    subsample: tuple = (1, 1),
    gray: bool = False,
) -> tuple:
    """Shared encode planning for the baseline AND progressive JPEG
    writers: level shift, forward DCT via the same orthonormal basis
    the decoder inverts (one broadcast matmul over all blocks),
    Annex-K quant under the IJG quality scale, zigzag. Returns
    (comps, q_zz, blocks, geom) where comps = [(cid, h, v, tq)],
    q_zz = {tq: zigzag quant table}, blocks[ci] is an int64
    (padded_bh, padded_bw, 64) array of zigzag-quantized coefficients
    and geom carries (hmax, vmax, mcux, mcuy, true (bh, bw) per comp).
    The two writers differ only in scan structure — both serialize
    these same quantized coefficients, which is what makes the
    baseline-vs-progressive pixel-equality test meaningful."""
    import numpy as np

    basis = _idct_8x8_matrix()  # forward: basis @ f @ basis.T
    w, h = img.width, img.height
    rgb = np.frombuffer(img.pixels, dtype=np.uint8).reshape(h, w, 3)
    r = rgb[..., 0].astype(np.float64)
    g = rgb[..., 1].astype(np.float64)
    b = rgb[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    sh, sv = (1, 1) if gray else subsample

    def pad_to(plane, ph, pw):
        return np.pad(
            plane, ((0, ph - plane.shape[0]), (0, pw - plane.shape[1])),
            mode="edge",
        )

    def downsample(plane, fh, fv):
        if fh == 1 and fv == 1:
            return plane
        ph = -(-plane.shape[0] // fv) * fv
        pw = -(-plane.shape[1] // fh) * fh
        p = pad_to(plane, ph, pw)
        return p.reshape(ph // fv, fv, pw // fh, fh).mean(axis=(1, 3))

    q_zz = {0: _jpeg_scaled_quant(_JPEG_QUANT_LUMA, quality)}
    if not gray:
        q_zz[1] = _jpeg_scaled_quant(_JPEG_QUANT_CHROMA, quality)
    order = np.asarray(_JPEG_ZIGZAG)
    q_rm = {}
    for tq, zz in q_zz.items():
        rm = np.zeros(64, dtype=np.float64)
        rm[order] = zz
        q_rm[tq] = rm.reshape(8, 8)

    if gray:
        planes = [(1, 1, 1, y, 0)]
    else:
        planes = [
            (1, sh, sv, y, 0),
            (2, 1, 1, downsample(cb, sh, sv), 1),
            (3, 1, 1, downsample(cr, sh, sv), 1),
        ]
    hmax = max(p[1] for p in planes)
    vmax = max(p[2] for p in planes)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    comps = []
    blocks = []
    true_dims = []
    for cid, ch, cv, plane, tq in planes:
        pbh, pbw = mcuy * cv, mcux * ch
        padded = pad_to(plane, pbh * 8, pbw * 8) - 128.0
        cells = padded.reshape(pbh, 8, pbw, 8).transpose(0, 2, 1, 3)
        coeff = basis @ cells @ basis.T  # broadcast FDCT over blocks
        zrm = np.round(coeff / q_rm[tq][None, None]).astype(np.int64)
        blocks.append(zrm.reshape(pbh, pbw, 64)[:, :, order])
        comps.append((cid, ch, cv, tq))
        cw, chh = -(-w * ch // hmax), -(-h * cv // vmax)
        true_dims.append((-(-chh // 8), -(-cw // 8)))
    geom = {
        "hmax": hmax,
        "vmax": vmax,
        "mcux": mcux,
        "mcuy": mcuy,
        "true_dims": true_dims,
    }
    return comps, q_zz, blocks, geom


def _jpeg_category(val: int) -> int:
    t, a = 0, abs(int(val))
    while a:
        t += 1
        a >>= 1
    return t


def _encode_jpeg_baseline(
    img: DecodedImage,
    *,
    quality: int = 90,
    subsample: tuple = (1, 1),
    gray: bool = False,
) -> bytes:
    """Baseline-sequential JPEG encode (ITU T.81 SOF0): the shared
    `_jpeg_plan` quantized blocks serialized as one interleaved
    full-band scan — canonical Huffman tables built from this image's
    own symbol frequencies (smaller and simpler than the Annex K
    defaults; any valid table decodes identically), byte stuffing.
    ``subsample=(2, 2)`` gives 4:2:0 with box-mean chroma downsample;
    ``gray`` emits a single-component stream. Lossy by nature — the
    pixel-exact write formats are bmp/ppm/png; the analytic anchor is
    that a solid gray whose DC is divisible by the scaled quant step
    roundtrips exactly (pinned in tests)."""
    import struct

    comps, q_zz, blocks, geom = _jpeg_plan(
        img, quality=quality, subsample=subsample, gray=gray
    )
    mcux, mcuy = geom["mcux"], geom["mcuy"]

    # tokenize (DC diffs + AC run/size) in interleaved MCU order,
    # tallying per-table symbol frequencies
    ncomp = len(comps)
    table_of = [0] + [1] * (ncomp - 1)
    dc_freq: dict[int, dict] = {0: {}, 1: {}}
    ac_freq: dict[int, dict] = {0: {}, 1: {}}
    toks = []
    preds = [0] * ncomp
    for m in range(mcux * mcuy):
        my, mx = divmod(m, mcux)
        for ci, (_cid, ch, cv, _tq) in enumerate(comps):
            tid = table_of[ci]
            for by in range(cv):
                for bx in range(ch):
                    zz = blocks[ci][my * cv + by, mx * ch + bx]
                    diff = int(zz[0]) - preds[ci]
                    preds[ci] = int(zz[0])
                    t = _jpeg_category(diff)
                    dc_freq[tid][t] = dc_freq[tid].get(t, 0) + 1
                    toks.append((True, tid, t, diff))
                    run = 0
                    for k in range(1, 64):
                        val = int(zz[k])
                        if val == 0:
                            run += 1
                            continue
                        while run >= 16:
                            ac_freq[tid][0xF0] = ac_freq[tid].get(0xF0, 0) + 1
                            toks.append((False, tid, 0xF0, 0))
                            run -= 16
                        s = _jpeg_category(val)
                        sym = (run << 4) | s
                        ac_freq[tid][sym] = ac_freq[tid].get(sym, 0) + 1
                        toks.append((False, tid, sym, val))
                        run = 0
                    if run:
                        ac_freq[tid][0x00] = ac_freq[tid].get(0x00, 0) + 1
                        toks.append((False, tid, 0x00, 0))

    table_ids = [0] if gray else [0, 1]
    dc_tables, ac_tables = {}, {}
    dht = bytearray()
    for tid in table_ids:
        for cls, freq, store in ((0, dc_freq[tid], dc_tables),
                                 (1, ac_freq[tid], ac_tables)):
            codes, counts, symbols = _jpeg_canonical(freq)
            store[tid] = codes
            seg = bytes([(cls << 4) | tid]) + bytes(counts) + bytes(symbols)
            dht += b"\xff\xc4" + struct.pack(">H", 2 + len(seg)) + seg

    wtr = BitWriter(msb=True)
    for is_dc, tid, sym, val in toks:
        table = dc_tables[tid] if is_dc else ac_tables[tid]
        length, code = table[sym]
        wtr.write(code, length)
        t = sym & 0x0F if not is_dc else sym
        if t:
            wtr.write(val if val >= 0 else val + (1 << t) - 1, t)

    out = bytearray(b"\xff\xd8")
    for tq in table_ids:
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq])
        out += bytes(int(x) for x in q_zz[tq])
    sof = bytearray([8]) + struct.pack(">HH", img.height, img.width)
    sof += bytes([ncomp])
    for cid, ch, cv, tq in comps:
        sof += bytes([cid, (ch << 4) | cv, tq])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    out += dht
    sos = bytearray([ncomp])
    for ci, (cid, *_rest) in enumerate(comps):
        tid = table_of[ci]
        sos += bytes([cid, (tid << 4) | tid])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    out += _jpeg_segment(wtr)
    out += b"\xff\xd9"
    return bytes(out)


def _encode_jpeg_progressive(
    img: DecodedImage,
    *,
    quality: int = 90,
    subsample: tuple = (1, 1),
    gray: bool = False,
    max_scans: int | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Progressive JPEG encode (ITU T.81 SOF2, Annex G): the SAME
    `_jpeg_plan` quantized blocks as the baseline writer, serialized
    through a scan script exercising every progressive scan kind —
    interleaved DC first scan at Al>0, spectral-selection AC first
    scans, AC successive-approximation refinement (EOB runs with
    buffered correction bits), and the Huffman-free DC refinement
    scan. The script refines every band down to Al=0, so the decoder
    reconstructs coefficients IDENTICAL to the baseline stream's and
    the two writers are pixel-equal end to end (the equivalence test's
    anchor; also what makes solid-gray payloads analytically exact for
    the driver-oracle gate). Per-scan canonical Huffman tables are
    rebuilt from that scan's own symbols and emitted as a fresh DHT
    before each SOS (table ids reused — T.81 allows redefinition)."""
    import struct

    comps, q_zz, blocks, geom = _jpeg_plan(
        img, quality=quality, subsample=subsample, gray=gray
    )
    ncomp = len(comps)
    if ncomp == 1:
        script = [
            ("dc_first", list(range(ncomp)), 0, 0, 0, 1),
            ("ac_first", [0], 1, 5, 0, 2),
            ("ac_first", [0], 6, 63, 0, 2),
            ("ac_refine", [0], 1, 63, 2, 1),
            ("dc_refine", list(range(ncomp)), 0, 0, 1, 0),
            ("ac_refine", [0], 1, 63, 1, 0),
        ]
    else:
        script = [
            ("dc_first", list(range(ncomp)), 0, 0, 0, 1),
            ("ac_first", [0], 1, 5, 0, 2),
            ("ac_first", [1], 1, 63, 0, 1),
            ("ac_first", [2], 1, 63, 0, 1),
            ("ac_first", [0], 6, 63, 0, 2),
            ("ac_refine", [0], 1, 63, 2, 1),
            ("dc_refine", list(range(ncomp)), 0, 0, 1, 0),
            ("ac_refine", [0], 1, 63, 1, 0),
            ("ac_refine", [1], 1, 63, 1, 0),
            ("ac_refine", [2], 1, 63, 1, 0),
        ]

    out = bytearray(b"\xff\xd8")
    for tq in sorted(q_zz):
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq])
        out += bytes(int(x) for x in q_zz[tq])
    sof = bytearray([8]) + struct.pack(">HH", img.height, img.width)
    sof += bytes([ncomp])
    for cid, ch, cv, tq in comps:
        sof += bytes([cid, (ch << 4) | cv, tq])
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)

    # max_scans truncates the script AFTER the DC scan (a legal,
    # coarse progressive stream — how browsers render mid-download);
    # tests use it to pin that partially-refined streams still decode
    for kind, cis, ss, se, ah, al in script[:max_scans]:
        ri = restart_interval
        if kind == "dc_first":
            toks = _ptoks_dc_first(blocks, comps, cis, geom, al, ri)
            tbl_class = 0
        elif kind == "dc_refine":
            toks = _ptoks_dc_refine(blocks, comps, cis, geom, al, ri)
            tbl_class = 0
        elif kind == "ac_first":
            toks = _ptoks_ac_first(blocks[cis[0]], geom["true_dims"][cis[0]],
                                   ss, se, al, ri)
            tbl_class = 1
        else:
            toks = _ptoks_ac_refine(blocks[cis[0]], geom["true_dims"][cis[0]],
                                    ss, se, al, ri)
            tbl_class = 1
        freq: dict[int, int] = {}
        for t in toks:
            if t[0] == 0:
                freq[t[1]] = freq.get(t[1], 0) + 1
        codes = None
        if freq:
            codes, counts, symbols = _jpeg_canonical(freq)
            seg = bytes([(tbl_class << 4) | 0]) + bytes(counts)
            seg += bytes(symbols)
            out += b"\xff\xc4" + struct.pack(">H", 2 + len(seg)) + seg
        sos = bytearray([len(cis)])
        for ci in cis:
            sos += bytes([comps[ci][0], 0x00])
        sos += bytes([ss, se, (ah << 4) | al])
        out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
        wtr = BitWriter(msb=True)
        for t in toks:
            if t[0] == 0:
                length, code = codes[t[1]]
                wtr.write(code, length)
            elif t[0] == 1:
                wtr.write(t[1], t[2])
            else:  # restart boundary: byte-align, emit RSTn
                out += _jpeg_segment(wtr)
                out += bytes([0xFF, 0xD0 + t[1]])
        out += _jpeg_segment(wtr)
    out += b"\xff\xd9"
    return bytes(out)


# progressive scan tokenizers: tokens are (0, huff_symbol) or
# (1, bits_value, nbits) — the symbol stream is independent of the
# Huffman code assignment, so each scan tallies then emits.


def _ptoks_dc_first(blocks, comps, cis, geom, al, restart=0) -> list:
    """T.81 G.1.2.1: DC first scan — diffs of the point-transformed
    (arithmetic >> Al) DC values, interleaved MCU order when ns > 1,
    raster order over true dims for a single-component scan. Restart
    boundaries reset the predictors (decoder twin: maybe_restart)."""
    toks = []
    preds = {ci: 0 for ci in cis}

    def one(ci, zz):
        v = int(zz[0]) >> al
        diff = v - preds[ci]
        preds[ci] = v
        t = _jpeg_category(diff)
        toks.append((0, t))
        if t:
            toks.append((1, diff if diff >= 0 else diff + (1 << t) - 1, t))

    def boundary(k):
        toks.append((2, k))
        for ci in cis:
            preds[ci] = 0

    _pscan_blocks(blocks, comps, cis, geom, one,
                  restart=restart, boundary=boundary)
    return toks


def _ptoks_dc_refine(blocks, comps, cis, geom, al, restart=0) -> list:
    """T.81 G.1.2.1: DC refinement — one raw bit per block (bit Al of
    the arithmetic-shifted DC); no Huffman symbols at all."""
    toks = []
    _pscan_blocks(
        blocks, comps, cis, geom,
        lambda ci, zz: toks.append((1, (int(zz[0]) >> al) & 1, 1)),
        restart=restart, boundary=lambda k: toks.append((2, k)),
    )
    return toks


def _pscan_blocks(blocks, comps, cis, geom, fn, *, restart=0,
                  boundary=None) -> None:
    """Visit blocks in the scan order the decoder expects: interleaved
    MCU order over MCU-padded dims (ns > 1), else raster order over
    the component's true block dims. With ``restart`` > 0, call
    ``boundary(rst_index)`` before every restart-interval-th UNIT
    (MCU when interleaved, block otherwise) — the same cadence the
    decoder's maybe_restart consumes RSTn markers at."""
    rst = 0

    def unit_gate(m):
        nonlocal rst
        if restart and m and m % restart == 0:
            boundary(rst & 7)
            rst += 1

    if len(cis) > 1:
        mcux, mcuy = geom["mcux"], geom["mcuy"]
        for m in range(mcux * mcuy):
            unit_gate(m)
            my, mx = divmod(m, mcux)
            for ci in cis:
                _cid, ch, cv, _tq = comps[ci]
                for by in range(cv):
                    for bx in range(ch):
                        fn(ci, blocks[ci][my * cv + by, mx * ch + bx])
    else:
        ci = cis[0]
        bh, bw = geom["true_dims"][ci]
        for b in range(bh * bw):
            unit_gate(b)
            fn(ci, blocks[ci][b // bw, b % bw])


def _ptoks_ac_first(comp_blocks, dims, ss, se, al, restart=0) -> list:
    """T.81 G.1.2.2: AC first scan over one component's true block
    dims — run/size with EOBn codes batching all-zero bands. EOB runs
    never span a restart boundary (flushed before each RSTn)."""
    toks = []
    bh, bw = dims
    eobrun = 0
    rst = 0

    def flush():
        nonlocal eobrun
        if eobrun:
            nb = eobrun.bit_length() - 1
            toks.append((0, nb << 4))
            if nb:
                toks.append((1, eobrun - (1 << nb), nb))
            eobrun = 0

    for b in range(bh * bw):
        if restart and b and b % restart == 0:
            flush()
            toks.append((2, rst & 7))
            rst += 1
        zz = comp_blocks[b // bw, b % bw]
        run = 0
        for k in range(ss, se + 1):
            v = int(zz[k])
            t = (v >> al) if v >= 0 else -((-v) >> al)
            if t == 0:
                run += 1
                continue
            flush()
            while run > 15:
                toks.append((0, 0xF0))
                run -= 16
            s = _jpeg_category(t)
            toks.append((0, (run << 4) | s))
            toks.append((1, t if t >= 0 else t + (1 << s) - 1, s))
            run = 0
        if run:  # band ends in zeros (or is entirely zero): EOB run
            eobrun += 1
            if eobrun == 0x7FFF:
                flush()
    flush()
    return toks


def _ptoks_ac_refine(comp_blocks, dims, ss, se, al, restart=0) -> list:
    """T.81 G.1.2.3: AC refinement scan — newly-nonzero coefficients
    (|v| >> Al == 1) emit (run<<4)|1 + sign; already-nonzero ones emit
    buffered correction bits, flushed positionally after each emitted
    symbol so the decoder's advance walk reads them in order; trailing
    zero runs fold into EOB runs whose correction bits ride along (and
    are flushed before each restart boundary — runs never span one)."""
    toks = []
    bh, bw = dims
    eobrun = 0
    rst = 0
    pending: list = []  # correction bits buffered across the EOB run

    def flush():
        nonlocal eobrun
        if eobrun:
            nb = eobrun.bit_length() - 1
            toks.append((0, nb << 4))
            if nb:
                toks.append((1, eobrun - (1 << nb), nb))
            eobrun = 0
        toks.extend(pending)
        pending.clear()

    for b in range(bh * bw):
        if restart and b and b % restart == 0:
            flush()
            toks.append((2, rst & 7))
            rst += 1
        zz = comp_blocks[b // bw, b % bw]
        vals = [int(zz[k]) for k in range(ss, se + 1)]
        ts = [abs(v) >> al for v in vals]
        eob = 0  # band index just past the last newly-nonzero coef
        for i, t in enumerate(ts):
            if t == 1:
                eob = i + 1
        run = 0
        br: list = []  # correction bits since the last emitted symbol
        for i, (v, t) in enumerate(zip(vals, ts)):
            if t == 0:
                run += 1
                continue
            while run > 15 and i < eob:
                flush()
                toks.append((0, 0xF0))
                run -= 16
                toks.extend(br)
                br = []
            if t > 1:  # already nonzero: buffer its correction bit
                br.append((1, t & 1, 1))
                continue
            flush()
            toks.append((0, (run << 4) | 1))
            toks.append((1, 1 if v > 0 else 0, 1))
            toks.extend(br)
            br = []
            run = 0
        if run or br:
            eobrun += 1
            pending.extend(br)
            if eobrun == 0x7FFF or len(pending) > 900:
                flush()
    flush()
    return toks


def encode_video_mjpeg(
    frames: list, *, fps: float = 10.0, quality: int = 90
) -> bytes:
    """Video WRITE path: a minimal RIFF/AVI container of MJPEG frames
    (each ``DecodedImage`` encoded by ``_encode_jpeg_baseline``) —
    the inverse of ``_parse_avi``'s compressed branch. All frames
    must share dimensions (one 'vids' stream header)."""
    import struct

    if not frames:
        raise ValueError("encode_video_mjpeg needs at least one frame")
    w, h = frames[0].width, frames[0].height
    if any((f.width, f.height) != (w, h) for f in frames):
        raise ValueError("all MJPEG-AVI frames must share dimensions")

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(subtype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", subtype + body)

    usec = int(round(1e6 / fps)) if fps > 0 else 0
    avih = struct.pack(
        "<IIIIIIIIII4I",
        usec, 0, 0, 0, len(frames), 0, 1, 0, w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack(
            "<IHHIIIIIIII", 0, 0, 0, 0, 1, max(int(round(fps)), 1), 0,
            len(frames), 0, 0, 0,
        )
        + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack(
        "<IiiHHIIiiII",
        40, w, h, 1, 24, struct.unpack("<I", b"MJPG")[0], 0, 0, 0, 0, 0,
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(
        b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)
    ))
    movi = lst(b"movi", b"".join(
        chunk(b"00dc", _encode_jpeg_baseline(f, quality=quality))
        for f in frames
    ))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


_MP4_UNITY_MATRIX = (
    b"\x00\x01\x00\x00" + b"\x00" * 4 * 2
    + b"\x00" * 4 + b"\x00\x01\x00\x00" + b"\x00" * 4
    + b"\x00" * 4 * 2 + b"\x40\x00\x00\x00"
)


def _mp4_boxes(data: bytes, pos: int, end: int):
    """ISO-BMFF box iterator (ISO/IEC 14496-12 §4.2): yields
    (type, body_start, body_end). Handles 64-bit largesize (size == 1)
    and to-end boxes (size == 0); malformed sizes raise ValueError."""
    import struct

    while pos + 8 <= end:
        size, btype = struct.unpack_from(">I4s", data, pos)
        hdr = 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated ISO-BMFF largesize box")
            (size,) = struct.unpack_from(">Q", data, pos + 8)
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError(f"bad ISO-BMFF box size {size} at {pos}")
        yield btype, pos + hdr, pos + size
        pos += size


@quarantine("ISO-BMFF stream")
def _parse_mp4_tables(data: bytes) -> dict:
    """Quarantine boundary + ISO-BMFF box walk for the first video
    track (r13 verdict item 2: real video corpora are MP4): ftyp
    check, moov -> trak(tkhd dims) -> mdia(mdhd timescale, hdlr
    'vide') -> minf/stbl sample tables — stsd (codec fourcc), stts
    (durations -> fps), stsz/stsc/stco|co64 (per-sample byte extents),
    stss (sync samples). Returns {width, height, fps, codec,
    n_samples, samples: [(offset, size)], keyframes: [1-based sample
    numbers]} without touching a single sample byte — the metadata
    layer is independent of whether the codec is decodable here."""
    import struct

    if len(data) < 12 or data[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF (MP4) payload")
    moov = None
    for btype, b0, b1 in _mp4_boxes(data, 0, len(data)):
        if btype == b"moov":
            moov = (b0, b1)
    if moov is None:
        raise ValueError("MP4 missing moov box")
    first_err: ValueError | None = None
    for btype, t0, t1 in _mp4_boxes(data, *moov):
        if btype != b"trak":
            continue
        # A broken vide trak (incomplete sample tables, overrunning
        # leaf counts) must not doom a file whose NEXT trak is fine —
        # multi-track files with one damaged track are common in crawl
        # video. Record the first failure and keep scanning; fail loud
        # only when no track parses (r14 advice).
        try:
            info = _mp4_video_track(data, t0, t1)
        except ValueError as exc:
            if first_err is None:
                first_err = exc
            continue
        if info is not None:
            return info
    if first_err is not None:
        raise first_err
    raise ValueError("MP4 has no parseable video track")


def _mp4_video_track(data: bytes, t0: int, t1: int) -> dict | None:
    """One trak box -> sample map, or None when it isn't a video
    track. Container boxes (mdia/minf/stbl) descend recursively; leaf
    full-box layouts follow 14496-12 §8 (both version 0 and 1 where
    they differ)."""
    import struct

    width = height = None
    timescale = 0
    handler = None
    codec = None
    stts: list[tuple[int, int]] = []
    uniform_size = 0
    sizes: list[int] | None = None
    chunk_offsets: list[int] | None = None
    stsc: list[tuple[int, int]] = []
    keyframes: list[int] | None = None

    def need(start: int, per: int, n: int, end: int, name: str) -> None:
        # A malformed entry count must not silently read bytes from
        # the FOLLOWING box (struct.error only fires past end-of-file,
        # far too late) — bound every leaf table against its own box
        # end before unpacking (r14 advice).
        if n < 0 or start + per * n > end:
            raise ValueError(
                f"MP4 {name} declares {n} entries overrunning its box"
            )

    def walk(p0: int, p1: int) -> None:
        nonlocal width, height, timescale, handler, codec
        nonlocal stts, uniform_size, sizes, chunk_offsets, stsc, keyframes
        for btype, b0, b1 in _mp4_boxes(data, p0, p1):
            if btype in (b"mdia", b"minf", b"stbl"):
                walk(b0, b1)
            elif btype == b"tkhd":
                ver = data[b0]
                off = b0 + (88 if ver == 1 else 76)
                wfix, hfix = struct.unpack_from(">II", data, off)
                width, height = wfix >> 16, hfix >> 16
            elif btype == b"mdhd":
                ver = data[b0]
                (timescale,) = struct.unpack_from(
                    ">I", data, b0 + (20 if ver == 1 else 12)
                )
            elif btype == b"hdlr":
                handler = data[b0 + 8 : b0 + 12]
            elif btype == b"stsd":
                (n_entries,) = struct.unpack_from(">I", data, b0 + 4)
                if n_entries >= 1 and b0 + 16 <= b1:
                    codec = data[b0 + 12 : b0 + 16]
            elif btype == b"stts":
                (n,) = struct.unpack_from(">I", data, b0 + 4)
                need(b0 + 8, 8, n, b1, "stts")
                stts = [
                    struct.unpack_from(">II", data, b0 + 8 + 8 * i)
                    for i in range(n)
                ]
            elif btype == b"stsz":
                uniform_size, n = struct.unpack_from(">II", data, b0 + 4)
                if uniform_size == 0:
                    need(b0 + 12, 4, n, b1, "stsz")
                    sizes = list(
                        struct.unpack_from(f">{n}I", data, b0 + 12)
                    )
                else:
                    # each sample is uniform_size bytes of this payload:
                    # reject a count it cannot hold before sizing a list
                    if uniform_size * n > len(data):
                        raise ValueError(
                            f"MP4 stsz declares {n} samples of "
                            f"{uniform_size} bytes overrunning the stream"
                        )
                    sizes = [uniform_size] * n
            elif btype == b"stsc":
                (n,) = struct.unpack_from(">I", data, b0 + 4)
                need(b0 + 8, 12, n, b1, "stsc")
                stsc = [
                    struct.unpack_from(">III", data, b0 + 8 + 12 * i)[:2]
                    for i in range(n)
                ]
            elif btype in (b"stco", b"co64"):
                (n,) = struct.unpack_from(">I", data, b0 + 4)
                fmt = ">I" if btype == b"stco" else ">Q"
                step = 4 if btype == b"stco" else 8
                need(b0 + 8, step, n, b1, btype.decode("ascii"))
                chunk_offsets = [
                    struct.unpack_from(fmt, data, b0 + 8 + step * i)[0]
                    for i in range(n)
                ]
            elif btype == b"stss":
                (n,) = struct.unpack_from(">I", data, b0 + 4)
                need(b0 + 8, 4, n, b1, "stss")
                keyframes = [
                    struct.unpack_from(">I", data, b0 + 8 + 4 * i)[0]
                    for i in range(n)
                ]

    walk(t0, t1)
    if handler != b"vide":
        return None
    if not (width and height and timescale and stts and sizes
            and chunk_offsets and stsc):
        raise ValueError("MP4 video track missing sample tables")
    n_samples = len(sizes)
    # expand stsc: chunk i (1-based) carries the samples-per-chunk of
    # the entry with the greatest first_chunk <= i (14496-12 §8.7.4)
    samples: list[tuple[int, int]] = []
    si = 0
    for i, base in enumerate(chunk_offsets):
        spc = 0
        for first_chunk, per_chunk in stsc:
            if first_chunk <= i + 1:
                spc = per_chunk
        off = base
        for _ in range(spc):
            if si >= n_samples:
                break
            sz = sizes[si]
            if off + sz > len(data):
                raise ValueError("MP4 sample extent past end of stream")
            samples.append((off, sz))
            off += sz
            si += 1
    if si != n_samples:
        raise ValueError(
            f"MP4 sample map covers {si} of {n_samples} samples"
        )
    total_dur = sum(c * d for c, d in stts)
    fps = timescale * n_samples / total_dur if total_dur else 0.0
    return {
        "width": width,
        "height": height,
        "fps": fps,
        "codec": codec,
        "n_samples": n_samples,
        "samples": samples,
        "keyframes": keyframes if keyframes is not None
        else list(range(1, n_samples + 1)),
    }


def _parse_mp4(data: bytes) -> tuple[float, list[DecodedImage]]:
    """ISO-BMFF video decode -> (fps, frames): the `_parse_mp4_tables`
    box walk locates every sample's byte extent; samples then decode
    through the stdlib chain (`decode_image` sniffs the magic — an
    MJPEG-in-MP4 sample is a complete JPEG stream, baseline or
    progressive). Codec bitstreams the chain can't read (H.264 etc.)
    raise from decode_image — fail loud, never guess pixels; the
    metadata walk itself stays available via mp4_video_meta."""
    info = _parse_mp4_tables(data)
    # A sample table may list one small extent any number of times, so
    # bound the frames the header declares before decoding any; the
    # decoded bytes are bounded too, in case the header understates.
    check_frames(
        "MP4 video", info["n_samples"] * info["width"] * info["height"] * 3
    )
    frames = _bounded_frames(
        "MP4 video",
        (decode_image(data[off : off + sz]) for off, sz in info["samples"]),
    )
    if not frames:
        raise ValueError("MP4 contains no video samples")
    return info["fps"], frames


def mp4_video_meta(data: bytes) -> dict:
    """Metadata-only MP4 probe (dims, fps, frame count, codec fourcc,
    keyframe sample numbers) — the box-walk layer a 100 TB crawl
    pipeline runs BEFORE deciding whether to decode: no sample bytes
    are read, so it prices at container-header cost even for codecs
    the stdlib chain can't decode."""
    info = _parse_mp4_tables(data)
    return {
        "width": info["width"],
        "height": info["height"],
        "fps": info["fps"],
        "codec": (info["codec"] or b"????").decode("latin-1"),
        "n_frames": info["n_samples"],
        "keyframes": info["keyframes"],
    }


def encode_video_mp4(
    frames: list,
    *,
    fps: float = 10.0,
    quality: int = 90,
    keyframe_every: int = 1,
) -> bytes:
    """Video WRITE path #2 (r14): a minimal ISO-BMFF/MP4 container of
    MJPEG samples ('jpeg' VisualSampleEntry; every sample a complete
    baseline JPEG from `_encode_jpeg_baseline`) — the inverse of
    `_parse_mp4`. Layout ftyp + mdat + moov with one video track:
    mvhd/tkhd/mdhd at timescale 1000, stts one run, stsc one
    chunk-run, stsz per-sample sizes, stco one chunk at the mdat
    payload offset, stss every ``keyframe_every``-th sample. All
    frames must share dimensions (one sample entry)."""
    import struct

    if not frames:
        raise ValueError("encode_video_mp4 needs at least one frame")
    if fps <= 0:
        raise ValueError("encode_video_mp4 needs fps > 0")
    w, h = frames[0].width, frames[0].height
    if any((f.width, f.height) != (w, h) for f in frames):
        raise ValueError("all MP4 frames must share dimensions")
    payloads = [_encode_jpeg_baseline(f, quality=quality) for f in frames]
    n = len(payloads)
    timescale = 1000
    delta = max(int(round(timescale / fps)), 1)
    duration = n * delta

    def box(btype: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + btype + body

    def full(btype: bytes, body: bytes, *, ver: int = 0,
             flags: int = 0) -> bytes:
        return box(btype, bytes([ver]) + flags.to_bytes(3, "big") + body)

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2mp41")
    mdat = box(b"mdat", b"".join(payloads))
    data_offset = len(ftyp) + 8  # first sample byte, absolute

    mvhd = full(
        b"mvhd",
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">I", 0x00010000) + struct.pack(">H", 0x0100)
        + b"\x00" * 10 + _MP4_UNITY_MATRIX + b"\x00" * 24
        + struct.pack(">I", 2),
    )
    tkhd = full(
        b"tkhd",
        struct.pack(">IIIII", 0, 0, 1, 0, duration)
        + b"\x00" * 8 + struct.pack(">HHHH", 0, 0, 0, 0)
        + _MP4_UNITY_MATRIX + struct.pack(">II", w << 16, h << 16),
        flags=7,  # enabled | in_movie | in_preview
    )
    mdhd = full(
        b"mdhd",
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">HH", 0x55C4, 0),  # language 'und'
    )
    hdlr = full(
        b"hdlr",
        struct.pack(">I", 0) + b"vide" + b"\x00" * 12
        + b"MJPEG video\x00",
    )
    sample_entry = (
        b"\x00" * 6 + struct.pack(">H", 1)  # reserved + dref index
        + struct.pack(">HH", 0, 0) + b"\x00" * 12
        + struct.pack(">HH", w, h)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + struct.pack(">I", 0) + struct.pack(">H", 1)  # frame_count 1
        + b"\x00" * 32  # compressorname
        + struct.pack(">Hh", 24, -1)  # depth, pre_defined
    )
    stsd = full(b"stsd", struct.pack(">I", 1) + box(b"jpeg", sample_entry))
    stts = full(b"stts", struct.pack(">III", 1, n, delta))
    stsc = full(b"stsc", struct.pack(">IIII", 1, 1, n, 1))
    stsz = full(
        b"stsz",
        struct.pack(">II", 0, n)
        + b"".join(struct.pack(">I", len(p)) for p in payloads),
    )
    stco = full(b"stco", struct.pack(">II", 1, data_offset))
    keys = list(range(1, n + 1, max(keyframe_every, 1)))
    stss = full(
        b"stss",
        struct.pack(">I", len(keys))
        + b"".join(struct.pack(">I", k) for k in keys),
    )
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco + stss)
    dref = full(b"dref", struct.pack(">I", 1) + full(b"url ", b"", flags=1))
    minf = box(
        b"minf",
        full(b"vmhd", struct.pack(">HHHH", 0, 0, 0, 0), flags=1)
        + box(b"dinf", dref) + stbl,
    )
    mdia = box(b"mdia", mdhd + hdlr + minf)
    trak = box(b"trak", tkhd + mdia)
    moov = box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


@quarantine("GIF stream")
def _parse_gif(data: bytes) -> tuple[float, list[DecodedImage]]:
    """Pure-stdlib GIF87a/GIF89a parse -> (fps, frames): logical
    screen + global color table, per-frame image descriptors with
    local color tables, the shared ``codec_core`` LZW decoder, Adam-free
    4-pass interlace reorder, GCE transparency (transparent pixels
    keep the canvas — the compositing rule animation relies on), and
    disposal methods 0/1 (leave) and 2 (restore background). Frames
    composite onto the logical-screen canvas, so partial-rect frames
    come out full size, top-down RGB like every other decoder here.
    Disposal 3 (restore previous) and malformed structures raise
    ValueError — fail loud, never guess pixels. fps derives from the
    mean GCE delay (centiseconds); 0.0 when no delay is present."""
    import struct

    import numpy as np

    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    if len(data) < 13:
        raise ValueError("truncated GIF header")
    width, height = struct.unpack_from("<HH", data, 6)
    if width == 0 or height == 0:
        raise ValueError(f"degenerate GIF dimensions {width}x{height}")
    # Resource bounds BEFORE the canvas allocation: the shared pixel
    # cap, plus an LZW-feasibility cap — a payload of L bytes holds at
    # most ~8L/3 codes (minimum code width 3 bits) and LZW output is at
    # most quadratic in code count (dictionary strings grow by one per
    # code), so a header claiming far more pixels than the data could
    # ever decode is rejected, not materialized (the BMP/DIB decoders'
    # truncation check, adapted to compression).
    check_size("GIF logical screen", width, height)
    max_codes = (8 * len(data)) // 3
    lzw_budget = max(4096, max_codes * (max_codes + 1) // 2)
    if width * height > lzw_budget:
        raise ValueError(
            f"GIF logical screen {width}x{height} implausible for a "
            f"{len(data)}-byte payload (LZW budget {lzw_budget} px)"
        )
    flags = data[10]
    bg_index = data[11]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = data[pos : pos + 3 * n]
        if len(gct) < 3 * n:
            raise ValueError("truncated GIF global color table")
        pos += 3 * n
    canvas = np.zeros((height, width, 3), dtype=np.uint8)
    if gct is not None and 3 * bg_index + 3 <= len(gct):
        canvas[:] = np.frombuffer(
            gct[3 * bg_index : 3 * bg_index + 3], dtype=np.uint8
        )
    frames: list[DecodedImage] = []
    delays: list[int] = []
    transparent: int | None = None
    delay_cs = 0
    disposal = 0

    def skip_subblocks(p: int) -> int:
        while p < len(data) and data[p] != 0:
            p += 1 + data[p]
        if p >= len(data):
            raise ValueError("unterminated GIF sub-blocks")
        return p + 1

    while pos < len(data):
        marker = data[pos]
        if marker == 0x3B:  # trailer
            break
        if marker == 0x21:  # extension
            if pos + 2 > len(data):
                raise ValueError("truncated GIF extension")
            label = data[pos + 1]
            body_at = pos + 2
            # GCE body spans bytes [body_at, body_at+4]; require them
            # all (r13 advice, high: a truncated GCE must fail inside
            # the ValueError quarantine, not via IndexError)
            if (
                label == 0xF9
                and body_at + 5 <= len(data)
                and data[body_at] >= 4
            ):
                packed = data[body_at + 1]
                disposal = (packed >> 2) & 0x7
                if disposal == 3:
                    raise ValueError(
                        "GIF disposal 'restore previous' not supported"
                    )
                (delay_cs,) = struct.unpack_from("<H", data, body_at + 2)
                transparent = data[body_at + 4] if packed & 1 else None
            pos = skip_subblocks(body_at)
        elif marker == 0x2C:  # image descriptor
            if pos + 10 > len(data):
                raise ValueError("truncated GIF image descriptor")
            fx, fy, fw, fh = struct.unpack_from("<HHHH", data, pos + 1)
            iflags = data[pos + 9]
            pos += 10
            if fw == 0 or fh == 0 or fx + fw > width or fy + fh > height:
                raise ValueError("GIF frame rect outside logical screen")
            palette = gct
            if iflags & 0x80:
                n = 2 << (iflags & 7)
                palette = data[pos : pos + 3 * n]
                if len(palette) < 3 * n:
                    raise ValueError("truncated GIF local color table")
                pos += 3 * n
            if palette is None:
                raise ValueError("GIF frame with no color table")
            interlaced = bool(iflags & 0x40)
            if pos >= len(data):
                raise ValueError("truncated GIF image data")
            min_code = data[pos]
            pos += 1
            chunks = []
            while pos < len(data) and data[pos] != 0:
                sz = data[pos]
                chunk = data[pos + 1 : pos + 1 + sz]
                if len(chunk) < sz:
                    raise ValueError("truncated GIF data sub-block")
                chunks.append(chunk)
                pos += 1 + sz
            if pos >= len(data):
                raise ValueError("unterminated GIF image data")
            pos += 1
            if not (2 <= min_code <= 8):
                raise ValueError(f"bad GIF LZW minimum code size {min_code}")
            idx = np.frombuffer(
                lzw_decode(
                    b"".join(chunks), min_code, fw * fh,
                    msb=False, early=0, what="GIF",
                ),
                dtype=np.uint8,
            ).reshape(fh, fw)
            if interlaced:
                rows = np.empty(fh, dtype=np.int64)
                k = 0
                for start, step in _GIF_INTERLACE_PASSES:
                    for y in range(start, fh, step):
                        rows[y] = k
                        k += 1
                idx = idx[rows]
            pal = np.frombuffer(palette, dtype=np.uint8).reshape(-1, 3)
            if int(idx.max(initial=0)) >= pal.shape[0]:
                raise ValueError("GIF pixel index beyond color table")
            rect = canvas[fy : fy + fh, fx : fx + fw]
            rgb = pal[idx]
            if transparent is not None:
                mask = idx != transparent
                rect[mask] = rgb[mask]
            else:
                rect[:] = rgb
            # frame count must not multiply past memory either
            check_frames("GIF animation", (len(frames) + 1) * width * height * 3)
            frames.append(DecodedImage(width, height, canvas.tobytes()))
            delays.append(delay_cs)
            if disposal == 2:  # restore background into the frame rect
                if gct is not None and 3 * bg_index + 3 <= len(gct):
                    rect[:] = np.frombuffer(
                        gct[3 * bg_index : 3 * bg_index + 3], dtype=np.uint8
                    )
                else:
                    rect[:] = 0
            transparent = None
            delay_cs = 0
            disposal = 0
        else:
            raise ValueError(f"unknown GIF block marker 0x{marker:02x}")
    if not frames:
        raise ValueError("GIF contains no frames")
    nonzero = [d for d in delays if d]
    fps = 100.0 * len(nonzero) / sum(nonzero) if nonzero else 0.0
    return fps, frames


def _decode_gif(data: bytes) -> DecodedImage:
    """First composited frame of a GIF — the still-image entry in
    ``decode_image``'s chain (animations go through ``_parse_gif`` /
    ``decoded_video_frame_features``)."""
    _fps, frames = _parse_gif(data)
    return frames[0]


def _encode_gif(img: DecodedImage) -> bytes:
    """GIF89a write path for PALETTE-EXPRESSIBLE rasters (<= 256
    unique colors — the honest constraint; general images need color
    quantization, which is a modeling choice this engine won't make
    silently): palette = sorted unique colors, LZW literal emission
    with a CLEAR before each code-width growth (the classic
    uncompressed-GIF form every decoder accepts). Lossless by
    construction, so it joins the ``decoded_phash_check`` rotation."""
    import struct

    import numpy as np

    rgb = np.frombuffer(img.pixels, dtype=np.uint8).reshape(-1, 3)
    colors, inverse = np.unique(rgb, axis=0, return_inverse=True)
    if colors.shape[0] > 256:
        raise ValueError(
            f"GIF encode needs <= 256 unique colors, got {colors.shape[0]}"
        )
    depth = max((colors.shape[0] - 1).bit_length(), 1)
    ncol = 1 << depth
    palette = np.zeros((ncol, 3), dtype=np.uint8)
    palette[: colors.shape[0]] = colors
    min_code = max(depth, 2)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", img.width, img.height)
    out += bytes([0x80 | (depth - 1), 0, 0])
    out += palette.tobytes()
    out += bytes([0x2C]) + struct.pack("<HHHH", 0, 0, img.width, img.height)
    out += bytes([0, min_code])
    out += _gif_subblocks(_gif_lzw_encode(inverse, min_code))
    out += b"\x3B"
    return bytes(out)


def _gif_lzw_encode(indices, min_code: int) -> bytes:
    """Literal-code LZW emission: every index is its own code, with a
    CLEAR before the code whose table entry would step the decoder's
    code width (the classic uncompressed-GIF form every decoder
    accepts) — shared by the still and animated write paths."""
    clear = 1 << min_code
    width = lzw_width(clear + 2, min_code, 0)
    # after a CLEAR the first literal adds no table entry and each
    # later one adds one; literal j would leave clear + 2 + j entries
    per_clear = 1
    while lzw_width(clear + 2 + per_clear, min_code, 0) == width:
        per_clear += 1
    codes = []
    for at in range(0, max(len(indices), 1), per_clear):
        codes.append(clear)
        codes.extend(int(ix) for ix in indices[at : at + per_clear])
    codes.append(clear + 1)  # END
    out = BitWriter()
    out.vals.extend(codes)
    out.widths.extend([width] * len(codes))
    return out.bytes()


def _gif_subblocks(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00"
    return bytes(out)


def encode_video_gif(frames: list, *, fps: float = 10.0) -> bytes:
    """Video WRITE path #3 (r14): an ANIMATED GIF89a of
    palette-expressible frames (<= 256 unique colors across the WHOLE
    animation — the honest constraint, as with the still leg): one
    global color table, per-frame GCE (delay = round(100/fps)
    centiseconds; `_parse_gif` recovers fps = 100/delay exactly when
    it divides) + full-frame image descriptor + the shared LZW
    emitter. Lossless by construction, so it joins
    ``decoded_video_check``'s container rotation."""
    import struct

    import numpy as np

    if not frames:
        raise ValueError("encode_video_gif needs at least one frame")
    if fps <= 0:
        raise ValueError("encode_video_gif needs fps > 0")
    w, h = frames[0].width, frames[0].height
    if any((f.width, f.height) != (w, h) for f in frames):
        raise ValueError("all GIF frames must share dimensions")
    stack = np.concatenate(
        [np.frombuffer(f.pixels, dtype=np.uint8).reshape(-1, 3)
         for f in frames]
    )
    colors, inverse = np.unique(stack, axis=0, return_inverse=True)
    if colors.shape[0] > 256:
        raise ValueError(
            "animated GIF encode needs <= 256 unique colors across all "
            f"frames, got {colors.shape[0]}"
        )
    depth = max((colors.shape[0] - 1).bit_length(), 1)
    ncol = 1 << depth
    palette = np.zeros((ncol, 3), dtype=np.uint8)
    palette[: colors.shape[0]] = colors
    min_code = max(depth, 2)
    delay = max(int(round(100.0 / fps)), 1)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | (depth - 1), 0, 0])
    out += palette.tobytes()
    per = w * h
    for k in range(len(frames)):
        out += bytes([0x21, 0xF9, 4, 0])  # GCE: disposal 0, no transp.
        out += struct.pack("<H", delay) + bytes([0, 0])
        out += bytes([0x2C]) + struct.pack("<HHHH", 0, 0, w, h)
        out += bytes([0, min_code])
        idx = inverse[k * per : (k + 1) * per]
        out += _gif_subblocks(_gif_lzw_encode(idx, min_code))
    out += b"\x3B"
    return bytes(out)
