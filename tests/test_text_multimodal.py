"""Text-analysis and multimodal operators."""

from __future__ import annotations

from m2_b3_market_data_pipeline_spark.operators.multimodal import (
    FEATURE_BINS,
    attach_binary,
    deterministic_features,
    extract_features,
)
from m2_b3_market_data_pipeline_spark.operators.text import (
    predict_lang,
    quality_score,
    with_fingerprint,
    with_text_stats,
)


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "The cat and the dog sat on the mat in the sun for a while."),
            (2, "der hund und die katze das ist nicht ein problem"),
            (3, ""),
            (4, "!!! ??? ***"),
        ],
        "doc_id long, text string",
    )


def test_text_stats_counts(spark):
    out = {r.doc_id: r for r in with_text_stats(_docs(spark)).collect()}
    assert out[1].n_tokens == 15
    assert out[3].n_tokens == 0 and out[3].avg_token_len is None
    assert out[4].n_punct == 9


def test_predict_lang_markers(spark):
    df = _docs(spark).select("doc_id", predict_lang("text").alias("p"))
    out = {r.doc_id: r.p for r in df.collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "und"  # no markers at all


def test_quality_score_bounds_and_ordering(spark):
    out = {r.doc_id: r.quality_score for r in quality_score(_docs(spark)).collect()}
    assert all(0.0 <= v <= 1.0 for v in out.values())
    assert out[1] > out[4]  # clean prose beats punctuation soup


def test_fingerprint_whitespace_invariant(spark):
    df = spark.createDataFrame(
        [(1, "hello  world"), (2, " hello world "), (3, "hello worlds")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.fp_md5 for r in with_fingerprint(df).collect()}
    assert out[1] == out[2] != out[3]


def test_attach_binary_metadata(spark):
    out = attach_binary(_docs(spark)).filter("doc_id = 1").collect()[0]
    assert out.meta.byte_len == len(out.content)
    assert len(out.meta.content_md5) == 32
    assert out.meta.modality == "text"


def test_extract_features_arrow_batch_shape(spark):
    wrapped = attach_binary(_docs(spark))
    feats = {r.doc_id: r for r in extract_features(wrapped).collect()}
    assert len(feats) == 4
    row = feats[1]
    assert len(row.feature) == FEATURE_BINS
    assert abs(sum(row.feature) - 1.0) < 1e-9  # normalized histogram
    assert feats[3].feature == [0.0] * FEATURE_BINS  # empty payload
    # mapInPandas output agrees with the local reference implementation
    text = _docs(spark).filter("doc_id = 1").collect()[0].text
    assert row.feature == deterministic_features(text.encode())


def test_sample_frames_shape_and_hashes(spark):
    import hashlib

    from m2_b3_market_data_pipeline_spark.operators.multimodal import sample_frames

    payload = "x" * 10 + "abcdefghijklmnop" * 5  # 90 bytes, >= 4*16
    df = spark.createDataFrame([(1, payload), (2, "tiny")], "doc_id long, text string")
    out = sample_frames(attach_binary(df), n_frames=4, frame_bytes=16)
    rows = sorted(out.collect(), key=lambda r: (r.doc_id, r.frame_idx))
    # short payload skipped; eligible payload yields exactly n_frames rows
    assert [r.doc_id for r in rows] == [1, 1, 1, 1]
    b = payload.encode()
    stride = (len(b) - 16) // 3
    def frame_digest(frame: bytes) -> str:
        # portable digest: md5 over the frame's uppercase hex encoding
        return hashlib.md5(frame.hex().upper().encode()).hexdigest()

    for r in rows:
        expect = frame_digest(b[r.frame_idx * stride : r.frame_idx * stride + 16])
        assert r.frame_hash == expect
    # last frame ends flush with the payload only when stride divides evenly;
    # first frame always starts at byte 0
    assert rows[0].frame_hash == frame_digest(b[:16])


def test_sample_frames_partitioning_invariant(spark, sf_dir):
    from m2_b3_market_data_pipeline_spark.plans.media_queries import multimodal_frames
    from m2_b3_market_data_pipeline_spark.plans.registry import load

    a = sorted(map(tuple, multimodal_frames(spark, sf_dir).collect()))
    b = sorted(map(tuple, multimodal_frames(spark, sf_dir).repartition(7).collect()))
    assert a == b
