"""Round-6 curation wave: ANN recall evidence, token-budget mixture
enforcement, corpus-frequency boilerplate detection, and the literal
partsupp TPC-H graphs' derived relation."""

from __future__ import annotations

from pyspark.sql import functions as F

from m2_b3_market_data_pipeline_spark.plans.retrieval_quality import (
    ann_recall_check,
)
from m2_b3_market_data_pipeline_spark.plans.corpus_quality import (
    BUDGET_DEN,
    BUDGET_NUM,
    boilerplate_frac_df,
    mixture_rebalance_df,
)
from m2_b3_market_data_pipeline_spark.plans.tpch import derived_partsupp


def test_ann_recall_values_are_sane(spark, sf_dir):
    rows = ann_recall_check(spark, sf_dir).collect()
    assert rows, "no query points"
    for r in rows:
        assert 0.0 <= r.recall_at_k <= 1.0
    # The banded-LSH candidates include every same-top-band vector and
    # the re-rank is exact, so recall on the fixtures should not be
    # degenerate (cosine_topk vs ann_topk recall >= 0.5 is also pinned
    # in test_dedup_similarity-style probes at larger sf).
    avg = sum(r.recall_at_k for r in rows) / len(rows)
    assert avg >= 0.2, avg


def test_mixture_rebalance_waterline(spark):
    # One dominant source (9 docs x 6 tokens) and one tiny source
    # (2 docs x 3 tokens): total = 60 tokens, 2 sources, budget 1/2
    # => per-source cap = 15 tokens. The tiny source fits entirely
    # under its cap; the dominant one is truncated to <= 15 tokens.
    docs = spark.createDataFrame(
        [(i, "big", "a b c d e f") for i in range(9)]
        + [(100 + i, "small", "x y z") for i in range(2)],
        "doc_id long, source string, text string",
    )
    got = {r.source: r for r in mixture_rebalance_df(docs).collect()}
    total = 9 * 6 + 2 * 3
    cap = total * BUDGET_NUM / BUDGET_DEN / 2  # 2 sources
    assert got["small"].docs_kept == 2 and got["small"].tokens_kept == 6
    assert got["big"].tokens_kept <= cap
    assert got["big"].tokens_kept == 12  # 2 whole docs fit under 15
    # Determinism: same input, same admission set.
    again = {r.source: r.tokens_kept for r in mixture_rebalance_df(docs).collect()}
    assert again == {s: r.tokens_kept for s, r in got.items()}


def test_boilerplate_frac_scores_planted_template(spark):
    # 6 docs share the template phrase "all rights reserved here";
    # each also has unique filler. min_df=5 marks the template's
    # shingles boilerplate; the filler-only doc scores 0.
    template = "all rights reserved here"
    docs = spark.createDataFrame(
        [(i, f"{template} unique{i} filler{i} words{i}") for i in range(6)]
        + [(99, "completely original content nothing shared at all")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in boilerplate_frac_df(docs, min_df=5).collect()}
    assert got[99].bp_frac == 0.0
    for i in range(6):
        # "all rights reserved" + "rights reserved here" are shared by
        # all 6 docs; the filler shingles are unique.
        assert got[i].bp_frac > 0.0, got[i]
    assert got[0].n_shingles == 5  # 7 tokens -> 5 trigram shingles


def test_derived_partsupp_shape(spark, sf_dir):
    ps = derived_partsupp(spark, sf_dir)
    parts = spark.read.parquet(f"{sf_dir}/part.parquet").count()
    suppliers = spark.read.parquet(f"{sf_dir}/supplier.parquet").count()
    rows = ps.count()
    assert rows == parts * 4  # TPC-H shape: 4 suppliers per part
    # Every (part, supplier) pair is unique and every suppkey is valid.
    assert ps.select("ps_partkey", "ps_suppkey").distinct().count() == rows
    bad = ps.filter(
        (F.col("ps_suppkey") < 0) | (F.col("ps_suppkey") >= suppliers)
    ).count()
    assert bad == 0
    # availqty/cost stay in their documented domains.
    dom = ps.agg(
        F.min("ps_availqty").alias("aq_lo"),
        F.max("ps_availqty").alias("aq_hi"),
        F.min("ps_cost_cents").alias("cc_lo"),
    ).collect()[0]
    assert dom.aq_lo >= 1 and dom.aq_hi <= 9999 and dom.cc_lo >= 100


def test_frame_energy_planted_contrast(spark):
    """A payload with a quiet half (all 0x80 = midpoint, zero energy)
    and a loud half (alternating 0x00/0xFF, max energy) must produce a
    frame contour of exactly 0 for the first 8 frames and
    mean(128^2, 127^2) for the last 8."""
    from m2_b3_market_data_pipeline_spark.operators.multimodal import frame_energy

    quiet = b"\x80" * 64
    loud = b"\x00\xff" * 32
    df = spark.createDataFrame([(1, bytearray(quiet + loud))], "doc_id long, content binary")
    rows = {r.frame_idx: r for r in frame_energy(df).collect()}
    assert len(rows) == 16
    for i in range(8):
        assert rows[i].energy == 0.0, rows[i]
    # loud frames: bytes alternate 0 and 255 -> deviations -128 and 127
    expect = (128 * 128 + 127 * 127) / 2
    for i in range(8, 16):
        assert rows[i].energy == expect, rows[i]
    assert all(rows[i].n_bytes == 8 for i in rows)


def test_quality_gate_funnel_counts_zero_token_docs(spark):
    """Stage 0 must count EVERY input doc — empty, whitespace-only and
    NULL-text docs fail the gates but may not vanish from the funnel's
    input row (explode drops empty arrays; the union branch restores
    them)."""
    from m2_b3_market_data_pipeline_spark.plans.corpus_quality import (
        quality_gate_funnel,
    )

    docs = spark.createDataFrame(
        [(1, " ".join(f"tok{i}" for i in range(25))), (2, ""), (3, "   "), (4, None)],
        "doc_id long, text string",
    )
    # The query reads via registry.load; point it at the planted frame.
    import m2_b3_market_data_pipeline_spark.plans.corpus_quality as r6
    from m2_b3_market_data_pipeline_spark.plans import registry

    orig_load = registry.load
    try:
        registry.load = lambda spark_, sf_, table: docs  # type: ignore[assignment]
        r6.load = registry.load
        out = {r.stage: (r.docs, r.tokens) for r in quality_gate_funnel(spark, "ignored").collect()}
    finally:
        registry.load = orig_load
        r6.load = orig_load
    assert out[0] == (4, 25)  # all four docs counted; only doc 1 has tokens
    assert out[1] == (1, 25) and out[2] == (1, 25) and out[3] == (1, 25)


def test_read_marker_raises_on_unreadable_marker(tmp_path):
    """An EXISTING marker that cannot be read (here: it is a directory,
    raising IsADirectoryError) must raise — treating it as 'never
    applied' would re-merge an already-applied batch (non-idempotent)
    and bypass the checkpoint-identity guard."""
    import os

    import pytest as _pytest

    from m2_b3_market_data_pipeline_spark.streaming.commit import (
        _APPLIED_MARKER,
        _read_marker,
    )

    snap = tmp_path / "snap"
    os.makedirs(snap / _APPLIED_MARKER)  # marker path exists but unreadable
    with _pytest.raises(OSError):
        _read_marker(str(snap))


def test_legacy_string_signature_store_rejected(spark):
    """A pre-numeric-hash signature store (md5 STRING mh columns) must
    be refused loudly: a string/bigint union would NULL every legacy
    signature out of LSH banding and silently destroy the store."""
    import pytest as _pytest

    from m2_b3_market_data_pipeline_spark.operators.dedup import (
        minhash_incremental_pairs_presigned,
        require_numeric_minhash,
    )

    legacy = spark.createDataFrame(
        [(1, ["a b c"], "ff00aa")], "doc_id long, sh array<string>, mh0 string"
    )
    with _pytest.raises(RuntimeError, match="legacy md5-string"):
        require_numeric_minhash(legacy, where="test")
    delta = spark.createDataFrame([(2, "some text here")], "doc_id long, text string")
    with _pytest.raises(RuntimeError, match="legacy md5-string"):
        minhash_incremental_pairs_presigned(delta, legacy)
