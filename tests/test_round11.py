"""Round-11 additions: the hashed-bucket trigram LM twin, the
band-count layout rule, the byte-sized dedup join switch and the
incremental dedup stores.
"""

from __future__ import annotations

import hashlib
import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

_slow = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _bucket(s: str, n_buckets: int, seed: int) -> int:
    """Python twin of seeded_hash60(s, seed) % n_buckets."""
    return int(hashlib.md5(f"{seed}|{s}".encode()).hexdigest()[:15], 16) % n_buckets


@_slow
@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=12),
        min_size=1,
        max_size=8,
    ),
    n_buckets=st.sampled_from([2, 4, 8]),
)
def test_trigram_hashed_golden_recompute_property(spark, texts, n_buckets):
    """trigram_lm_scores(n_buckets=...) matches a plain-Python
    recompute of the hashed definition: every trigram of
    lower(trim(text)) folds to its TRI_HASH_SEED bucket and every
    prefix bigram to its PRE_HASH_SEED bucket, counts pool per bucket,
    and avg_logp = mean of log2(n3[tb]/n2[pb]) over the doc's gram
    occurrences. n_buckets sits far below the observed gram variety so
    collisions genuinely pool counts (the fold under test)."""
    from m2_b3_market_data_pipeline_spark.operators.text import (
        PRE_HASH_SEED,
        TRI_HASH_SEED,
        trigram_lm_scores,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in trigram_lm_scores(sdf, n_buckets=n_buckets).collect()
    }

    grams = []  # (doc_id, tb, pb)
    for i, t in enumerate(texts):
        s = t.strip().lower()
        for j in range(max(len(s) - 2, 0)):
            g = s[j : j + 3]
            grams.append(
                (
                    i,
                    _bucket(g, n_buckets, TRI_HASH_SEED),
                    _bucket(g[:2], n_buckets, PRE_HASH_SEED),
                )
            )
    from collections import Counter

    n3 = Counter(tb for _, tb, _ in grams)
    n2 = Counter(pb for _, _, pb in grams)
    expect = {}
    for i in range(len(texts)):
        logs = [math.log2(n3[tb] / n2[pb]) for d, tb, pb in grams if d == i]
        if logs:
            expect[i] = (len(logs), round(sum(logs) / len(logs), 6))
    assert set(got) == set(expect)
    for i, (n, avg) in expect.items():
        assert got[i]["n_trigrams"] == n
        assert got[i]["avg_logp"] == pytest.approx(avg, abs=1e-6)


def test_trigram_hashed_model_bound_is_contract(spark):
    """The hashed twin's two model tables are <= n_buckets rows BY
    CONTRACT: feed a corpus whose distinct trigram count far exceeds
    n_buckets and check the aggregated model side never exceeds the
    knob (the broadcast bound the dense form ties to |charset|^3)."""
    from m2_b3_market_data_pipeline_spark.operators.text import (
        TRI_HASH_SEED,
        trigram_lm_scores,
    )
    from m2_b3_market_data_pipeline_spark.functions.textfns import seeded_hash60

    rows = [(i, f"doc number {i} with text variety {i * 7919}") for i in range(60)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    n_buckets = 8
    out = trigram_lm_scores(sdf, n_buckets=n_buckets)
    assert out.count() == 60
    from m2_b3_market_data_pipeline_spark.operators.dedup import release_cached

    release_cached(out)
    # The fold itself: distinct bucket ids never exceed the knob.
    buckets = (
        sdf.select(F.explode(F.split(F.lower("text"), "")).alias("ch"))
        .select((seeded_hash60(F.col("ch"), TRI_HASH_SEED) % n_buckets).alias("b"))
        .distinct()
        .count()
    )
    assert buckets <= n_buckets


def test_scaled_band_layout_rule():
    """The band-layout knob: width tracks ceil(log2(n/occ)) past the
    15-bit single-BIGINT cap up to the hard cap, and the band count
    holds the LSH threshold (1/b)^(1/w) at the capped operating point
    via b = max(4, ceil(4^(w/15))) — 4 bands AT and below the cap, growing with the
    residual (the sf30 boundary's next lever, r10 verdict item 2)."""
    from m2_b3_market_data_pipeline_spark.operators.knobs import (
        scaled_band_bits,
        scaled_band_layout,
    )

    # Below the cap: width matches scaled_band_bits.
    for n in (10, 1_000, 60_000, 438_000):
        w, b = scaled_band_layout(n)
        assert w == scaled_band_bits(n, target_occupancy=4, lo=4, hi=15) or w > 15
    # Below the cap the band count FLOORS at 4 — the bits_scaled
    # layout parameters verbatim, so the variant's threshold curve is
    # never sharper than the judged scaled baseline's (an unfloored
    # ceil gave b=2 at fixture widths — a measurably stingier curve).
    for n in (200, 505, 2_000, 60_000):
        assert scaled_band_layout(n)[1] == 4
    # At the cap boundary (n = occ * 2^15): 4 bands, the baseline layout.
    w, b = scaled_band_layout(4 * 2**15)
    assert (w, b) == (15, 4)
    # Past the cap: width keeps absorbing the residual, bands grow.
    w18, b18 = scaled_band_layout(600_000)  # the sf30 vector count
    assert w18 == 18 and b18 == 6
    w20, b20 = scaled_band_layout(10_000_000)
    assert w20 == 20 and b20 == 7  # hard cap binds
    # Threshold (1/b)^(1/w) stays within one ceil-step of the capped
    # operating point t0 = (1/4)^(1/15).
    t0 = 0.25 ** (1 / 15)
    for n in (600_000, 2_000_000, 10_000_000):
        w, b = scaled_band_layout(n)
        t = (1 / b) ** (1 / w)
        assert abs(t - t0) < 0.02


def test_dedup_shuffle_switch_trips_on_bytes(spark):
    """The r10-advice byte bound: a small-doc-count corpus of LONG
    documents must pin the minhash joins to sort-merge just like a
    500k-doc fixture corpus would. Pinned at the stats level (the
    switch inputs), not by materializing 400 MB in a unit test: the
    same aggregate the operator runs reports sh_bytes, and the switch
    predicate is evaluated on a synthetic stats row."""
    from m2_b3_market_data_pipeline_spark.operators.dedup import (
        SHUFFLE_JOIN_MIN_DOCS,
        SHUFFLE_JOIN_MIN_SH_BYTES,
        fan_out,
        with_minhash,
    )

    # The byte threshold equals the doc threshold on fixture-shaped
    # docs (~810 B of shingles each): the two rules agree at the
    # measured boundary instead of one silently dominating.
    assert SHUFFLE_JOIN_MIN_BYTES_RATIO_OK(
        SHUFFLE_JOIN_MIN_SH_BYTES, SHUFFLE_JOIN_MIN_DOCS
    )

    # The operator's stats aggregate counts bytes the same way the
    # pure-Python fold does on a tiny frame.
    rows = [(1, "alpha beta gamma delta epsilon zeta"), (2, "x")]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    signed = with_minhash(fan_out(sdf))
    stats = signed.agg(
        F.count("*").alias("docs"),
        F.sum(
            F.coalesce(
                F.aggregate(
                    "sh", F.lit(0).cast("long"), lambda acc, s: acc + F.length(s)
                ),
                F.lit(0).cast("long"),
            )
        ).alias("sh_bytes"),
    ).collect()[0]
    toks = "alpha beta gamma delta epsilon zeta".split()
    sh = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    assert stats["docs"] == 2
    assert stats["sh_bytes"] == sum(len(s) for s in sh)


def SHUFFLE_JOIN_MIN_BYTES_RATIO_OK(min_bytes: int, min_docs: int) -> bool:
    """The byte bound restates the doc bound for ~810 B/doc corpora
    within 2x either way (they must trip together on fixture-shaped
    data, not one miles before the other)."""
    implied_per_doc = min_bytes / min_docs
    return 400 <= implied_per_doc <= 1700


def test_semdedup_incremental_store_replay_crash_window(spark, sf_dir, tmp_path):
    """The append-only store's replay crash window (r10 verdict item
    4): simulate a crash BETWEEN the survivor-partition write and the
    marker (write batch=1's partition by hand, leave the marker at
    batch 0), then reprocess — the corpus read must exclude the
    partial batch=1 data, or every replayed vector would self-match at
    cos 1.0 and flip to pruned. Decisions after recovery must equal
    the clean sequential admission."""
    from pyspark.sql import types as T

    from m2_b3_market_data_pipeline_spark.operators.embeddings import (
        lsh_cell_assigner,
        semdedup_prune_assigned,
    )
    from m2_b3_market_data_pipeline_spark.plans.registry import load
    from m2_b3_market_data_pipeline_spark.streaming.semdedup_sink import (
        read_assigned,
        read_decisions,
        run_semdedup_stream,
    )

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    waves = [emb.filter(F.col("vec_id") % 2 == w) for w in range(2)]
    assigner = lsh_cell_assigner(dim=64, cell_bits=3)

    updates = str(tmp_path / "in")
    state = str(tmp_path / "store")
    dec_out = str(tmp_path / "dec")
    ckpt = str(tmp_path / "ckpt")

    def run():
        run_semdedup_stream(
            spark, updates_path=updates, state_path=state,
            decisions_path=dec_out, checkpoint_path=ckpt,
            schema=schema, assign_fn=assigner, threshold=0.25,
        ).awaitTermination(120)

    waves[0].write.parquet(f"{updates}/b0")
    run()

    # Crash simulation: batch=1's survivor partition exists (here: the
    # WHOLE wave, the worst case) but the marker still says batch 0 —
    # exactly the state a crash between the two writes leaves behind.
    import os

    assigner(waves[1]).write.mode("overwrite").partitionBy(
        "centroid_id"
    ).parquet(os.path.join(state, "batch=1"))

    waves[1].write.parquet(f"{updates}/b1")
    run()  # reprocess batch 1 over the partial store

    got = {
        (r.vec_id, r.pruned)
        for r in read_decisions(spark, dec_out).collect()
    }
    a0, a1 = assigner(waves[0]), assigner(waves[1])
    dec1 = semdedup_prune_assigned(a1, a0, threshold=0.25).collect()
    want = {(r.vec_id, False) for r in a0.select("vec_id").collect()} | {
        (r.vec_id, r.pruned) for r in dec1
    }
    assert got == want
    assert any(p for _, p in got), "threshold chosen to prune something"
    state_ids = {r.vec_id for r in read_assigned(spark, state).collect()}
    assert state_ids == {v for v, p in want if not p}


def test_semdedup_store_compaction(spark, sf_dir, tmp_path):
    """compact_every folds the per-batch partitions through the atomic
    swap: after a 3-wave drain with compact_every=2 the store holds
    fewer batch dirs than waves, read_assigned content is unchanged,
    and a replay still adds nothing (the compaction marker carries the
    committed batch id)."""
    import os
    import re

    from pyspark.sql import types as T

    from m2_b3_market_data_pipeline_spark.operators.embeddings import (
        lsh_cell_assigner,
    )
    from m2_b3_market_data_pipeline_spark.plans.registry import load
    from m2_b3_market_data_pipeline_spark.streaming.semdedup_sink import (
        read_assigned,
        read_decisions,
        run_semdedup_stream,
    )

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    waves = [emb.filter(F.col("vec_id") % 3 == w) for w in range(3)]
    assigner = lsh_cell_assigner(dim=64, cell_bits=3)

    updates = str(tmp_path / "in")
    state = str(tmp_path / "store")
    dec_out = str(tmp_path / "dec")
    ckpt = str(tmp_path / "ckpt")

    def run():
        run_semdedup_stream(
            spark, updates_path=updates, state_path=state,
            decisions_path=dec_out, checkpoint_path=ckpt,
            schema=schema, assign_fn=assigner, threshold=0.25,
            compact_every=2,
        ).awaitTermination(120)

    for i, w in enumerate(waves):
        w.write.parquet(f"{updates}/b{i}")
        run()
    n_decisions = read_decisions(spark, dec_out).count()
    state_rows = sorted(
        (r.vec_id, r.centroid_id)
        for r in read_assigned(spark, state).collect()
    )
    batch_dirs = [d for d in os.listdir(state) if re.match(r"^batch=\d+$", d)]
    assert len(batch_dirs) < 3  # compaction folded at least one boundary
    run()  # replay-safe after compaction
    assert read_decisions(spark, dec_out).count() == n_decisions
    assert (
        sorted(
            (r.vec_id, r.centroid_id)
            for r in read_assigned(spark, state).collect()
        )
        == state_rows
    )


def test_near_dedup_incremental_store_replay_crash_window(spark, sf_dir, tmp_path):
    """Near-dedup sink twin of the semdedup crash-window test: write
    batch=1's signature partition by hand with the marker still at
    batch 0, reprocess, and require the pair output to equal the clean
    sequential admission — the corpus read must exclude the partial
    batch or every replayed doc would pair with its own copy at
    jaccard 1.0."""
    import os

    from pyspark.sql import types as T

    from m2_b3_market_data_pipeline_spark.operators.dedup import (
        fan_out,
        minhash_incremental_pairs,
        release_cached,
        with_minhash,
    )
    from m2_b3_market_data_pipeline_spark.plans.registry import load
    from m2_b3_market_data_pipeline_spark.streaming.near_dedup_sink import (
        read_pairs,
        read_signatures,
        run_incremental_dedup_stream,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    waves = [docs.filter(F.col("doc_id") % 2 == w) for w in range(2)]

    updates = str(tmp_path / "in")
    state = str(tmp_path / "sigs")
    pairs_out = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")

    def run():
        run_incremental_dedup_stream(
            spark, updates_path=updates, state_path=state,
            pairs_path=pairs_out, checkpoint_path=ckpt,
            schema=schema, threshold=0.4,
        ).awaitTermination(120)

    waves[0].write.parquet(f"{updates}/b0")
    run()

    # Crash simulation: batch=1's signatures on disk, marker at 0.
    sig1 = with_minhash(fan_out(waves[1].select("doc_id", "text")))
    cols = ["doc_id", "sh"] + [c for c in sig1.columns if c.startswith("mh")]
    sig1.select(*cols).write.mode("overwrite").parquet(
        os.path.join(state, "batch=1")
    )

    waves[1].write.parquet(f"{updates}/b1")
    run()  # reprocess batch 1 over the partial store

    got = {
        (r.delta_id, r.corpus_id, round(r.jaccard, 6))
        for r in read_pairs(spark, pairs_out).collect()
    }
    want_df = minhash_incremental_pairs(waves[1], waves[0], threshold=0.4)
    want = {
        (r.delta_id, r.corpus_id, round(r.jaccard, 6))
        for r in want_df.collect()
    }
    release_cached(want_df)
    assert got == want
    assert got, "fixture yields cross-wave near-dups at threshold 0.4"
    # No self-pairs (the crash-window symptom would be jaccard-1.0
    # delta-vs-own-copy rows).
    assert all(d != c for d, c, _ in got)
    # State holds exactly both waves' signatures, batch col dropped.
    sigs = read_signatures(spark, state)
    assert sigs.count() == docs.count()
    assert "batch" not in sigs.columns


def test_near_dedup_store_compaction(spark, sf_dir, tmp_path):
    """compact_every on the signature store: after a 3-wave drain with
    compact_every=2 the store holds fewer batch dirs than waves, the
    signature content is unchanged, and a replay adds nothing."""
    import os
    import re

    from pyspark.sql import types as T

    from m2_b3_market_data_pipeline_spark.plans.registry import load
    from m2_b3_market_data_pipeline_spark.streaming.near_dedup_sink import (
        read_pairs,
        read_signatures,
        run_incremental_dedup_stream,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    waves = [docs.filter(F.col("doc_id") % 3 == w) for w in range(3)]

    updates = str(tmp_path / "in")
    state = str(tmp_path / "sigs")
    pairs_out = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")

    def run():
        run_incremental_dedup_stream(
            spark, updates_path=updates, state_path=state,
            pairs_path=pairs_out, checkpoint_path=ckpt,
            schema=schema, threshold=0.4, compact_every=2,
        ).awaitTermination(120)

    for i, w in enumerate(waves):
        w.write.parquet(f"{updates}/b{i}")
        run()
    n_pairs = read_pairs(spark, pairs_out).count()
    sig_ids = sorted(r.doc_id for r in read_signatures(spark, state).collect())
    assert sig_ids == sorted(r.doc_id for r in docs.collect())
    batch_dirs = [d for d in os.listdir(state) if re.match(r"^batch=\d+$", d)]
    assert len(batch_dirs) < 3  # compaction folded at least one boundary
    run()  # replay-safe after compaction
    assert read_pairs(spark, pairs_out).count() == n_pairs
    assert sorted(
        r.doc_id for r in read_signatures(spark, state).collect()
    ) == sig_ids
