"""The streaming sinks and their shared commit protocol.

Each sink is pinned by batch-equivalence — draining the stream must
reproduce the registered batch operators exactly, and a checkpoint
replay must add nothing. The commit-protocol tests recreate the crash
windows of the staged swap and the foreign-checkpoint refusal once for
every sink that uses them.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from m2_b3_market_data_pipeline_spark.operators.embeddings import (
    assign_with_vector,
    semdedup_incremental,
)
from m2_b3_market_data_pipeline_spark.operators.retrieval import (
    bm25_topk,
    bm25_topk_with_stats,
)
from m2_b3_market_data_pipeline_spark.plans.contrastive_mining import (
    N_WAVES,
    TRIPLET_QUERY_MOD,
)
from m2_b3_market_data_pipeline_spark.plans.dedup_quality import (
    SEM_CENTROID_MOD,
)
from m2_b3_market_data_pipeline_spark.plans.registry import load
from m2_b3_market_data_pipeline_spark.streaming.agg_sink import (
    run_incremental_agg_stream,
)
from m2_b3_market_data_pipeline_spark.streaming.cdc_sink import run_cdc_merge_stream
from m2_b3_market_data_pipeline_spark.streaming.near_dedup_sink import (
    run_incremental_dedup_stream,
)
from m2_b3_market_data_pipeline_spark.streaming.postings_sink import (
    read_bm25_stats,
    run_bm25_stats_stream,
)
from m2_b3_market_data_pipeline_spark.streaming.semdedup_sink import (
    run_semdedup_stream,
)
from m2_b3_market_data_pipeline_spark.streaming.triplet_sink import (
    run_triplet_stream,
)

# The registered query's 0.45 threshold prunes nothing across sf0.001's
# wave split (max cross-wave cosine ~0.479, same-cell lower) — the test
# drops it so the prune branch actually executes.
SEM_TEST_THRESHOLD = 0.25

EMB_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def _wave_frames(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    return [
        emb.filter(F.col("vec_id") % N_WAVES == w).select(
            "vec_id", "embedding", "label"
        )
        for w in range(N_WAVES)
    ]


def test_streaming_semdedup_matches_batch(spark, sf_dir, tmp_path):
    """Draining wave-by-wave reproduces sequential application of the
    BATCH semdedup_incremental against the survivors admitted so far;
    the state holds exactly the survivors; replay adds nothing."""
    from m2_b3_market_data_pipeline_spark.streaming.semdedup_sink import (
        read_assigned,
        read_decisions,
        run_semdedup_stream,
    )

    emb = load(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % SEM_CENTROID_MOD == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )
    waves = _wave_frames(spark, sf_dir)

    updates = str(tmp_path / "vec_in")
    state = str(tmp_path / "assigned_store")
    decisions_out = str(tmp_path / "decisions_out")
    ckpt = str(tmp_path / "sem_ckpt")

    def run():
        run_semdedup_stream(
            spark,
            updates_path=updates,
            state_path=state,
            decisions_path=decisions_out,
            checkpoint_path=ckpt,
            schema=EMB_SCHEMA,
            centroids=centroids,
            threshold=SEM_TEST_THRESHOLD,
        ).awaitTermination(120)

    for i, w in enumerate(waves):
        w.write.parquet(f"{updates}/b{i}")
        run()
    run()  # no new files: replay-safe, nothing double-written

    got = {
        (r.vec_id, r.centroid_id, r.pruned)
        for r in read_decisions(spark, decisions_out).collect()
    }

    # Batch oracle: sequential semdedup_incremental over survivors.
    want = set()
    corpus = None
    for i, w in enumerate(waves):
        assigned = assign_with_vector(w, centroids)
        if i == 0:
            dec = assigned.select(
                "vec_id", "centroid_id", F.lit(False).alias("pruned")
            )
        else:
            dec = semdedup_incremental(w, corpus, centroids, threshold=SEM_TEST_THRESHOLD)
        rows = dec.collect()
        want |= {(r.vec_id, r.centroid_id, r.pruned) for r in rows}
        keep = {r.vec_id for r in rows if not r.pruned}
        survivors = assigned.filter(F.col("vec_id").isin(keep))
        corpus = survivors if corpus is None else corpus.unionByName(survivors)

    assert got == want
    assert any(p for _, _, p in got), "expected at least one pruned vector"
    state_ids = {r.vec_id for r in read_assigned(spark, state).collect()}
    assert state_ids == {v for v, _, p in want if not p}


def test_streaming_triplets_match_wave_batch(spark, sf_dir, tmp_path):
    """Feeding the waves as files reproduces the registered
    `streaming_triplets` batch query exactly (wave = batch id), and
    batch 0 mines nothing."""
    from m2_b3_market_data_pipeline_spark.plans.all_queries import QUERIES
    from m2_b3_market_data_pipeline_spark.streaming.triplet_sink import (
        read_corpus,
        read_triplets,
        run_triplet_stream,
    )

    waves = _wave_frames(spark, sf_dir)
    updates = str(tmp_path / "vec_in")
    state = str(tmp_path / "corpus_store")
    triplets_out = str(tmp_path / "triplets_out")
    ckpt = str(tmp_path / "tri_ckpt")

    def run():
        run_triplet_stream(
            spark,
            updates_path=updates,
            state_path=state,
            triplets_path=triplets_out,
            checkpoint_path=ckpt,
            schema=EMB_SCHEMA,
            query_predicate=f"vec_id % {TRIPLET_QUERY_MOD} = 0",
        ).awaitTermination(120)

    for i, w in enumerate(waves):
        w.write.parquet(f"{updates}/b{i}")
        run()
    run()  # replay-safe

    got = {
        tuple(r)
        for r in read_triplets(spark, triplets_out)
        .select("query_id", "label", "wave", "pos_id", "pos_cos", "neg_id", "neg_cos")
        .collect()
    }
    want = {tuple(r) for r in QUERIES["streaming_triplets"](spark, sf_dir).collect()}
    assert got == want and got, "sink must reproduce the batch wave mining"
    assert not any(w == 0 for _, _, w, _, _, _, _ in got)
    corpus_ids = {r.vec_id for r in read_corpus(spark, state).collect()}
    emb_ids = {r.vec_id for r in load(spark, sf_dir, "embeddings").collect()}
    assert corpus_ids == emb_ids  # every row admitted regardless of mining


def test_streaming_countmin_matches_batch_table(spark, sf_dir, tmp_path):
    """Draining document batches through the CM sink converges to
    EXACTLY the one-shot countmin_table over the union of all batches
    (counter merge is pure addition — the algebraic-aggregate case the
    partial-agg sink exists for), and estimates from the streamed state
    keep the one-sided error guarantee."""
    from pyspark.sql import types as T

    from m2_b3_market_data_pipeline_spark.operators.sketches import (
        countmin_estimate,
        countmin_table,
    )
    from m2_b3_market_data_pipeline_spark.streaming.countmin_sink import (
        read_countmin,
        run_incremental_countmin_stream,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    updates = str(tmp_path / "cm_updates")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    b1.write.parquet(f"{updates}/b1")
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    state = str(tmp_path / "cm_state")
    ckpt = str(tmp_path / "cm_ckpt")

    def drain():
        run_incremental_countmin_stream(
            spark,
            updates_path=updates,
            state_path=state,
            checkpoint_path=ckpt,
            schema=schema,
        ).awaitTermination(120)

    drain()
    b2.write.parquet(f"{updates}/b2")
    drain()

    streamed = {
        (r.row_id, r.bucket): r.cnt for r in read_countmin(spark, state).collect()
    }
    tok = docs.select(F.explode(F.split(F.col("text"), r"\s+")).alias("word")).filter(
        F.col("word") != ""
    )
    direct = {
        (r.row_id, r.bucket): r.cnt
        for r in countmin_table(tok, "word", depth=3, width=8).collect()
    }
    assert streamed == direct

    exact = tok.groupBy("word").agg(F.count("*").alias("exact_cnt"))
    est = countmin_estimate(
        read_countmin(spark, state), exact.select("word"), "word", depth=3, width=8
    )
    rows = exact.join(est, "word").collect()
    assert rows and all(r.cm_est >= r.exact_cnt for r in rows)


_QUERIES = {"q1": ("spark", "table"), "q2": ("window", "merge", "stream")}

_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
)


def _drain_bm25_stats(spark, updates, state, ckpt):
    run_bm25_stats_stream(
        spark,
        updates_path=updates,
        state_path=state,
        checkpoint_path=ckpt,
        schema=_SCHEMA,
    ).awaitTermination(120)


def test_streamed_stats_match_batch_and_score_identically(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    updates = str(tmp_path / "updates")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(f"{updates}/b1")
    _drain_bm25_stats(spark, updates, state, ckpt)
    docs.filter(F.col("doc_id") % 2 == 1).write.parquet(f"{updates}/b2")
    _drain_bm25_stats(spark, updates, state, ckpt)

    term_stats, corpus_stats = read_bm25_stats(spark, state)

    # statistics equivalence: df per term, N, avgdl
    toks = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != F.lit("")
        ).alias("t"),
    )
    direct_df = {
        r["t"]: r["c"]
        for r in toks.select(F.explode(F.array_distinct("t")).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    streamed_df = {r["term"]: r["__df"] for r in term_stats.collect()}
    assert streamed_df == direct_df

    cs = corpus_stats.collect()[0]
    n_docs = toks.count()
    assert cs["__n_docs"] == n_docs
    total_dl = toks.select(F.sum(F.size("t")).alias("s")).collect()[0]["s"]
    assert cs["__avgdl"] == total_dl / n_docs

    # end-to-end: scoring with streamed stats == the one-shot batch query
    got = bm25_topk_with_stats(docs, _QUERIES, term_stats, corpus_stats).collect()
    want = bm25_topk(docs, _QUERIES).collect()
    assert got == want


def test_state_is_vocab_bounded_not_corpus_bounded(spark, tmp_path):
    """Re-landing the SAME vocabulary in new docs must grow doc counts
    but NOT the state row count — the |vocab| + 1 invariant."""
    rows1 = [(i, "alpha beta gamma") for i in range(10)]
    rows2 = [(100 + i, "alpha beta gamma") for i in range(50)]
    updates = str(tmp_path / "updates")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(rows1, _SCHEMA).write.parquet(f"{updates}/b1")
    _drain_bm25_stats(spark, updates, state, ckpt)
    n1 = spark.read.parquet(state).count()
    spark.createDataFrame(rows2, _SCHEMA).write.parquet(f"{updates}/b2")
    _drain_bm25_stats(spark, updates, state, ckpt)
    n2 = spark.read.parquet(state).count()
    assert n1 == n2 == 4  # 3 vocab terms + 1 corpus row
    term_stats, corpus_stats = read_bm25_stats(spark, state)
    assert {r["__df"] for r in term_stats.collect()} == {60}
    assert corpus_stats.collect()[0]["__n_docs"] == 60


def test_null_text_docs_do_not_enter_the_stats(spark, tmp_path):
    rows = [(1, "x y"), (2, None)]
    updates = str(tmp_path / "updates")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(rows, _SCHEMA).write.parquet(f"{updates}/b1")
    _drain_bm25_stats(spark, updates, state, ckpt)
    _, corpus_stats = read_bm25_stats(spark, state)
    assert corpus_stats.collect()[0]["__n_docs"] == 1


def _stream_error(q) -> str:
    """Wait for a stream expected to fail; the failure text ('' if it
    finished cleanly)."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException

    try:
        q.awaitTermination(120)
    except (StreamingQueryException, Py4JJavaError):
        pass
    return str(q.exception() or "")


_TINY_VEC = "vec_id long, embedding array<float>, label int"


def _centroids(spark):
    return spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "centroid_id long, centroid array<float>"
    )


# sink -> (input DDL, one batch of rows, start(spark, dirs, checkpoint))
_GUARDED_SINKS = {
    "agg": (
        "k string, v long",
        [("a", 10), ("b", 5)],
        lambda spark, d, ckpt, schema: run_incremental_agg_stream(
            spark, updates_path=d["in"], state_path=d["state"],
            checkpoint_path=ckpt, schema=schema, keys=["k"], value_col="v",
        ),
    ),
    "near_dedup": (
        "doc_id long, text string",
        [(1, "the quick brown fox jumps"), (2, "over the lazy dog again")],
        lambda spark, d, ckpt, schema: run_incremental_dedup_stream(
            spark, updates_path=d["in"], state_path=d["state"],
            pairs_path=d["out"], checkpoint_path=ckpt, schema=schema,
        ),
    ),
    "semdedup": (
        _TINY_VEC,
        [(1, [1.0, 0.1], 0), (2, [0.1, 1.0], 1)],
        lambda spark, d, ckpt, schema: run_semdedup_stream(
            spark, updates_path=d["in"], state_path=d["state"],
            decisions_path=d["out"], checkpoint_path=ckpt, schema=schema,
            centroids=_centroids(spark),
        ),
    ),
    "triplet": (
        _TINY_VEC,
        [(1, [1.0, 0.1], 0), (2, [0.1, 1.0], 1)],
        lambda spark, d, ckpt, schema: run_triplet_stream(
            spark, updates_path=d["in"], state_path=d["state"],
            triplets_path=d["out"], checkpoint_path=ckpt, schema=schema,
        ),
    ),
}


@pytest.mark.parametrize("sink", sorted(_GUARDED_SINKS))
def test_sink_rejects_foreign_checkpoint(spark, tmp_path, sink):
    """If the checkpoint dir is deleted while the state survives, batch
    ids restart at 0 and a bare applied>=batch_id check would silently
    drop genuinely new batches. The marker pins the checkpoint identity
    and a mismatch must FAIL the stream loudly, not skip."""
    ddl, rows, start = _GUARDED_SINKS[sink]
    d = {k: str(tmp_path / k) for k in ("in", "state", "out")}
    batch = spark.createDataFrame(rows, ddl)
    batch.write.parquet(f"{d['in']}/b0")
    assert _stream_error(start(spark, d, str(tmp_path / "ckpt_a"), batch.schema)) == ""
    batch.limit(1).write.parquet(f"{d['in']}/b1")
    err = _stream_error(start(spark, d, str(tmp_path / "ckpt_b"), batch.schema))
    assert err, "foreign-checkpoint merge must fail loudly"
    assert "refusing to merge" in err
    assert "checkpoint" in err


def test_commit_protocol_lives_in_one_module():
    """Only commit.py starts a stream or renames a state dir: every sink
    goes through its guard, swap and starter."""
    from pathlib import Path

    from m2_b3_market_data_pipeline_spark import streaming

    root = Path(streaming.__file__).parent
    others = [p for p in root.glob("*.py") if p.name != "commit.py"]
    assert len(others) > 5
    for path in others:
        src = path.read_text()
        assert "foreachBatch(" not in src, path.name
        assert "os.rename(" not in src, path.name


_CDC_SCHEMA = "k long, v string, version long, is_del boolean"


@pytest.mark.parametrize(
    "crash",
    ["staging_complete", "state_set_aside", "promoted_old_left", "deleted_first"],
)
def test_cdc_snapshot_survives_every_swap_crash_window(spark, tmp_path, crash):
    """Recreate each crash point of the snapshot swap after batch 1,
    drop batch 1's commit so the checkpoint replays it, and require the
    full latest-wins merge. ``deleted_first`` is the window of a swap
    that deletes the old snapshot before promoting the staging dir:
    the replay must not rebuild the snapshot from empty."""
    d = {k: str(tmp_path / k) for k in ("in", "snap", "ckpt")}
    snap, staging, old = d["snap"], d["snap"] + ".staging-1", d["snap"] + ".old"
    batches = [
        [(1, "a", 1, False), (2, "b", 1, False)],
        [(2, "b2", 2, False), (3, "c", 1, False)],
    ]
    schema = spark.createDataFrame([], _CDC_SCHEMA).schema

    def run():
        assert _stream_error(
            run_cdc_merge_stream(
                spark, updates_path=d["in"], snapshot_path=snap,
                checkpoint_path=d["ckpt"], schema=schema, keys=["k"],
                version_col="version", tombstone_col="is_del",
            )
        ) == ""

    snap0 = str(tmp_path / "snap0")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).write.parquet(f"{d['in']}/b{i}")
        run()
        if i == 0:
            shutil.copytree(snap, snap0)

    if crash == "staging_complete":
        os.rename(snap, staging)
        shutil.copytree(snap0, snap)
    elif crash == "state_set_aside":
        os.rename(snap, staging)
        shutil.copytree(snap0, old)
    elif crash == "promoted_old_left":
        shutil.copytree(snap0, old)
    else:
        os.rename(snap, staging)
    os.remove(os.path.join(d["ckpt"], "commits", "1"))
    os.remove(os.path.join(d["ckpt"], "commits", ".1.crc"))
    run()

    got = {(r.k, r.v, r.version) for r in spark.read.parquet(snap).collect()}
    assert got == {(1, "a", 1), (2, "b2", 2), (3, "c", 1)}
    assert not os.path.exists(staging) and not os.path.exists(old)


def test_semdedup_failed_write_releases_cached_frames(spark, tmp_path):
    """A batch whose decisions write fails must release every frame it
    persisted, or each failure leaks a cached copy for the life of the
    session."""
    spark.catalog.clearCache()
    decisions = tmp_path / "decisions"
    decisions.write_text("a regular file, so the decisions write fails")
    batch = spark.createDataFrame([(1, [1.0, 0.1], 0), (2, [0.1, 1.0], 1)], _TINY_VEC)
    batch.write.parquet(str(tmp_path / "in" / "b0"))
    q = run_semdedup_stream(
        spark,
        updates_path=str(tmp_path / "in"),
        state_path=str(tmp_path / "state"),
        decisions_path=str(decisions),
        checkpoint_path=str(tmp_path / "ckpt"),
        schema=batch.schema,
        centroids=_centroids(spark),
    )
    assert _stream_error(q), "the decisions write must fail"
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
