"""Structured Streaming: the file-source ETL (availableNow, checkpoint,
incremental batches) and batch/streaming unification of windowed aggs.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from m2_b3_market_data_pipeline_spark.plans.ohlcv import derive_ohlcv, load_events
from m2_b3_market_data_pipeline_spark.streaming.file_pipeline import (
    RAW_OHLCV_SCHEMA,
    run_etl_stream,
)
from m2_b3_market_data_pipeline_spark.streaming.windows import (
    tumbling_counts,
    with_watermark,
)


def _write_raw(spark, sf_dir, path, assets=(0, 1, 2, 3)):
    bars = derive_ohlcv(load_events(spark, sf_dir))
    bars = bars.filter(F.col("ativo").isin([f"TICK{a}" for a in assets]))
    bars.select("Date", "Open", "High", "Low", F.col("Close"), "Volume", "ativo").write.mode(
        "append"
    ).parquet(path)


def test_file_stream_etl_end_to_end(spark, sf_dir, tmp_path):
    raw = str(tmp_path / "raw")
    refined = str(tmp_path / "refined")
    ckpt = str(tmp_path / "ckpt")
    _write_raw(spark, sf_dir, raw)

    q = run_etl_stream(
        spark,
        raw_path=raw,
        refined_path=refined,
        checkpoint_path=ckpt,
        run_date="2026-01-01",
    )
    q.awaitTermination(120)
    out = spark.read.parquet(refined)
    assert out.count() > 0
    assert {"mm_7d", "avg_close_price", "total_volume"} <= set(out.columns)
    assert out.select("ativo").distinct().count() == 4

    # second batch of files: availableNow rerun picks them up through the
    # same checkpoint and the refined output now covers all 8 assets
    _write_raw(spark, sf_dir, raw, assets=(4, 5, 6, 7))
    q2 = run_etl_stream(
        spark,
        raw_path=raw,
        refined_path=refined,
        checkpoint_path=ckpt,
        run_date="2026-01-01",
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(refined).select("ativo").distinct().count() == 8


def test_tumbling_batch_stream_unification(spark, sf_dir, tmp_path):
    """The same windowed-agg code over readStream (availableNow + memory
    sink, complete mode) must equal its batch run — the core Structured
    Streaming contract."""
    events = load_events_parquet_dir(spark, sf_dir, tmp_path)
    batch = {
        (r.event_type, r.ws, r.n): r.total_value
        for r in tumbling_counts(events).collect()
    }

    stream = (
        spark.readStream.schema(events.schema)
        .parquet(str(tmp_path / "events_dir"))
    )
    agg = tumbling_counts(with_watermark(stream, delay="1 day"))
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r.event_type, r.ws, r.n): r.total_value
        for r in spark.sql("SELECT * FROM tumbling_test").collect()
    }
    assert streamed == batch


def load_events_parquet_dir(spark, sf_dir, tmp_path):
    """Stage events into a directory (streaming file source needs a dir)."""
    from m2_b3_market_data_pipeline_spark.plans.registry import load

    events = load(spark, sf_dir, "events")
    events.write.mode("overwrite").parquet(str(tmp_path / "events_dir"))
    return spark.read.parquet(str(tmp_path / "events_dir"))


def test_stream_stream_join_matches_batch(spark, sf_dir, tmp_path):
    """view->click attribution as a REAL stream-stream join (watermarks
    on both sides bound join state) must equal the batch run of the same
    builder — batch/streaming unification for joins."""
    from m2_b3_market_data_pipeline_spark.streaming.joins import view_click_attribution

    events = load_events_parquet_dir(spark, sf_dir, tmp_path)
    batch = {
        (r.user_id, r.view_id, r.click_id)
        for r in view_click_attribution(events).collect()
    }
    assert batch, "fixture must produce at least one attribution pair"

    stream = spark.readStream.schema(events.schema).parquet(str(tmp_path / "events_dir"))
    joined = view_click_attribution(stream.withWatermark("ts", "1 day"))
    name = f"ssj_{int(time.time())}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r.user_id, r.view_id, r.click_id)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    assert streamed == batch


def test_streaming_dedup_drops_replayed_keys(spark, tmp_path):
    """dropDuplicates on a stream: a key replayed in a later file must
    be emitted exactly once."""
    from m2_b3_market_data_pipeline_spark.streaming.joins import dedup_events

    d = tmp_path / "dup"
    d.mkdir()
    first = spark.createDataFrame(
        [(1, "u1", "click", "2024-01-01 10:00:00"), (2, "u2", "view", "2024-01-01 10:01:00")],
        "event_id long, user_id string, event_type string, ts string",
    ).selectExpr("event_id", "user_id", "event_type", "cast(ts as timestamp) ts")
    first.write.mode("append").parquet(str(d / "f1"))
    replay = spark.createDataFrame(
        [(1, "u1", "click", "2024-01-01 10:00:00"), (3, "u3", "view", "2024-01-01 10:02:00")],
        "event_id long, user_id string, event_type string, ts string",
    ).selectExpr("event_id", "user_id", "event_type", "cast(ts as timestamp) ts")
    replay.write.mode("append").parquet(str(d / "f2"))

    stream = (
        spark.readStream.schema(first.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(d))
    )
    name = f"dedup_{int(time.time())}"
    q = (
        dedup_events(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(f"SELECT event_id FROM {name}").collect()
    ids = sorted(r.event_id for r in rows)
    assert ids == [1, 2, 3], ids


def test_watermark_drops_late_rows(spark, tmp_path):
    """Feed two files: recent rows, then a very late row. With a short
    watermark in append mode the late row's window never emits."""
    d = tmp_path / "late"
    d.mkdir()
    on_time = spark.createDataFrame(
        [("a", "2024-01-01 10:05:00", 1.0), ("a", "2024-01-01 12:00:00", 1.0)],
        "event_type string, ts string, value double",
    ).selectExpr("event_type", "cast(ts as timestamp) ts", "value")
    on_time.write.mode("append").parquet(str(d / "f1"))
    late = spark.createDataFrame(
        [("a", "2024-01-01 08:00:00", 99.0)], "event_type string, ts string, value double"
    ).selectExpr("event_type", "cast(ts as timestamp) ts", "value")
    late.write.mode("append").parquet(str(d / "f2"))

    stream = (
        spark.readStream.schema(on_time.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(d))
    )
    agg = tumbling_counts(with_watermark(stream, delay="30 minutes"))
    name = f"wm_{int(time.time())}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    emitted_ws = {str(r.ws) for r in rows}
    # the 08:00 window is behind the watermark when its row arrives in
    # batch 2 -> append mode never emits it
    assert "2024-01-01 08:00:00" not in emitted_ws


def test_streaming_cdc_merge_snapshot(spark, tmp_path):
    """Streaming upsert/tombstone batches maintain a latest-wins
    snapshot across separate availableNow runs of one checkpoint."""
    from pyspark.sql import types as T

    from m2_b3_market_data_pipeline_spark.streaming.cdc_sink import run_cdc_merge_stream

    updates = str(tmp_path / "updates")
    snapshot = str(tmp_path / "snap")
    ckpt = str(tmp_path / "cdc_ckpt")
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("version", T.LongType()),
            T.StructField("is_del", T.BooleanType()),
        ]
    )

    def run():
        q = run_cdc_merge_stream(
            spark,
            updates_path=updates,
            snapshot_path=snapshot,
            checkpoint_path=ckpt,
            schema=schema,
            keys=["k"],
            version_col="version",
            tombstone_col="is_del",
        )
        q.awaitTermination(120)

    batch1 = [(1, "a", 1, False), (2, "b", 1, False), (3, "c", 1, False)]
    spark.createDataFrame(batch1, schema).write.parquet(f"{updates}/b1")
    run()
    snap = {(r.k, r.v, r.version) for r in spark.read.parquet(snapshot).collect()}
    assert snap == {(1, "a", 1), (2, "b", 1), (3, "c", 1)}

    # second run: update 1, delete 2, insert 4 — only the new file is
    # processed through the same checkpoint
    batch2 = [(1, "a2", 2, False), (2, "b", 2, True), (4, "d", 2, False)]
    spark.createDataFrame(batch2, schema).write.parquet(f"{updates}/b2")
    run()
    snap = {(r.k, r.v, r.version) for r in spark.read.parquet(snapshot).collect()}
    assert snap == {(1, "a2", 2), (3, "c", 1), (4, "d", 2)}


def test_streaming_incremental_agg_matches_batch(spark, tmp_path):
    """Per-batch algebraic-partial merges converge to EXACTLY the
    one-shot aggregate over all data — the streaming materialized-view
    twin of partial_agg_merge. Replays through the same checkpoint do
    not double-count."""
    from pyspark.sql import types as T

    from m2_b3_market_data_pipeline_spark.streaming.agg_sink import (
        read_aggregates,
        run_incremental_agg_stream,
    )

    updates = str(tmp_path / "agg_updates")
    state = str(tmp_path / "agg_state")
    ckpt = str(tmp_path / "agg_ckpt")
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
    )

    def run():
        q = run_incremental_agg_stream(
            spark,
            updates_path=updates,
            state_path=state,
            checkpoint_path=ckpt,
            schema=schema,
            keys=["k"],
            value_col="v",
        )
        q.awaitTermination(120)

    batch1 = [("a", 10), ("a", 20), ("b", 5)]
    batch2 = [("a", 30), ("b", 1), ("c", 7)]
    spark.createDataFrame(batch1, schema).write.parquet(f"{updates}/b1")
    run()
    spark.createDataFrame(batch2, schema).write.parquet(f"{updates}/b2")
    run()
    # third run with no new files: checkpoint yields nothing new
    run()

    got = {
        r.k: (r.n_rows, r.sum_value, r.min_value, r.max_value, r.avg_value)
        for r in read_aggregates(spark, state).collect()
    }
    direct = {
        r.k: (r.n, r.s, r.mn, r.mx, r.avg)
        for r in spark.createDataFrame(batch1 + batch2, schema)
        .groupBy("k")
        .agg(
            F.count("*").alias("n"),
            F.sum("v").alias("s"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
            (F.sum("v") / F.count("*")).alias("avg"),
        )
        .collect()
    }
    assert got == direct


def test_incremental_agg_state_swap_crash_recovery(spark, tmp_path):
    """Every crash window of the state swap must be recoverable: the old
    state is set ASIDE (never deleted first) and a complete staging
    snapshot (marker present) is promoted on restart, so no window loses
    the state dir (the delete-then-rename shape silently rebuilt
    aggregates from empty on replay)."""
    import json
    import os

    from pyspark.sql import types as T

    from m2_b3_market_data_pipeline_spark.streaming.agg_sink import (
        read_aggregates,
        run_incremental_agg_stream,
    )
    from m2_b3_market_data_pipeline_spark.streaming.commit import (
        _APPLIED_MARKER,
        _read_marker,
        _recover_state,
    )

    updates = str(tmp_path / "agg_updates")
    state = str(tmp_path / "agg_state")
    ckpt = str(tmp_path / "agg_ckpt")
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
    )
    spark.createDataFrame([("a", 10), ("b", 5)], schema).write.parquet(f"{updates}/b1")
    run_incremental_agg_stream(
        spark,
        updates_path=updates,
        state_path=state,
        checkpoint_path=ckpt,
        schema=schema,
        keys=["k"],
        value_col="v",
    ).awaitTermination(120)
    applied, ckpt_id = _read_marker(state)
    assert applied == 0 and ckpt_id  # marker carries checkpoint identity

    # Simulate a crash BETWEEN the two renames: state gone, previous
    # state set aside, complete staging (newer marker) present.
    os.rename(state, state + ".old")
    staging = f"{state}.staging-1"
    spark.read.parquet(state + ".old").write.parquet(staging)
    with open(os.path.join(staging, _APPLIED_MARKER), "w") as fh:
        fh.write(json.dumps({"batch_id": 1, "checkpoint_id": ckpt_id}))
    _recover_state(state)
    assert _read_marker(state)[0] == 1  # newest complete staging won
    assert not os.path.exists(state + ".old")
    assert not os.path.exists(staging)

    # Simulate a crash with an INCOMPLETE staging (no marker): the
    # set-aside previous state must be restored, garbage cleared.
    os.rename(state, state + ".old")
    os.makedirs(f"{state}.staging-2")
    _recover_state(state)
    assert _read_marker(state)[0] == 1  # restored from .old
    assert not os.path.exists(f"{state}.staging-2")

    # The recovered state still serves reads.
    got = {r.k: r.sum_value for r in read_aggregates(spark, state).collect()}
    assert got == {"a": 10, "b": 5}


def test_marker_torn_write_reads_incomplete(tmp_path):
    """A torn/partial marker (crash mid-write) must read as 'staging
    incomplete' — (-1, None) — never raise: if _read_marker raises, the
    recovery path itself becomes unrecoverable without manual cleanup."""
    from m2_b3_market_data_pipeline_spark.streaming.commit import (
        _APPLIED_MARKER,
        _read_marker,
        _write_marker,
    )

    snap = tmp_path / "snap"
    snap.mkdir()
    # Torn JSON: a prefix of the real payload.
    (snap / _APPLIED_MARKER).write_text('{"batch_id": 7, "checkpoi')
    assert _read_marker(str(snap)) == (-1, None)
    # Garbage bytes.
    (snap / _APPLIED_MARKER).write_text("\x00\x01junk")
    assert _read_marker(str(snap)) == (-1, None)
    # Legacy plain-int marker still parses.
    (snap / _APPLIED_MARKER).write_text("3")
    assert _read_marker(str(snap)) == (3, None)
    # Atomic writer round-trips and leaves no temp file behind.
    _write_marker(str(snap), batch_id=9, checkpoint_id="ckpt-x")
    assert _read_marker(str(snap)) == (9, "ckpt-x")
    assert not (snap / (_APPLIED_MARKER + ".tmp")).exists()


@pytest.mark.parametrize(
    "crash_after",
    ["staging_written", "marker_written", "state_set_aside", "staging_promoted"],
)
def test_recover_state_converges_at_every_crash_window(tmp_path, crash_after):
    """Simulate a crash after EACH step of the swap protocol (stage ->
    marker -> set-aside -> promote) and assert _recover_state always
    converges to a serviceable state dir: either the committed batch-1
    snapshot (marker written => promotable) or the intact batch-0 state
    (marker absent => staging discarded, old state restored/kept)."""
    import json
    import os

    from m2_b3_market_data_pipeline_spark.streaming.commit import (
        _APPLIED_MARKER,
        _read_marker,
        _recover_state,
    )

    state = str(tmp_path / "state")
    staging = f"{state}.staging-1"

    def snapshot(path: str, batch_id: int | None, payload: str | None = None) -> None:
        os.makedirs(path)
        with open(os.path.join(path, "part-0.txt"), "w") as fh:
            fh.write(f"data-{batch_id}")
        if payload is not None:
            with open(os.path.join(path, _APPLIED_MARKER), "w") as fh:
                fh.write(payload)

    committed = json.dumps({"batch_id": 0, "checkpoint_id": "c"})
    next_marker = json.dumps({"batch_id": 1, "checkpoint_id": "c"})

    if crash_after == "staging_written":
        snapshot(state, 0, committed)
        snapshot(staging, 1, payload=None)  # no marker yet => incomplete
        expect = 0
    elif crash_after == "marker_written":
        snapshot(state, 0, committed)
        snapshot(staging, 1, next_marker)
        # State still present: recovery keeps it; the checkpoint replays
        # batch 1 (applied=0 < 1) and re-merges — no data loss.
        expect = 0
    elif crash_after == "state_set_aside":
        snapshot(state + ".old", 0, committed)
        snapshot(staging, 1, next_marker)  # state missing: promote staging
        expect = 1
    else:  # staging_promoted: only .old cleanup remains
        snapshot(state, 1, next_marker)
        snapshot(state + ".old", 0, committed)
        expect = 1

    _recover_state(state)
    assert os.path.isdir(state)
    assert _read_marker(state)[0] == expect
    assert not os.path.exists(staging)
    assert not os.path.exists(state + ".old")

    # A torn-marker staging must never be promoted over the set-aside
    # previous state, whatever the crash window was.
    os.rename(state, state + ".old")
    snapshot(staging, 2, '{"batch_id": 2, "chec')  # torn marker
    _recover_state(state)
    assert _read_marker(state)[0] == expect  # .old restored, torn staging dropped
    assert not os.path.exists(staging)


def test_streaming_incremental_dedup_matches_batch(spark, tmp_path):
    """Continuous-crawl curation: after draining two micro-batches, the
    union of per-batch pair outputs equals the BATCH incremental join of
    each batch against the corpus admitted before it, the signature
    store holds every doc, and a checkpoint replay adds nothing."""
    from pyspark.sql import types as T

    from m2_b3_market_data_pipeline_spark.operators.dedup import (
        minhash_incremental_pairs,
        release_cached,
    )
    from m2_b3_market_data_pipeline_spark.streaming.near_dedup_sink import (
        read_pairs,
        read_signatures,
        run_incremental_dedup_stream,
    )

    updates = str(tmp_path / "docs_in")
    state = str(tmp_path / "sig_store")
    pairs_out = str(tmp_path / "pairs_out")
    ckpt = str(tmp_path / "dedup_ckpt")
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    b1 = [(1, base), (2, "completely different words about spark shuffles and catalyst")]
    b2 = [
        (11, base + " indeed"),            # near-dup of corpus doc 1
        (12, "novel incoming text about tokenizers embeddings and curation"),
    ]

    def run():
        run_incremental_dedup_stream(
            spark,
            updates_path=updates,
            state_path=state,
            pairs_path=pairs_out,
            checkpoint_path=ckpt,
            schema=schema,
            threshold=0.5,
        ).awaitTermination(120)

    spark.createDataFrame(b1, schema).write.parquet(f"{updates}/b1")
    run()
    spark.createDataFrame(b2, schema).write.parquet(f"{updates}/b2")
    run()
    run()  # no new files: replay-safe, nothing double-written

    got = {
        (r.delta_id, r.corpus_id, r.jaccard)
        for r in read_pairs(spark, pairs_out).collect()
    }
    oracle = minhash_incremental_pairs(
        spark.createDataFrame(b2, schema), spark.createDataFrame(b1, schema)
    )
    want = {(r.delta_id, r.corpus_id, r.jaccard) for r in oracle.collect()}
    release_cached(oracle)
    assert got == want and (11, 1, 1.0) not in got  # jaccard < 1 but >= 0.5
    assert any(d == 11 and c == 1 for d, c, _ in got)
    assert not any(d == 12 for d, c, _ in got)
    sigs = read_signatures(spark, state)
    assert {r.doc_id for r in sigs.select("doc_id").collect()} == {1, 2, 11, 12}
    assert "sh" in sigs.columns and "mh0" in sigs.columns


def test_presigned_incremental_equals_from_text(spark):
    """The stored-signature-table path must produce exactly the pairs
    the from-text path does — the 100 TB claim (corpus text never
    rescanned) changes the data flow, not the result."""
    from m2_b3_market_data_pipeline_spark.operators.dedup import (
        fan_out,
        minhash_incremental_pairs,
        minhash_incremental_pairs_presigned,
        release_cached,
        with_minhash,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    corpus = spark.createDataFrame(
        [(1, base), (2, "unrelated corpus words about catalyst and tungsten")],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [(11, base + " again"), (12, "novel text entirely")], "doc_id long, text string"
    )
    a = minhash_incremental_pairs(delta, corpus)
    got_text = {(r.delta_id, r.corpus_id, r.jaccard) for r in a.collect()}
    release_cached(a)
    corpus_sigs = with_minhash(fan_out(corpus))
    b = minhash_incremental_pairs_presigned(delta, corpus_sigs)
    got_presigned = {(r.delta_id, r.corpus_id, r.jaccard) for r in b.collect()}
    release_cached(b)
    assert got_text == got_presigned and len(got_text) > 0


def test_bounded_dedup_drops_replays_within_horizon(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a replay inside the lateness
    window is suppressed, and state is evicted past the watermark (the
    bounded-state production form of streaming dedup)."""
    from m2_b3_market_data_pipeline_spark.streaming.joins import dedup_events_bounded

    d = tmp_path / "bdup"
    d.mkdir()
    first = spark.createDataFrame(
        [(1, "u1", "click", "2024-01-01 10:00:00"), (2, "u2", "view", "2024-01-01 10:01:00")],
        "event_id long, user_id string, event_type string, ts string",
    ).selectExpr("event_id", "user_id", "event_type", "cast(ts as timestamp) ts")
    first.write.mode("append").parquet(str(d / "f1"))
    replay = spark.createDataFrame(
        [(1, "u1", "click", "2024-01-01 10:00:30"), (3, "u3", "view", "2024-01-01 10:02:00")],
        "event_id long, user_id string, event_type string, ts string",
    ).selectExpr("event_id", "user_id", "event_type", "cast(ts as timestamp) ts")
    replay.write.mode("append").parquet(str(d / "f2"))

    stream = (
        spark.readStream.schema(first.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(d))
    )
    name = f"bdedup_{int(time.time())}"
    q = (
        dedup_events_bounded(stream, delay="1 hour")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ids = sorted(r.event_id for r in spark.sql(f"SELECT event_id FROM {name}").collect())
    assert ids == [1, 2, 3], ids


def test_streaming_mixture_matches_batch_corpus_mixture(spark, sf_dir, tmp_path):
    """Draining document batches through the mixture sink converges to
    EXACTLY the one-shot corpus_mixture table over the union of all
    batches — the streaming materialized-view twin of the mixture
    report, with the per-batch transform hook doing the tokenization."""
    from pyspark.sql import types as T

    from m2_b3_market_data_pipeline_spark.functions.textfns import token_count
    from m2_b3_market_data_pipeline_spark.streaming.mixture_sink import (
        read_mixture,
        run_incremental_mixture_stream,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    updates = str(tmp_path / "mix_updates")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    b1.write.parquet(f"{updates}/b1")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
        ]
    )
    state = str(tmp_path / "mix_state")
    ckpt = str(tmp_path / "mix_ckpt")

    def drain():
        run_incremental_mixture_stream(
            spark,
            updates_path=updates,
            state_path=state,
            checkpoint_path=ckpt,
            schema=schema,
        ).awaitTermination(120)

    drain()
    b2.write.parquet(f"{updates}/b2")
    drain()

    got = {
        (r.source, r.lang): (r.n_docs, r.n_tokens, r.token_share)
        for r in read_mixture(spark, state).collect()
    }
    t = docs.select("source", "lang", token_count(F.col("text")).alias("n_tok"))
    g = t.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens")
    )
    from pyspark.sql import Window as W

    direct = {
        (r.source, r.lang): (r.n_docs, r.n_tokens, r.token_share)
        for r in g.withColumn(
            "token_share",
            F.round(F.col("n_tokens").cast("double") / F.sum("n_tokens").over(W.partitionBy()), 6),
        ).collect()
    }
    assert got == direct


def test_streaming_funnel_matches_batch_quality_gate_funnel(spark, sf_dir, tmp_path):
    """Draining document batches through the funnel sink converges to
    EXACTLY the one-shot quality-gate funnel over the union of all
    batches — the streaming materialized-view twin of the curation
    funnel, gating through the SHARED quality_gate_stats code path
    (zero-token docs included in stage 0)."""
    from pyspark.sql import types as T

    from m2_b3_market_data_pipeline_spark.operators.corpus import quality_gate_stats
    from m2_b3_market_data_pipeline_spark.streaming.funnel_sink import (
        read_funnel,
        run_incremental_funnel_stream,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    # plant a zero-token and a NULL-text doc: they must count in stage 0
    extra = spark.createDataFrame(
        [(900001, "   "), (900002, None)], "doc_id long, text string"
    )
    docs = docs.unionByName(extra)
    updates = str(tmp_path / "fn_updates")
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(f"{updates}/b1")
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    state = str(tmp_path / "fn_state")
    ckpt = str(tmp_path / "fn_ckpt")

    def drain():
        run_incremental_funnel_stream(
            spark,
            updates_path=updates,
            state_path=state,
            checkpoint_path=ckpt,
            schema=schema,
        ).awaitTermination(120)

    drain()
    docs.filter(F.col("doc_id") % 2 == 1).write.parquet(f"{updates}/b2")
    drain()

    got = {r.stage: (r.docs, r.tokens) for r in read_funnel(spark, state).collect()}
    g = quality_gate_stats(docs)
    agg = g.agg(
        F.count("*").alias("d0"), F.sum("n_tok").alias("t0"),
        F.count(F.when(F.col("g1"), 1)).alias("d1"),
        F.coalesce(F.sum(F.when(F.col("g1"), F.col("n_tok"))), F.lit(0)).alias("t1"),
        F.count(F.when(F.col("g2"), 1)).alias("d2"),
        F.coalesce(F.sum(F.when(F.col("g2"), F.col("n_tok"))), F.lit(0)).alias("t2"),
        F.count(F.when(F.col("g3"), 1)).alias("d3"),
        F.coalesce(F.sum(F.when(F.col("g3"), F.col("n_tok"))), F.lit(0)).alias("t3"),
    ).collect()[0]
    expected = {
        0: (agg.d0, agg.t0), 1: (agg.d1, agg.t1),
        2: (agg.d2, agg.t2), 3: (agg.d3, agg.t3),
    }
    assert got == expected
    # total row count sanity: stage 0 counts EVERY landed doc
    assert got[0][0] == docs.count()


def test_streaming_funnel_emits_all_stages_when_gates_pass_nothing(spark, tmp_path):
    """When no document passes any gate, the state holds only stage 0 —
    read_funnel must still return all 4 stages with zero fills, matching
    the batch twin's stack(4, ...) shape."""
    from pyspark.sql import types as T

    from m2_b3_market_data_pipeline_spark.streaming.funnel_sink import (
        read_funnel,
        run_incremental_funnel_stream,
    )

    docs = spark.createDataFrame(
        [(1, "too short"), (2, "also tiny"), (3, None)],
        "doc_id long, text string",
    )
    updates = str(tmp_path / "zf_updates")
    docs.write.parquet(f"{updates}/b1")
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    run_incremental_funnel_stream(
        spark,
        updates_path=updates,
        state_path=str(tmp_path / "zf_state"),
        checkpoint_path=str(tmp_path / "zf_ckpt"),
        schema=schema,
    ).awaitTermination(120)
    rows = read_funnel(spark, str(tmp_path / "zf_state")).collect()
    assert [(r.stage, r.docs, r.tokens) for r in rows] == [
        (0, 3, 4), (1, 0, 0), (2, 0, 0), (3, 0, 0),
    ]
