"""Streaming incremental near-dedup: continuous-crawl curation.

Each micro-batch of incoming documents is checked against the corpus
accepted SO FAR via the cross-relation MinHash LSH join
(``operators/dedup.py::minhash_incremental_pairs_presigned``), then its
signatures land as an APPEND-ONLY per-batch partition of the on-disk
SIGNATURE TABLE — the state is the signature store itself (queryable,
append-only in content AND now in layout), never raw text: corpus text
is read exactly once, in the batch that admitted it.

Store maintenance is INCREMENTAL (round 11 — the same rewrite the
semdedup sink got, same rationale: §17.1 measured the drain wall owned
by the per-wave whole-store rewrite, and signatures are append-only by
construction). Per batch:

1. near-dup pairs (delta vs stored signatures, EXCLUDING any partial
   write of this same batch id — the replay crash window, where the
   delta would otherwise pair with its own partial copy at jaccard
   1.0) land under ``pairs_path/batch=<id>`` — overwrite per batch
   directory, so a replay is idempotent;
2. the delta's signatures overwrite-write ``state_path/batch=<id>``
   (replay-idempotent for the same exclusion reason), then the
   (checkpoint id, batch id) marker commits — the ``commit`` module's
   protocol, with the staged swap kept for compaction. A flat store
   from an older run is migrated into a ``batch=-1`` partition on first
   touch (``commit._migrate_flat_store``), so the old corpus is neither
   invisible to dedup nor unreachable to the readers.

Batch-equivalence contract (pinned in tests): after draining batches
b1..bN, the union of pair outputs equals running the BATCH incremental
join of each bi against b1..b(i-1) — within-batch duplicates are
intentionally out of scope (the batch dedup operators own intra-batch
dedup; this sink owns cross-batch admission).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import (
    _cross_pairs_from_signed,
    fan_out,
    require_numeric_minhash,
    with_minhash,
)
from .commit import (
    _migrate_flat_store,
    batch_partitions,
    commit_partition,
    guard_replay,
    read_updates,
    start_stream,
)

PAIR_SCHEMA = "delta_id long, corpus_id long, jaccard double"


def read_signatures(
    spark: SparkSession, state_path: str, *, below_batch: int | None = None
) -> DataFrame:
    """The signature store (with_minhash layout: id, sh, mh0..mhK). The
    ``batch`` bookkeeping partition column is dropped on read. A
    pre-round-11 flat store is migrated into ``batch=-1`` first so its
    rows stay reachable (commit._migrate_flat_store)."""
    _migrate_flat_store(state_path)
    paths = batch_partitions(state_path, below=below_batch)
    if not paths:
        raise FileNotFoundError(f"no committed store data under {state_path}")
    return spark.read.option("basePath", state_path).parquet(*paths).drop("batch")


def read_pairs(spark: SparkSession, pairs_path: str) -> DataFrame:
    """All cross-batch near-dup pairs found so far."""
    return (
        spark.read.schema(PAIR_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(pairs_path)
    )


def run_incremental_dedup_stream(
    spark: SparkSession,
    *,
    updates_path: str,
    state_path: str,
    pairs_path: str,
    checkpoint_path: str,
    schema: T.StructType,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Start the stream: file source over ``updates_path`` -> per-batch
    dedup-against-corpus + append-only signature partition (module doc
    carries the store design and its crash windows).

    ``compact_every``: fold the per-batch partitions into one every N
    committed batches through the staged swap — bounds file count at
    waves x files-per-wave for long-lived streams; None (default) never
    compacts, the right call for bounded drains. Same semantics as the
    semdedup sink's knob."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        applied, ckpt_id = guard_replay(state_path, checkpoint_path, batch_id)
        if applied:
            return  # replayed batch: pairs + signatures already on disk
        # Flat store -> batch=-1, BEFORE the has_corpus check: otherwise
        # the old corpus reads as empty and this batch is admitted
        # without dedup against it.
        _migrate_flat_store(state_path)
        d_signed = with_minhash(
            fan_out(batch_df.select(id_col, text_col)),
            text_col=text_col,
            id_col=id_col,
        ).persist()
        try:
            sig_cols = [id_col, "sh"] + [
                c for c in d_signed.columns if c.startswith("mh")
            ]
            # Corpus = committed batches strictly below this one (the
            # replay crash window — see module doc).
            has_corpus = bool(batch_partitions(state_path, below=batch_id))
            if has_corpus:
                corpus_sigs = read_signatures(
                    spark, state_path, below_batch=batch_id
                )
                # A pre-numeric-hash store would silently NULL out of the
                # banding join under unionByName type coercion — fail loudly.
                require_numeric_minhash(corpus_sigs, where=f"signature store {state_path}")
                pairs = _cross_pairs_from_signed(
                    d_signed, corpus_sigs, id_col=id_col, threshold=threshold
                )
            else:
                pairs = spark.createDataFrame([], PAIR_SCHEMA)
            # Pairs first (per-batch dir, overwrite => replay-idempotent),
            # then the delta's signature partition, then the marker that
            # commits both.
            pairs.write.mode("overwrite").parquet(
                os.path.join(pairs_path, f"batch={batch_id}")
            )
            d_signed.select(*sig_cols).write.mode("overwrite").parquet(
                os.path.join(state_path, f"batch={batch_id}")
            )
            commit_partition(
                spark, state_path, read_signatures, batch_id=batch_id,
                checkpoint_id=ckpt_id, compact_every=compact_every,
            )
        finally:
            # Unconditional: a mid-batch failure (a failed write) must
            # not leak the persisted frame for the life of the session —
            # each retry would persist a fresh copy.
            d_signed.unpersist()

    return start_stream(
        read_updates(spark, updates_path, schema), checkpoint_path, apply_batch
    )
