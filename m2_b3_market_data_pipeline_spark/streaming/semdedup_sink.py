"""Streaming incremental SEMANTIC dedup: continuous-crawl curation in
embedding space.

Each micro-batch of incoming vectors is (1) assigned to its nearest
coarse-codebook cell (broadcast argmin), (2) pruned against the corpus
admitted SO FAR — cell-locally, via the shared
``operators/embeddings.py::semdedup_prune_assigned`` rule (one code
path with the batch operator, the funnel-sink precedent), and (3) the
SURVIVORS land as an APPEND-ONLY per-batch partition of the on-disk
assigned store. The state is the (id, centroid_id, vector) store
itself — laid out as FLAT ``batch=<id>`` partitions with centroid_id
as a plain column (round 12; earlier rounds wrote
``batch=<id>/centroid_id=<c>/`` cell dirs, which the reader still
accepts — the cell layout never helped the verify join, a parquet
directory partition does not co-locate an equi-join, and it cost
|cells| tiny files per wave).

Store maintenance is INCREMENTAL (round 11, r10 verdict item 4): the
r10 30x campaign measured the drain wall dominated not by the verify
join but by the crash-safe swap REWRITING the whole store into
~400-1000 cell directories every wave (SCALE.md §17.1 — 2.2x wall for
3x backlog). Survivors are append-only per cell, so each wave now
writes ONLY its own survivors (one corpus-write total across a drain,
vs ~waves/2 corpus-rewrites under the swap), and the full rewrite
survives as an optional COMPACTION every ``compact_every`` batches
(bounding small-file growth at long stream lifetimes; the amortized
form of "batch the rewrite across waves").

Per batch:

1. prune decisions (delta vs stored corpus, EXCLUDING any partial
   write of this same batch id — the replay crash window) land under
   ``decisions_path/batch=<id>`` — overwrite per batch directory, so a
   replay is idempotent;
2. the admitted (non-pruned) rows overwrite-write
   ``state_path/batch=<id>`` (replay-idempotent for the same reason:
   the decisions they derive from exclude this batch's own partial
   data), then the (checkpoint id, batch id) marker commits — the
   ``commit`` module's protocol, with the staged swap reserved for
   compaction.

Batch-equivalence contract (pinned in tests): after draining batches
b1..bN, the union of decision outputs equals applying the BATCH
``semdedup_incremental`` of each bi against the survivors of
b1..b(i-1) — within-batch semantic duplicates are intentionally out of
scope (the batch ``semdedup`` owns intra-corpus dedup; this sink owns
cross-batch admission).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..operators.embeddings import assign_with_vector, semdedup_prune_assigned
from .commit import (
    _migrate_flat_store,
    batch_partitions,
    commit_partition,
    guard_replay,
    read_updates,
    start_stream,
)

DECISION_SCHEMA = "vec_id long, centroid_id long, pruned boolean"

def read_assigned(
    spark: SparkSession, state_path: str, *, below_batch: int | None = None
) -> DataFrame:
    """The assigned corpus store (assign_with_vector layout:
    id, centroid_id, vector). Since round 12 batches are written FLAT
    (centroid_id as a plain column — see the survivor-write comment);
    batches written by older code carry ``centroid_id=*`` cell dirs
    instead, where the value comes back through directory inference as
    an int. Both layouts are read (split into two scans, since one
    spark.read cannot treat centroid_id as a partition column in some
    files and a data column in others) and unioned with centroid_id
    normalized to the long the assignment produces. The ``batch``
    bookkeeping column is dropped. A pre-round-11 flat store is
    migrated into ``batch=-1`` first so its rows stay reachable
    (commit._migrate_flat_store)."""
    _migrate_flat_store(state_path)
    paths = batch_partitions(state_path, below=below_batch)
    if not paths:
        raise FileNotFoundError(f"no committed store data under {state_path}")
    celled = [
        p
        for p in paths
        if any(n.startswith("centroid_id=") for n in os.listdir(p))
    ]
    flat = [p for p in paths if p not in set(celled)]
    parts = []
    for group in (flat, celled):
        if group:
            df = spark.read.option("basePath", state_path).parquet(*group)
            parts.append(
                df.drop("batch").withColumn(
                    "centroid_id", F.col("centroid_id").cast("long")
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_decisions(spark: SparkSession, decisions_path: str) -> DataFrame:
    """All cross-batch admission decisions so far."""
    return (
        spark.read.schema(DECISION_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(decisions_path)
    )


def run_semdedup_stream(
    spark: SparkSession,
    *,
    updates_path: str,
    state_path: str,
    decisions_path: str,
    checkpoint_path: str,
    schema: T.StructType,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    assign_fn=None,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Start the stream: file source over ``updates_path`` -> per-batch
    cell-local semantic dedup vs the admitted corpus + append-only
    survivor partition (module doc carries the store-maintenance
    design and its crash windows).

    The coarse quantizer is a strategy — exactly one of:

    - ``centroids``: the fixed codebook (centroid_id, centroid), small
      by contract (broadcast inside every assignment), shared by every
      batch so assignment is stable across the stream's life; or
    - ``assign_fn``: any df -> (id, centroid_id, vector) assignment
      with the ``assign_with_vector`` layout — in practice
      ``operators/embeddings.py::lsh_cell_assigner``, the cells-∝-corpus
      posture (SCALE.md §14/§15): the codebook-form drain wall at 10x
      backlog is the delta-vs-cell verify under a codebook whose cells
      do NOT grow with the corpus; the LSH assigner keeps cell
      occupancy bounded by sizing bits to the planned corpus.

    ``compact_every``: fold the per-batch partitions into one every N
    committed batches (the staged swap, amortized) — bounds file count
    at waves x cells for long-lived streams; None (default) never
    compacts, the right call for bounded drains.

    Everything downstream of assignment — the shared prune rule, the
    decisions/survivor writes, the marker — is identical across
    quantizers, so the batch-equivalence and replay contracts hold for
    both."""
    if (centroids is None) == (assign_fn is None):
        raise ValueError("pass exactly one of centroids / assign_fn")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        applied, ckpt_id = guard_replay(state_path, checkpoint_path, batch_id)
        if applied:
            return  # replayed batch: decisions + survivors already on disk
        # Flat store (centroid_id=* cells at the root) -> batch=-1,
        # BEFORE the has_corpus check: otherwise the old corpus reads as
        # empty and this batch is admitted without pruning against it.
        _migrate_flat_store(state_path)
        batch = batch_df.select(id_col, vec_col)
        if assign_fn is not None:
            assigned = assign_fn(batch, id_col=id_col, vec_col=vec_col)
        else:
            assigned = assign_with_vector(
                batch, centroids, id_col=id_col, vec_col=vec_col
            )
        assigned = assigned.persist()
        cached = [assigned]
        try:
            # Corpus = committed batches strictly below this one: a
            # replay after a crash between the survivor write and the
            # marker must not see its own partial partition (the
            # delta's vectors would self-match at cos 1.0 and every
            # replayed row would flip to pruned).
            has_corpus = bool(batch_partitions(state_path, below=batch_id))
            if has_corpus:
                corpus = read_assigned(spark, state_path, below_batch=batch_id)
                decisions = semdedup_prune_assigned(
                    assigned, corpus, id_col=id_col, vec_col=vec_col,
                    threshold=threshold,
                )
            else:
                decisions = assigned.select(
                    id_col, "centroid_id", F.lit(False).alias("pruned")
                )
            decisions = decisions.persist()
            cached.append(decisions)
            # Decisions first (per-batch dir, overwrite => replay-
            # idempotent), then the survivor partition, then the marker
            # that commits both.
            decisions.write.mode("overwrite").parquet(
                os.path.join(decisions_path, f"batch={batch_id}")
            )
            survivors = assigned.join(
                decisions.filter(~F.col("pruned")).select(id_col), id_col
            ).select(id_col, "centroid_id", vec_col)
            # FLAT per-batch write (round 12): centroid_id rides as a
            # plain column, NOT a partitionBy directory. The cell-dir
            # layout bought the verify join nothing — a parquet
            # directory partition does not co-locate a join, the
            # centroid_id equi-join shuffles either way — while costing
            # |cells| tiny files per wave (the 12k-task listing wall
            # SCALE.md §21.4 recorded at sf30). One file set per batch
            # is the near_dedup sink's layout, at its per-row cost.
            survivors.write.mode("overwrite").parquet(
                os.path.join(state_path, f"batch={batch_id}")
            )
            commit_partition(
                spark, state_path, read_assigned, batch_id=batch_id,
                checkpoint_id=ckpt_id, compact_every=compact_every,
            )
        finally:
            # Unconditional: a mid-batch failure must not leak the
            # persisted frames for the life of the session.
            for df in cached:
                df.unpersist()

    return start_stream(
        read_updates(spark, updates_path, schema), checkpoint_path, apply_batch
    )
