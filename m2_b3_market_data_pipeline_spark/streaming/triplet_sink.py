"""Streaming triplet mining: contrastive training pairs from a GROWING
corpus.

Each micro-batch of labeled vectors plays two roles: its rows are
first QUERIES mined against the corpus admitted so far (nearest
same-label positive + nearest different-label hard negative, via the
single-pass struct-argmax of ``operators/similarity.py::
hard_negative_mining``), then the whole batch is admitted into the
corpus store for future batches to mine against. Batch 0 seeds the
corpus and mines nothing — exactly the wave semantics of the batch
operator ``wave_triplet_mining`` (candidate.wave < query.wave), which
is the pinned batch-equivalence oracle: feeding the waves as files and
draining reproduces its output with wave = batch id.

Per batch:

1. triplets land under ``triplets_path/batch=<id>`` — overwrite per
   batch directory, so a replay is idempotent;
2. the batch's (id, label, vector) rows union into the corpus store
   behind ``commit.guard_replay`` and through ``commit.staged_swap``.

State is the labeled corpus store itself — vectors are read once, in
the batch that admitted them; no raw-text or re-scoring state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..operators.similarity import hard_negative_mining
from .commit import guard_replay, read_updates, staged_swap, start_stream

TRIPLET_SCHEMA = (
    "query_id long, label int, wave long, pos_id long, pos_cos double, "
    "neg_id long, neg_cos double"
)


def read_corpus(spark: SparkSession, state_path: str) -> DataFrame:
    """The labeled corpus store (id, label, vector)."""
    return spark.read.parquet(state_path)


def read_triplets(spark: SparkSession, triplets_path: str) -> DataFrame:
    """All triplets mined so far, with wave = the batch that mined them."""
    return (
        spark.read.schema(TRIPLET_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(triplets_path)
    )


def run_triplet_stream(
    spark: SparkSession,
    *,
    updates_path: str,
    state_path: str,
    triplets_path: str,
    checkpoint_path: str,
    schema: T.StructType,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_predicate: str | None = None,
) -> StreamingQuery:
    """Start the stream: file source over ``updates_path`` -> per-batch
    triplet mining vs the corpus-so-far + corpus merge.

    ``query_predicate`` (SQL bool expr over the batch's columns)
    optionally restricts which incoming rows mine triplets — the whole
    batch is admitted to the corpus either way. The mining query side
    is broadcast per the ``hard_negative_mining`` contract, so the
    predicate is also the broadcast-size control."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        applied, ckpt_id = guard_replay(state_path, checkpoint_path, batch_id)
        if applied:
            return  # replayed batch: triplets + corpus rows already on disk
        batch = batch_df.select(id_col, label_col, vec_col)
        has_corpus = os.path.exists(state_path)
        if has_corpus:
            corpus = read_corpus(spark, state_path)
            queries = (
                batch.filter(F.expr(query_predicate)) if query_predicate else batch
            )
            triplets = hard_negative_mining(
                corpus, queries, id_col=id_col, vec_col=vec_col, label_col=label_col
            ).select(
                F.col("query_id").cast("long"),
                F.col("label"),
                F.lit(batch_id).cast("long").alias("wave"),
                F.col("pos_id").cast("long"),
                "pos_cos",
                F.col("neg_id").cast("long"),
                "neg_cos",
            )
        else:
            triplets = spark.createDataFrame([], TRIPLET_SCHEMA)
        # Triplets first (per-batch dir, overwrite => replay-idempotent),
        # then the corpus swap whose marker commits the batch.
        triplets.write.mode("overwrite").parquet(
            os.path.join(triplets_path, f"batch={batch_id}")
        )
        merged = corpus.unionByName(batch) if has_corpus else batch
        staged_swap(merged, state_path, batch_id=batch_id, checkpoint_id=ckpt_id)

    return start_stream(
        read_updates(spark, updates_path, schema), checkpoint_path, apply_batch
    )
