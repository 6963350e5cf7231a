"""Streaming CDC sink: maintain a latest-wins snapshot from a stream of
upsert/tombstone batches.

Each micro-batch is merged into the on-disk snapshot with
``operators/merge.py::merge_upsert`` (one shuffle on the merge key per
batch), then the snapshot is replaced through ``commit.staged_swap``
after ``commit._recover_state`` (the module doc there carries the crash
windows). A replay after a crash re-applies the same merge, and
latest-wins is idempotent by construction, so the sink needs no
checkpoint-identity guard: a fresh checkpoint over an old snapshot is
fine.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..operators.merge import merge_upsert
from .commit import _recover_state, read_updates, staged_swap, start_stream


def run_cdc_merge_stream(
    spark: SparkSession,
    *,
    updates_path: str,
    snapshot_path: str,
    checkpoint_path: str,
    schema: T.StructType,
    keys: list[str],
    version_col: str,
    tombstone_col: str | None = None,
) -> StreamingQuery:
    """Start the streaming merge: file source over ``updates_path`` ->
    per-batch latest-wins merge into ``snapshot_path``."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        _recover_state(snapshot_path)
        if os.path.exists(snapshot_path):
            base = spark.read.parquet(snapshot_path)
            if tombstone_col is not None and tombstone_col not in base.columns:
                # snapshots never carry tombstones (merge drops the
                # column); re-add a false flag so the union lines up
                base = base.withColumn(tombstone_col, F.lit(False))
        else:
            base = batch_df.limit(0)
        merged = merge_upsert(
            base,
            batch_df.select(base.columns),
            keys=keys,
            version_col=version_col,
            tombstone_col=tombstone_col,
        )
        staged_swap(merged, snapshot_path, batch_id=batch_id, checkpoint_id=None)

    return start_stream(
        read_updates(spark, updates_path, schema), checkpoint_path, apply_batch
    )
