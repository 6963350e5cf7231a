"""Streaming maintenance of a count-min sketch.

The CM table (operators/sketches.py) is the canonical ALGEBRAIC
aggregate — counters merge by addition — so continuous maintenance is a
thin specialization of ``agg_sink.run_incremental_agg_stream``: each
micro-batch tokenizes its documents, explodes every token into its
``depth`` (row_id, bucket) coordinates (the ``transform`` hook), and the
base sink's partial merge adds them into the on-disk counter state,
inheriting the crash-safe swap, replay skip, and checkpoint-identity
guard wholesale.

This is the streaming shape frequency sketching actually runs in at
100 TB: the state is depth x width counters FOREVER, regardless of how
many batches land, and each batch's shuffle is map-side-combined down to
at most depth x width partial rows. ``read_countmin`` hands the merged
table straight to ``countmin_estimate`` — estimates over the live
stream with zero corpus rescans. Batch equivalence is pinned in
tests/test_streaming_sinks.py: draining N batches reproduces
``countmin_table`` over their union exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..operators.sketches import CM_SEED, _coords
from .agg_sink import run_incremental_agg_stream

CM_KEYS = ["row_id", "bucket"]


def run_incremental_countmin_stream(
    spark: SparkSession,
    *,
    updates_path: str,
    state_path: str,
    checkpoint_path: str,
    schema: T.StructType,
    text_col: str = "text",
    depth: int = 3,
    width: int = 8,
    seed: int = CM_SEED,
) -> StreamingQuery:
    """File-source stream of document batches -> continuously merged CM
    counter state at ``state_path``."""

    def to_coords(batch: DataFrame) -> DataFrame:
        tok = batch.select(
            F.explode(F.split(F.col(text_col), r"\s+")).alias("word")
        ).filter(F.col("word") != "")
        return tok.select(
            F.explode(
                _coords(F.col("word"), depth=depth, width=width, seed=seed)
            ).alias("c")
        ).select(
            F.col("c.row_id").alias("row_id"),
            F.col("c.bucket").alias("bucket"),
            F.lit(1).alias("one"),
        )

    return run_incremental_agg_stream(
        spark,
        updates_path=updates_path,
        state_path=state_path,
        checkpoint_path=checkpoint_path,
        schema=schema,
        keys=CM_KEYS,
        value_col="one",
        transform=to_coords,
    )


def read_countmin(spark: SparkSession, state_path: str) -> DataFrame:
    """The queryable CM table: (row_id, bucket, cnt) — identical shape
    to the batch ``countmin_table``, ready for ``countmin_estimate``."""
    return spark.read.parquet(state_path).select(
        "row_id", "bucket", F.col("p_cnt").alias("cnt")
    )
