"""Streaming incremental aggregation: maintain exact per-key aggregates
by merging algebraic partials per micro-batch.

The batch form of this algebra is ``plans/market_indicators.py::
partial_agg_merge`` (count/sum/min/max partials merge losslessly); this
sink runs it continuously: each micro-batch is reduced to per-key
partials (count, sum, min, max), merged with the on-disk partial state,
and the state swapped atomically. Derived measures (avg) are computed
from merged sums at read time, never stored — storing them would break
re-mergeability.

Why partials and not Structured Streaming's built-in stateful agg: the
built-in operator keeps state in the state store and emits via
update/complete mode; a PARTIAL-table-on-storage design instead makes
the state itself a queryable table (the materialized-view pattern),
survives checkpoint format changes, and merges offline batches and
streams through one code path. At 100 TB the state table is partitioned
by key range and each batch touches only the partitions its keys hash
to (here: one parquet dir, same plan).

Exactly-once: the merge is NOT idempotent under replay (counts would
double), so every batch runs behind ``commit.guard_replay`` and lands
through ``commit.staged_swap`` (the module doc there carries the crash
windows and the checkpoint-identity rule).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from .commit import guard_replay, read_updates, staged_swap, start_stream


def _partials(df: DataFrame, *, keys: list[str], value_col: str) -> DataFrame:
    return df.groupBy(*keys).agg(
        F.count("*").alias("p_cnt"),
        F.sum(value_col).alias("p_sum"),
        F.min(value_col).alias("p_min"),
        F.max(value_col).alias("p_max"),
    )


def merge_partials(base: DataFrame, delta: DataFrame, *, keys: list[str]) -> DataFrame:
    """Algebraic merge of two partial tables: count+count, sum+sum,
    min(min), max(max). Exact — proven against the one-shot aggregate in
    the batch twin's oracle."""
    return (
        base.unionByName(delta)
        .groupBy(*keys)
        .agg(
            F.sum("p_cnt").alias("p_cnt"),
            F.sum("p_sum").alias("p_sum"),
            F.min("p_min").alias("p_min"),
            F.max("p_max").alias("p_max"),
        )
    )


def read_aggregates(spark: SparkSession, state_path: str) -> DataFrame:
    """The queryable materialized view: derived measures from partials."""
    p = spark.read.parquet(state_path)
    return p.select(
        *[c for c in p.columns if not c.startswith("p_")],
        F.col("p_cnt").alias("n_rows"),
        F.col("p_sum").alias("sum_value"),
        F.col("p_min").alias("min_value"),
        F.col("p_max").alias("max_value"),
        (F.col("p_sum") / F.col("p_cnt")).alias("avg_value"),
    )


def run_incremental_agg_stream(
    spark: SparkSession,
    *,
    updates_path: str,
    state_path: str,
    checkpoint_path: str,
    schema: T.StructType,
    keys: list[str],
    value_col: str,
    transform=None,
) -> StreamingQuery:
    """Start the incremental-aggregation stream: file source over
    ``updates_path`` -> per-batch partial merge into ``state_path``.

    ``transform`` (DataFrame -> DataFrame, optional) runs on each
    micro-batch BEFORE the partial aggregation — the per-batch
    feature-derivation hook (e.g. text -> token counts for the mixture
    sink) so raw landings stream straight into a derived materialized
    view without a separate staging table."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if transform is not None:
            batch_df = transform(batch_df)
        applied, ckpt_id = guard_replay(state_path, checkpoint_path, batch_id)
        if applied:
            return  # replayed batch after a crash: already merged
        delta = _partials(batch_df, keys=keys, value_col=value_col)
        if os.path.exists(state_path):
            base = spark.read.parquet(state_path)
            merged = merge_partials(base, delta, keys=keys)
        else:
            merged = delta
        staged_swap(merged, state_path, batch_id=batch_id, checkpoint_id=ckpt_id)

    return start_stream(
        read_updates(spark, updates_path, schema), checkpoint_path, apply_batch
    )
