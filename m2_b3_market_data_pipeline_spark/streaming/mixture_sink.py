"""Streaming maintenance of the data-mixture table.

``plans/corpus_prep.py::corpus_mixture`` is the per-(source, lang)
doc/token-count table training runs are configured from; this sink
maintains it CONTINUOUSLY as document batches land, instead of
rescanning the corpus per report. It is a thin specialization of
``agg_sink.run_incremental_agg_stream``: each micro-batch is tokenized
(the ``transform`` hook), reduced to per-(source, lang) partials
(count = docs, sum = tokens), and algebraically merged into the
on-disk partial state — inheriting the crash-safe swap, replay skip,
and checkpoint-identity guard wholesale. Token SHARES are derived at
read time from the merged sums (storing a share would break
re-mergeability, same rule as avg in the base sink).

At 100 TB the mixture state is (sources x langs) rows — metadata-sized
— while each batch's shuffle carries only map-side-combined partials;
the corpus text is read exactly once, in the batch that landed it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..functions.textfns import token_count
from .agg_sink import run_incremental_agg_stream

MIXTURE_KEYS = ["source", "lang"]


def run_incremental_mixture_stream(
    spark: SparkSession,
    *,
    updates_path: str,
    state_path: str,
    checkpoint_path: str,
    schema: T.StructType,
    text_col: str = "text",
) -> StreamingQuery:
    """File-source stream of document batches -> continuously merged
    per-(source, lang) doc/token partial table at ``state_path``."""

    def tokenize(batch: DataFrame) -> DataFrame:
        return batch.select(
            *MIXTURE_KEYS, token_count(F.col(text_col)).alias("n_tok")
        )

    return run_incremental_agg_stream(
        spark,
        updates_path=updates_path,
        state_path=state_path,
        checkpoint_path=checkpoint_path,
        schema=schema,
        keys=MIXTURE_KEYS,
        value_col="n_tok",
        transform=tokenize,
    )


def read_mixture(spark: SparkSession, state_path: str) -> DataFrame:
    """The queryable mixture table: (source, lang, n_docs, n_tokens,
    token_share) — same shape as the batch ``corpus_mixture`` query.
    The share is a window over the metadata-sized state, computed at
    read time from the merged sums."""
    p = spark.read.parquet(state_path)
    total = Window.partitionBy()
    return p.select(
        *MIXTURE_KEYS,
        F.col("p_cnt").alias("n_docs"),
        F.col("p_sum").alias("n_tokens"),
        F.round(
            F.col("p_sum").cast("double") / F.sum("p_sum").over(total), 6
        ).alias("token_share"),
    )
