"""Streaming maintenance of BM25 index statistics.

The continuous-crawl companion of ``operators/retrieval.py::bm25_topk``:
as document batches land, keep the (vocab-bounded) statistics BM25 needs
servable without corpus rescans — per-term document frequency, corpus
doc count, and total token count (avgdl). All three are ADDITIVE, so the
sink is a thin specialization of ``agg_sink.run_incremental_agg_stream``
(the same pattern as the count-min sink), inheriting the crash-safe
swap, replay skip, and checkpoint-identity guard.

State model, keyed (kind, term), value ``dl`` = the doc's token count:

- one ``('df', term)`` row per DISTINCT term per doc -> merged p_cnt is
  the term's document frequency (the inverted-index statistic);
- one ``('corpus', '')`` row per doc -> merged p_cnt is N, merged p_sum
  is total dl, so avgdl = p_sum / p_cnt.

What is deliberately NOT state: the postings (per-doc tf). They live in
the landed parquet itself — at 100 TB the tf of a query's few terms is a
scan-side computation over candidate docs (``bm25_topk_with_stats``),
while the state table stays |vocab| + 1 rows forever. Batch equivalence
is pinned in tests/test_streaming_sinks.py: draining N batches and
scoring with the streamed stats reproduces ``bm25_topk`` over their
union row-for-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..functions.textfns import tokens
from .agg_sink import run_incremental_agg_stream

POSTINGS_KEYS = ["kind", "term"]


def run_bm25_stats_stream(
    spark: SparkSession,
    *,
    updates_path: str,
    state_path: str,
    checkpoint_path: str,
    schema: T.StructType,
    text_col: str = "text",
) -> StreamingQuery:
    """File-source stream of document batches -> continuously merged
    BM25 statistics at ``state_path``."""

    def to_stats_rows(batch: DataFrame) -> DataFrame:
        base = batch.filter(F.col(text_col).isNotNull()).select(
            tokens(text_col).alias("__toks")
        )
        staged = base.select(
            F.size("__toks").alias("dl"),
            F.array_distinct("__toks").alias("__terms"),
        )
        df_rows = staged.select(
            F.lit("df").alias("kind"),
            F.explode("__terms").alias("term"),
            F.col("dl"),
        )
        corpus_rows = staged.select(
            F.lit("corpus").alias("kind"), F.lit("").alias("term"), F.col("dl")
        )
        return df_rows.unionByName(corpus_rows)

    return run_incremental_agg_stream(
        spark,
        updates_path=updates_path,
        state_path=state_path,
        checkpoint_path=checkpoint_path,
        schema=schema,
        keys=POSTINGS_KEYS,
        value_col="dl",
        transform=to_stats_rows,
    )


def read_bm25_stats(
    spark: SparkSession, state_path: str
) -> tuple[DataFrame, DataFrame]:
    """The queryable index statistics: (term_stats, corpus_stats) in
    exactly the shape ``bm25_topk_with_stats`` consumes — term_stats =
    (term, __df), corpus_stats = one row (__n_docs, __avgdl)."""
    state = spark.read.parquet(state_path)
    term_stats = state.filter(F.col("kind") == "df").select(
        "term", F.col("p_cnt").alias("__df")
    )
    corpus_stats = state.filter(F.col("kind") == "corpus").select(
        F.col("p_cnt").alias("__n_docs"),
        (F.col("p_sum") / F.col("p_cnt")).alias("__avgdl"),
    )
    return term_stats, corpus_stats
