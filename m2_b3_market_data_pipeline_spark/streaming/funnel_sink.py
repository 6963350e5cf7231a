"""Streaming maintenance of the quality-gate funnel table.

``plans/corpus_quality.py::quality_gate_funnel`` is the per-stage
docs/tokens report a curation run publishes; this sink maintains it
CONTINUOUSLY as document batches land — the monitoring view that shows
filter costs drifting as new crawls arrive, without rescanning the
corpus per report.

A thin specialization of ``agg_sink.run_incremental_agg_stream`` (same
pattern as the mixture sink): each micro-batch runs the SHARED per-doc
gate computation (``operators/corpus.py::quality_gate_stats`` — the
exact code the oracle-checked batch funnel uses, so the two surfaces
cannot drift), fans each doc out to one row per stage it passes
(stage 0 always; the gates are cumulative so a doc passing g2 emits
stages 0,1,2), and merges (stage -> doc count, token sum) partials into
the on-disk state — inheriting the crash-safe swap, replay skip, and
checkpoint-identity guard wholesale.

At 100 TB the funnel state is 4 rows; each batch's shuffle carries only
map-side-combined partials, and each document's text is gated exactly
once, in the batch that landed it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..operators.corpus import GATE_COLS, N_GATE_STAGES, quality_gate_stats
from .agg_sink import run_incremental_agg_stream


def _stage_rows(batch: DataFrame) -> DataFrame:
    """(stage, n_tok) — one row per stage each document reaches. Built
    from GATE_COLS so a new gate flows through without edits here."""
    g = quality_gate_stats(batch)
    stages = F.array(
        F.struct(F.lit(0).cast("bigint").alias("stage"), F.lit(True).alias("ok")),
        *[
            F.struct(
                F.lit(i + 1).cast("bigint").alias("stage"), F.col(c).alias("ok")
            )
            for i, c in enumerate(GATE_COLS)
        ],
    )
    return g.select(
        "n_tok", F.explode(F.filter(stages, lambda s: s["ok"])).alias("__s")
    ).select(F.col("__s.stage").alias("stage"), F.col("n_tok"))


def run_incremental_funnel_stream(
    spark: SparkSession,
    *,
    updates_path: str,
    state_path: str,
    checkpoint_path: str,
    schema: T.StructType,
) -> StreamingQuery:
    """File-source stream of document batches -> continuously merged
    quality-gate funnel table at ``state_path``."""
    return run_incremental_agg_stream(
        spark,
        updates_path=updates_path,
        state_path=state_path,
        checkpoint_path=checkpoint_path,
        schema=schema,
        keys=["stage"],
        value_col="n_tok",
        transform=_stage_rows,
    )


def read_funnel(spark: SparkSession, state_path: str) -> DataFrame:
    """The queryable funnel: (stage, docs, tokens) — identical shape to
    the batch ``quality_gate_funnel`` query, derived from the merged
    partials at read time. The batch form emits all 4 stages even when
    a gate passes nothing (``stack(4, ...)`` with zero counts), so the
    state — which only has rows for stages some doc REACHED — is
    left-joined onto the 0..3 stage spine with zero fills."""
    p = spark.read.parquet(state_path)
    spine = spark.range(N_GATE_STAGES).select(F.col("id").alias("stage"))
    return (
        spine.join(p, "stage", "left")
        .select(
            "stage",
            F.coalesce(F.col("p_cnt"), F.lit(0)).alias("docs"),
            F.coalesce(F.col("p_sum"), F.lit(0)).alias("tokens"),
        )
        .orderBy("stage")
    )
