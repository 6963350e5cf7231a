"""Streaming file-source pipeline: the reference's event-driven ETL.

The reference implements streaming *by orchestration*: S3 ObjectCreated
-> Lambda (single-flight guard, polling) -> Glue job -> Crawler
(reference: scripts/bootstrap_aws.sh:102-106, lambdas/start-etl/
handler.py:16-51; SURVEY.md §2.10 T1-T4). In Spark that entire control
plane is ~30 lines:

- new-file detection: the Structured Streaming file source on ``raw/``;
- single-flight: inherent — one streaming query per checkpoint;
- crawler: the caller registers the table once the stream has run
  (``sources/catalog.py::register_parquet_table``);
- reprocess-everything semantics (T4): the reference recomputes from ALL
  raw data every trigger because mm_7d and the per-asset aggregates need
  full history. ``foreachBatch`` + full recompute reproduces that
  faithfully; ``commit.start_stream`` runs it as one availableNow
  drain, the batch-style run.

Incremental stateful variants (watermarked windows) live in windows.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..plans.pipeline import refined
from ..sources.parquet_io import write_refined
from .commit import start_stream

RAW_OHLCV_SCHEMA = T.StructType(
    [
        T.StructField("Date", T.TimestampType()),
        T.StructField("Open", T.DoubleType()),
        T.StructField("High", T.DoubleType()),
        T.StructField("Low", T.DoubleType()),
        T.StructField("Close", T.DoubleType()),
        T.StructField("Volume", T.LongType()),
        T.StructField("ativo", T.StringType()),
    ]
)


def read_raw_stream(spark: SparkSession, raw_path: str) -> DataFrame:
    """T1: the file source replaces S3-notification->Lambda. New-file
    discovery and exactly-once tracking are built in."""
    return (
        spark.readStream.schema(RAW_OHLCV_SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(raw_path)
    )


def run_etl_stream(
    spark: SparkSession,
    *,
    raw_path: str,
    refined_path: str,
    checkpoint_path: str,
    run_date: str | None = None,
) -> StreamingQuery:
    """T2-T4: the full reference ETL as one streaming query.

    Every micro-batch re-runs the full transform over ALL raw data seen
    so far (matching the reference's recompute-everything semantics,
    etl/etl_job.py:79-98) and dynamically overwrites the refined
    partitions it touches.
    """

    def process_batch(_batch_df: DataFrame, _batch_id: int) -> None:
        # Recompute from the full raw prefix (T4 semantics). The batch
        # frame only signals *that* new files arrived; the reference
        # likewise ignores which file triggered it.
        full_raw = spark.read.schema(RAW_OHLCV_SCHEMA).option(
            "recursiveFileLookup", "true"
        ).parquet(raw_path)
        out = refined(full_raw, run_date=run_date)
        write_refined(out, refined_path)

    return start_stream(read_raw_stream(spark, raw_path), checkpoint_path, process_batch)
