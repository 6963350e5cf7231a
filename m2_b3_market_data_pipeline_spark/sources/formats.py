"""Text-format sources/sinks: CSV and JSON-lines with declared schemas.

The reference's lake is parquet-only, but every real ingest edge speaks
text — vendor drops arrive as CSV, event firehoses as JSON lines. The
engine-facing rules here mirror the parquet path's discipline:

- **Schemas are declared, never inferred.** Inference reads the data
  twice and silently changes types when a new file shows up (the
  classic "int column becomes string on Tuesday" failure); at 100 TB a
  second pass over the input is also simply unaffordable. Every reader
  takes an explicit ``StructType``.
- **Malformed rows are quantified, not fatal.** PERMISSIVE mode plus a
  corrupt-record column is the dead-letter-queue pattern (same shape as
  ``plans/data_quality.py::json_parse_audit``): parse failures land
  in ``_corrupt`` for audit/quarantine instead of killing the job or
  being dropped silently (DROPMALFORMED loses data invisibly).
- **Compression choice is a split-ability choice.** gzip text is NOT
  splittable — one 10 GB .csv.gz becomes one task no matter the
  cluster; the writers default to uncompressed CSV / gzip-per-file
  JSONL only for small control outputs, and large text landings should
  arrive pre-chunked (many files) so ``maxPartitionBytes`` can fan
  them out.

Text formats are an EDGE, not a storage tier: land → normalize → write
parquet (``parquet_io``); nothing downstream reads text twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt"


def _with_corrupt_field(schema: T.StructType) -> T.StructType:
    """The corrupt-record column must be part of the declared schema for
    PERMISSIVE mode to populate it."""
    if CORRUPT_COL in schema.fieldNames():
        return schema
    return T.StructType(list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())])


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    header: bool = True,
    sep: str = ",",
    keep_corrupt: bool = False,
    multiline: bool = False,
) -> DataFrame:
    """Schema-declared CSV scan. With ``keep_corrupt`` the frame carries
    ``_corrupt`` (non-null iff the row failed to parse) for dead-letter
    accounting; otherwise malformed rows surface as all-null fields the
    caller's quality gates catch.

    ``multiline`` is required to parse QUOTED EMBEDDED NEWLINES — and it
    makes each file single-task (records can cross split boundaries, so
    Spark stops splitting). The scale-safe policy for newline-bearing
    text is JSONL, not multiline CSV; the flag exists for vendor feeds
    you don't control, landed as many small files."""
    reader = (
        spark.read.schema(_with_corrupt_field(schema) if keep_corrupt else schema)
        .option("header", str(header).lower())
        .option("sep", sep)
        .option("mode", "PERMISSIVE")
        .option("timestampFormat", TIMESTAMP_FORMAT)
        .option("multiLine", str(multiline).lower())
    )
    if keep_corrupt:
        reader = reader.option("columnNameOfCorruptRecord", CORRUPT_COL)
    return reader.csv(path)


def write_csv(
    df: DataFrame,
    path: str,
    *,
    header: bool = True,
    sep: str = ",",
    mode: str = "overwrite",
) -> None:
    """CSV sink for interchange/control outputs. Timestamps are written
    ISO-8601 so any reader (including DuckDB) parses them back
    identically."""
    (
        df.write.mode(mode)
        .option("header", str(header).lower())
        .option("sep", sep)
        .option("timestampFormat", TIMESTAMP_FORMAT)
        .csv(path)
    )


# Spark's default JSON/CSV timestampFormat carries MILLISECONDS and
# silently truncates the microsecond tail parquet timestamps carry —
# a lossy round trip that only shows up as off-by-<1ms diffs. Pin a
# microsecond ISO-8601 format on both ends.
TIMESTAMP_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    keep_corrupt: bool = False,
) -> DataFrame:
    """Schema-declared JSON-lines scan (one object per line — the only
    JSON layout that splits across tasks; multiline JSON arrays load a
    whole file per record and are rejected by policy here)."""
    reader = (
        spark.read.schema(_with_corrupt_field(schema) if keep_corrupt else schema)
        .option("mode", "PERMISSIVE")
        .option("timestampFormat", TIMESTAMP_FORMAT)
    )
    if keep_corrupt:
        reader = reader.option("columnNameOfCorruptRecord", CORRUPT_COL)
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    """JSON-lines sink: nested structs/arrays serialize as typed JSON,
    one object per line, splittable on read when landed as many files."""
    df.write.mode(mode).option("timestampFormat", TIMESTAMP_FORMAT).json(path)


def read_orc(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Schema-declared ORC scan. ORC is self-describing, but the schema
    is still DECLARED (same policy as every reader here): the scan
    projects exactly the declared columns, so a producer adding fields
    can't silently widen downstream plans, and a missing field fails
    loudly at analysis instead of appearing as nulls in production.
    Unlike text formats there is no corrupt-record column — ORC is
    binary+checksummed; torn files fail the read, they don't produce
    garbage rows."""
    return spark.read.schema(schema).orc(path)


def write_orc(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    """ORC sink (interchange with Hive/Presto/Athena estates that are
    ORC-native). Splittable, predicate-pushdown-capable, typed — a
    storage-tier format, unlike the text edges above. Timestamps carry
    microseconds natively; no format pinning needed."""
    df.write.mode(mode).orc(path)


def malformed_stats(df: DataFrame) -> DataFrame:
    """Dead-letter accounting over a ``keep_corrupt`` scan: total rows,
    malformed rows, malformed fraction — the gate an ingest job checks
    before promoting a landing to parquet.

    The scan is cached first: Spark disallows queries whose required
    schema is ONLY the corrupt-record column
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the
    documented pattern is to cache the parsed records, which an ingest
    gate wants anyway (audit then promote reads the landing once). The
    cache rides on the result as ``_cached_frames``; call
    ``operators.dedup.release_cached`` after the consuming action."""
    cached = df.cache()
    bad = F.col(CORRUPT_COL).isNotNull()
    out = cached.agg(
        F.count("*").alias("n_rows"),
        F.sum(bad.cast("bigint")).alias("n_malformed"),
        F.round(F.avg(bad.cast("double")), 6).alias("malformed_frac"),
    )
    out._cached_frames = [cached]  # type: ignore[attr-defined]
    return out
