"""Storage-format queries: CSV / JSON-lines / ORC round trips under the
hash oracle, and Z-order (Morton) layout keys for two-column data
skipping (operators/layout.py; the write path is pytest-verified).

Same proof shape as ``reference_queries.py::refined_write_roundtrip``:
the Spark side pushes fixture data out through the text sink and back
through the schema-declared text scan, while the oracle computes the
result DIRECTLY from the parquet view — a hash match therefore proves
the text round trip is lossless for every carried type (bigint, double,
string, date, timestamp, nested struct). Row-level output (a
deterministic key-sampled slice), not an aggregate, so per-value
fidelity is what's being hashed.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.layout import zorder_key, zorder_key_sql
from ..sources.formats import (
    read_csv,
    read_jsonl,
    read_orc,
    write_csv,
    write_jsonl,
    write_orc,
)
from .registry import load, register

CSV_SAMPLE_MOD = 97
JSONL_SAMPLE_MOD = 101


def _target(sf_dir: str, kind: str) -> str:
    """Per-(sf, format) scratch dir, recreated each run — a stale tree
    from a previous fixture generation must never contribute rows."""
    path = os.path.join(
        tempfile.gettempdir(),
        "m2b3_format_roundtrip",
        os.path.basename(os.path.normpath(sf_dir)),
        kind,
    )
    shutil.rmtree(path, ignore_errors=True)
    return path


@register(
    "csv_roundtrip",
    oracle=f"""
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
FROM orders WHERE o_orderkey % {CSV_SAMPLE_MOD} = 0
""",
)
def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV edge round trip: a key-sampled slice of orders goes out
    through ``write_csv`` and back through the schema-DECLARED
    ``read_csv`` (inference is banned — it double-scans and drifts
    types); the oracle reads the parquet directly, so the hash match
    proves bigint/double/string/date survive the text encoding
    bit-for-comparison. Text is an edge, not a tier: this is the landing
    pattern, normalize-to-parquet follows it."""
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.DateType()),
        ]
    )
    slice_ = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % CSV_SAMPLE_MOD == 0)
        # The fixture stores o_orderdate as a timestamp; the edge
        # contract for this feed is calendar dates, pinned on both
        # sides (oracle: CAST AS DATE).
        .withColumn("o_orderdate", F.col("o_orderdate").cast("date"))
        .select(*[f.name for f in schema.fields])
    )
    path = _target(sf_dir, "csv")
    write_csv(slice_, path)
    back = read_csv(spark, path, schema)
    # The round trip runs TYPED (DateType in the file and the scan); the
    # final ISO string is only the comparison surface — engines disagree
    # on date-vs-midnight-timestamp representation, not on the value.
    return back.withColumn("o_orderdate", F.date_format("o_orderdate", "yyyy-MM-dd"))


@register(
    "jsonl_roundtrip",
    oracle=f"""
SELECT event_id, user_id, ts, event_type, value
FROM events WHERE event_id % {JSONL_SAMPLE_MOD} = 0
""",
)
def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines edge round trip with NESTING: events are written as
    {event_id, user_id, ts, payload: {event_type, value}} objects and
    read back through the declared nested schema, then flattened; the
    oracle computes the flat slice from parquet directly. Proves typed
    nesting + timestamps survive the JSONL encoding (ISO-8601, UTC
    session tz on both sides). One object per line — the only JSON
    layout that splits across tasks at scale."""
    nested = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField(
                "payload",
                T.StructType(
                    [
                        T.StructField("event_type", T.StringType()),
                        T.StructField("value", T.DoubleType()),
                    ]
                ),
            ),
        ]
    )
    slice_ = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_id") % JSONL_SAMPLE_MOD == 0)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.struct("event_type", "value").alias("payload"),
        )
    )
    path = _target(sf_dir, "jsonl")
    write_jsonl(slice_, path)
    back = read_jsonl(spark, path, nested)
    return back.select(
        "event_id",
        "user_id",
        "ts",
        F.col("payload.event_type").alias("event_type"),
        F.col("payload.value").alias("value"),
    )


ORC_SAMPLE_MOD = 103


@register(
    "orc_roundtrip",
    oracle=f"""
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
       l_returnflag, l_shipdate
FROM lineitem WHERE l_orderkey % {ORC_SAMPLE_MOD} = 0
""",
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC storage-tier round trip: a key-sampled lineitem slice goes
    out through ``write_orc`` and back through the schema-declared
    ``read_orc``; the oracle reads the parquet directly, so the hash
    match proves bigint/int/double/string/timestamp survive the ORC
    encoding exactly (µs timestamps native, UTC session tz pinned on
    both sides). Rounds out the §2.1 format surface for ORC-native
    Hive/Presto/Athena estates — unlike the text edges, ORC is a real
    storage tier (splittable, typed, predicate-pushdown-capable)."""
    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    )
    slice_ = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % ORC_SAMPLE_MOD == 0)
        # The fixture may carry l_shipdate as TIMESTAMP_NTZ (parquet
        # isAdjustedToUTC=false); pin the edge contract to LTZ instants
        # (session tz is UTC) — ORC cannot serve an NTZ file to an LTZ
        # declared schema, and the instant is identical either way.
        .withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp"))
        .select(*[f.name for f in schema.fields])
    )
    path = _target(sf_dir, "orc")
    write_orc(slice_, path)
    return read_orc(spark, path, schema)
ZBITS = 16


@register(
    "zorder_keys",
    oracle=f"""
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       CAST({zorder_key_sql('l_partkey', 'l_suppkey', bits=ZBITS)} AS BIGINT) AS zval
FROM lineitem
""",
)
def zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-code clustering key over (l_partkey, l_suppkey)
    (operators/layout.py): pure bit arithmetic in codegen; the write
    path range-partitions + sorts on it so parquet min/max stats prune
    scans filtered on EITHER column."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        zorder_key("l_partkey", "l_suppkey", bits=ZBITS).alias("zval"),
    )
