"""Query registry: names -> (Spark callable, DuckDB oracle SQL).

Every operator claimed in SURVEY.md §2 registers here; the driver runs the
Spark side and the oracle side-by-side at sf0.01 and hash-compares
(row count + schema + order-insensitive value hash).

Determinism contract applied to every registered query (both sides):
- floating aggregates (avg, sum of double, ratios, cosine) are ROUND(x, 6)
  so distributed aggregation order cannot cause last-bit drift;
- DuckDB ``SUM(BIGINT)`` returns HUGEINT -> always CAST to BIGINT to match
  Spark's LongType;
- every LIMIT/top-k has a total ordering (unique tiebreak column);
- column names are identical on both sides (the driver sorts columns by
  name before hashing).
"""

from __future__ import annotations

import os
import weakref
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

SparkQuery = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, SparkQuery] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: register a Spark query and (optionally) its oracle SQL.

    ``oracle=None`` marks a genuinely non-SQL-expressible op; the driver
    then records a weaker rows-only check.
    """

    def deco(fn: SparkQuery) -> SparkQuery:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
_SESSION_TZ = "spark.sql.session.timeZone"

# Inferred schemas: session -> path -> (stamp, schema). Inferring a parquet
# schema runs a Spark job that reads a footer, and a query suite loads the
# same fixture tables over and over.
_SCHEMAS: weakref.WeakKeyDictionary[SparkSession, dict[str, tuple[tuple, StructType]]] = (
    weakref.WeakKeyDictionary()
)


def _file_stamp(path: str) -> tuple | None:
    """(relative name, size, mtime) of each file under ``path``; None
    when ``path`` is not on the local file system."""
    if os.path.isfile(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns),)
    if not os.path.isdir(path):
        return None
    stamp = []
    for root, _dirs, names in os.walk(path):
        for name in names:
            full = os.path.join(root, name)
            st = os.stat(full)
            stamp.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(stamp))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema inferred once per
    session and file state. Every call still builds a new relation, so a
    self-join of two loads keeps distinct attribute ids; only the schema
    is reused, never a DataFrame."""
    files = _file_stamp(path)
    if files is None:
        return spark.read.parquet(path)
    stamp = (files, spark.conf.get(_NANOS_AS_LONG), spark.conf.get(_SESSION_TZ))
    memo = _SCHEMAS.setdefault(spark, {})
    hit = memo.get(path)
    if hit is None or hit[0] != stamp:
        hit = memo[path] = (stamp, spark.read.parquet(path).schema)
    return spark.read.schema(hit[1]).parquet(path)


def load(spark: SparkSession, sf_dir: str, table: str, *, floor: bool = True) -> DataFrame:
    # The caller may hand us ANY SparkSession (the driver builds a bare one
    # with none of session.py's confs), so every conf a query depends on must
    # be set here at runtime, where all query paths funnel through. Both are
    # runtime-settable SQL confs and idempotent.
    #
    # - nanosAsLong: some testdata generations write events.ts as
    #   TIMESTAMP(NANOS), which a stock reader rejects (PARQUET_TYPE_ILLEGAL).
    # - UTC session tz: timestamp<->string/date arithmetic must agree with
    #   the (timezone-naive) DuckDB oracle regardless of host tz.
    spark.conf.set(_NANOS_AS_LONG, "true")
    spark.conf.set(_SESSION_TZ, "UTC")
    df = _read_parquet(spark, f"{sf_dir}/{table}.parquet")
    if table == "events":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # TIMESTAMP(NANOS) layout, surfaced as long nanos by the conf
            # above. Fixture values are µs-aligned, so the µs conversion is
            # lossless. Integer division: ns values exceed double's 53-bit
            # mantissa, so a float path would corrupt timestamps.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            # TIMESTAMP(MICROS, isAdjustedToUTC=false) layout. Interpret the
            # naive values as UTC instants (session tz pinned above), giving
            # the same column the nanos path produces.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if table == "embeddings":
        from pyspark.sql import functions as F

        # Valid-vector source contract (mirrored by sql_fragments.EMB on
        # the oracle side): non-NULL, non-empty, nonzero-norm vectors
        # only. Zero-norm vectors make cosine an ANSI divide-by-zero,
        # empty vectors break fixed-dim subspace splits, and NULL
        # vectors poison every distance expression — a production
        # vector store quarantines all three at ingestion, so the scan
        # does too. The null/size predicates push to the parquet scan;
        # the norm check is a map-side fold over the row's own array.
        df = df.filter(F.col("embedding").isNotNull() & (F.size("embedding") > 0)).filter(
            F.aggregate(
                "embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double") * x
            )
            > 0
        )
    if floor and table in ("documents", "embeddings"):
        # The fan-out-heavy corpora: shingle/token explodes, hash folds,
        # and cosine work all happen MAP-SIDE on these scans, and a
        # single-row-group fixture file scans as one partition — fusing
        # that work into one task (operators/parallelism.py; measured
        # trigram_lm_score 5.4 -> 1.5s, minhash_dedup 3.3 -> 1.8s at
        # sf0.1). Conditional: a real multi-split corpus already
        # exceeds the floor and no exchange is added. Relational tables
        # (lineitem/orders/...) stay unfloored — their per-row map work
        # is light, so a repartition would cost what it saves.
        #
        # ``floor=False`` scopes the floor OFF shuffle-bearing chains
        # whose pre-shuffle map work is a single light tokenize/explode:
        # there the chain's own first groupBy/join exchange already
        # redistributes the fan-out, and the floor's repartition is pure
        # added overhead (see operators/parallelism.py for the rule and
        # the measured A/Bs both ways).
        from ..operators.parallelism import ensure_parallelism

        df = ensure_parallelism(df)
    return df
