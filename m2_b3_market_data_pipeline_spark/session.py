"""SparkSession factory with scale-aware defaults.

The reference runs single-process pandas inside one Glue container
(reference: etl/etl_job.py:8-10, scripts/bootstrap_aws.sh:42-43) so it has
no notion of parallelism, shuffle, or adaptivity. Here every knob is set
for a real cluster and merely *exercised* on local[N]:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy switching all matter at 100 TB.
- Arrow on: any Pandas-UDF path is Arrow-batched, never row-at-a-time.
- shuffle partitions default to the local core count; on a real cluster
  AQE coalesces from a deliberately-high initial number.
- Dynamic partition overwrite: replaces only the partitions a batch
  touches (the reference overwrites one (ativo, data) Hive partition per
  run, etl/etl_job.py:152).
- Whole-stage codegen cache sized to the query registry
  (``CODEGEN_CACHE_ENTRIES``): Spark keeps compiled classes in an LRU of
  100 entries by default, and the registry's queries cycle through more
  than that, so every repeat of a plan shape was evicted before reuse
  and went back through Janino and the JIT. The conf is static: it
  holds in sessions this factory builds (perfbench, the test session,
  ``bench.py``, ``tools/check_oracle.py``, ``tools/plan_digest.py``). A
  session built elsewhere, such as a bare ``SparkSession.builder`` one,
  keeps Spark's default: queries give the same results there and only
  recompile more.
- Python workers start from ``worker_daemon`` (``WORKER_DAEMON_MODULE``),
  Spark's own daemon with zip archives re-read only when they change. The
  reference runs its transforms in one pandas process; here Python runs
  in Spark's workers, and before every task Spark calls
  ``importlib.invalidate_caches()``, which on Python 3.11 re-reads the
  zip directory once per cached zipimporter: 16 reads of ``pyspark.zip``
  and the spark-core jar, 0.10-0.17 CPU s per task on a 4-vCPU VM. With
  the stamped importer that call takes about 0.0001 s, and the worker
  CPU of a warm ``decoded_phash_check`` run on local[4] fell from
  1.9-2.4 s to 0.7-0.8 s. Workers still load Spark's ``pyspark.zip``, in
  the same path order. The package's parent directory is appended to
  ``spark.executorEnv.PYTHONPATH`` so that workers find the module from
  any driver cwd; on a cluster, executors need the package importable,
  as they already do for its ``mapInPandas`` functions, which workers
  unpickle by module name. A bare ``SparkSession.builder`` session keeps
  Spark's daemon and gives the same results, only with that cost per
  task.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = "/root/testdata/sf0.1"

# Entries of the whole-stage codegen cache (spark.sql.codegen.cache.maxEntries,
# default 100). Measured working sets on local[4] (4-vCPU VM): the six
# query_suite queries compile 118 classes on their first pass, and a first
# pass of the whole registry at sf0.001 about 2560. At the default each pass
# evicts a class before its next use, so a warm suite pass recompiled 87
# classes and a warm registry pass 3928; at this size they compile 0 and
# 42-91. The cost is the metaspace the kept classes hold: 221 MB after a
# warm registry pass, against 213 MB at the default.
CODEGEN_CACHE_ENTRIES = 4096

# Spark's Python worker daemon with zip directories re-read only when changed
# (see the module docstring and worker_daemon.py).
WORKER_DAEMON_MODULE = "m2_b3_market_data_pipeline_spark.worker_daemon"

# The directory that holds this package, put on the Python workers' path so
# they can import WORKER_DAEMON_MODULE whatever the driver's cwd.
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def local_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)


def get_spark(
    app_name: str = "m2-b3-market-data-pipeline-spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with cluster-shaped defaults."""
    cpus = local_cpus()
    extra_conf = dict(extra_conf or {})
    worker_path = os.pathsep.join(
        p for p in (extra_conf.pop("spark.executorEnv.PYTHONPATH", ""), PACKAGE_PARENT) if p
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.daemon.module", WORKER_DAEMON_MODULE)
        .config("spark.executorEnv.PYTHONPATH", worker_path)
        # events.parquet carries TIMESTAMP(NANOS); Spark has no nanos type,
        # so read as long and convert in sources (values are µs-aligned).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Stateful streaming ops (dropDuplicates, stream-stream joins,
        # windowed aggs) default to RocksDB state: the in-heap HDFS-backed
        # store keeps EVERY key in executor heap, which a 100 TB
        # deployment's join/dedup state will not fit — RocksDB spills to
        # native memory + local disk and bounds heap by block cache.
        # The custom sinks (streaming/*_sink.py) own their parquet state
        # and are unaffected. NOTE: an existing checkpoint pins the
        # provider it was created with — Spark refuses a provider switch
        # mid-checkpoint; new checkpoints pick this up (SCALE.md §23).
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
    )
    for key, value in extra_conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
