"""Partitioned Parquet sinks and batch helpers.

Replaces the reference's single-partition writer (etl/etl_job.py:145-166).
Its hand-rolled S3 listing + sequential per-file reads (etl/etl_job.py:74-98:
unpaginated ``list_objects_v2`` capped at 1000 objects, one file at a time
through ``/tmp``) become Spark directory scans, which have neither limit:
the ETL's file source (streaming/file_pipeline.py::read_raw_stream) and
the query loader (plans/registry.py::load).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def union_by_name(*frames: DataFrame) -> DataFrame:
    """Explicit S8: by-name union with missing-column tolerance —
    pandas ``pd.concat(ignore_index=True)`` semantics, NOT positional
    ``UNION ALL`` (reference: etl/etl_job.py:98).
    """
    out = frames[0]
    for df in frames[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def is_empty(df: DataFrame) -> bool:
    """S9: empty-input short-circuit (reference: etl/etl_job.py:94-96,
    174-176)."""
    return df.isEmpty()


def write_refined(
    df: DataFrame,
    path: str,
    *,
    partition_by: tuple[str, ...] = ("ativo", "data"),
    mode: str = "overwrite",
) -> None:
    """S10: Hive-partitioned Parquet write.

    Spark drops partition columns from the data files automatically,
    matching the reference's explicit ``df.drop(columns=["ativo","data"])``
    (etl/etl_job.py:154-156). With
    ``spark.sql.sources.partitionOverwriteMode=dynamic`` (set in
    session.py), overwrite replaces only the partitions present in ``df``
    — the reference's per-(ativo, data) overwrite, generalized to N
    assets. Skips the write when the input is empty (S9 guard).
    """
    if is_empty(df):
        return
    df.write.mode(mode).partitionBy(*partition_by).parquet(path)


def expire_partitions(
    path: str,
    *,
    partition_col: str = "data",
    cutoff: str,
) -> list[str]:
    """Retention sweep: drop Hive partitions whose ``partition_col``
    value sorts strictly below ``cutoff`` (ISO dates compare
    lexicographically). Returns the removed partition values.

    Operates on the directory layout, never the data — at 100 TB,
    retention is a metadata operation (drop whole partition directories)
    rather than a rewrite; a table format would do the same through its
    commit log. Only single-level ``col=value`` directories under
    ``path`` (or under first-level partition dirs) are considered, and
    only exact ``partition_col`` matches are touched — anything else is
    left alone.
    """
    import os
    import shutil

    removed: list[str] = []
    prefix = f"{partition_col}="

    def sweep(parent: str) -> None:
        for entry in sorted(os.listdir(parent)):
            full = os.path.join(parent, entry)
            if not os.path.isdir(full):
                continue
            if entry.startswith(prefix):
                value = entry[len(prefix):]
                if value < cutoff:
                    shutil.rmtree(full)
                    removed.append(value)
            elif "=" in entry:
                sweep(full)  # nested layout, e.g. ativo=X/data=Y

    sweep(path)
    return removed
