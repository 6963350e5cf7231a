"""Partitioned ordered rolling aggregates (transformation C of the reference).

The single trickiest semantic in the reference (SURVEY.md §2.6 W1):
``df.groupby("ativo")["close_price"].rolling(window=7).mean()``
(reference: etl/etl_job.py:125-130) is a 7-ROW trailing mean whose result
is NULL until 7 rows have accumulated — pandas ``min_periods`` defaults to
the window size. A bare ``F.avg(...).over(rowsBetween(-6, 0))`` would
silently differ on the first 6 rows of every partition (partial means vs
NULL), so the count guard below is load-bearing.

Scale notes: WindowExec shuffles once on the partition key then does a
streaming-frame sort-scan per partition — the optimal distributed plan for
this op. Skew caveat: a single hot partition key serializes into one task;
for market data the per-asset row count is bounded (daily bars), so this
is safe at 100 TB of assets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def rolling_mean(
    value: str | Column,
    *,
    window_rows: int,
    partition_by: list[str],
    order_by: list[str],
    min_periods: int | None = None,
) -> Column:
    """Trailing ``window_rows``-row mean with pandas ``min_periods``
    semantics (NULL until ``min_periods`` rows accumulated; defaults to the
    window size, matching ``pd.Series.rolling``).

    Parity: reference etl/etl_job.py:126-130. ROW-based, not time-based —
    ``rolling(window=7)`` counts rows despite the "7 dias" name at
    README.md:54 (SURVEY.md §7.4 risk 5).
    """
    need = window_rows if min_periods is None else min_periods
    frame = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(-(window_rows - 1), 0)
    )
    col = F.col(value) if isinstance(value, str) else value
    return F.when(F.count(col).over(frame) >= need, F.avg(col).over(frame))


def with_rolling_mean(
    df: DataFrame,
    *,
    value: str = "close_price",
    output: str = "mm_7d",
    window_rows: int = 7,
    partition_by: list[str] | None = None,
    order_by: list[str] | None = None,
) -> DataFrame:
    """DataFrame form of transformation C: append the guarded rolling mean.

    The reference's explicit pre-sort (etl/etl_job.py:125) is subsumed by
    ``Window.partitionBy().orderBy()`` — no global sort needed.
    """
    expr = rolling_mean(
        value,
        window_rows=window_rows,
        partition_by=partition_by or ["ativo"],
        order_by=order_by or ["date"],
    )
    return df.withColumn(output, expr)
