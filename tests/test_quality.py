"""Column profiling, expectation gates, FK-orphan audits: semantics plus
the single-scan plan property."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from m2_b3_market_data_pipeline_spark.operators.quality import (
    expectation_counts,
    fk_orphans,
    profile_columns,
)


def _df(spark):
    return spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", -3.0), (3, None, None), (3, "b", 2.0)],
        "id int, cat string, v double",
    )


def test_profile_columns(spark):
    rows = {r.column: r for r in profile_columns(_df(spark), ["id", "cat", "v"]).collect()}
    assert rows["id"].n_rows == 4
    assert (rows["id"].n_null, rows["id"].n_distinct) == (0, 3)
    assert (rows["cat"].n_null, rows["cat"].n_distinct) == (1, 2)
    assert (rows["v"].n_null, rows["v"].n_distinct) == (1, 3)


def test_profile_single_scan(spark):
    plan = (
        profile_columns(_df(spark), ["id", "cat", "v"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    # one source, no join/union of re-scans
    assert "Join" not in plan and "Union" not in plan, plan


def test_expectation_counts_null_is_violation(spark):
    out = {
        r.rule: r.n_violations
        for r in expectation_counts(
            _df(spark), {"nonneg": F.col("v") >= 0, "has_cat": F.col("cat").isNotNull()}
        ).collect()
    }
    assert out == {"nonneg": 2, "has_cat": 1}  # NULL v counts as violating nonneg


def test_fk_orphans_null_child_key_is_orphan(spark):
    child = spark.createDataFrame([(1,), (2,), (None,)], "k int")
    parent = spark.createDataFrame([(1,)], "p int")
    got = sorted(
        (r.k for r in fk_orphans(child, parent, child_key="k", parent_key="p").collect()),
        key=lambda x: (x is None, x),
    )
    assert got == [2, None]


def test_names_with_quotes_and_spaces_never_reach_sql_text(spark):
    """Column and rule names are data, not SQL: a quote, a space or a
    dot in either must neither raise nor shift a count."""
    df = spark.createDataFrame(
        [(1, 2.0, "x"), (None, -1.0, "x"), (3, None, None), (3, 4.0, "y")],
        T.StructType(
            [
                T.StructField("o'brien", T.IntegerType()),
                T.StructField("unit price", T.DoubleType()),
                T.StructField("a.b", T.StringType()),
            ]
        ),
    )
    prof = {
        r.column: (r.n_rows, r.n_null, r.n_distinct)
        for r in profile_columns(df, ["o'brien", "unit price", "a.b"]).collect()
    }
    assert prof == {
        "o'brien": (4, 1, 2),
        "unit price": (4, 1, 3),
        "a.b": (4, 1, 2),
    }
    out = {
        r.rule: r.n_violations
        for r in expectation_counts(
            df,
            {
                "it's": F.col("unit price") >= 0,
                "not null": F.col("o'brien").isNotNull(),
            },
        ).collect()
    }
    assert out == {"it's": 2, "not null": 1}
