from __future__ import annotations

from m2_b3_market_data_pipeline_spark.plans.market_indicators import (
    rolling_mean_time_range,
)
from m2_b3_market_data_pipeline_spark.plans.registry import load
from m2_b3_market_data_pipeline_spark.plans.relational import band_join_revenue
from m2_b3_market_data_pipeline_spark.plans.sketch_queries import approx_distinct_users


def test_band_join_broadcasts_the_band_dim(spark, sf_dir):
    plan = band_join_revenue(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_band_join_partitions_every_row_exactly_once(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    out = band_join_revenue(spark, sf_dir)
    rows = out.collect()
    assert sum(r["n"] for r in rows) == li.count()
    assert len({r["band_lo"] for r in rows}) == len(rows)


def test_rolling_time_range_uses_range_frame(spark, sf_dir):
    plan = (
        rolling_mean_time_range(spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "RangeFrame" in plan and str(-7 * 24 * 3600 * 1_000_000) in plan


def test_rolling_time_range_manual_spot_check(spark, sf_dir):
    out = rolling_mean_time_range(spark, sf_dir)
    row = out.orderBy("user_id", "ts").limit(1).collect()[0]
    # first event of the first user has only itself in its 7-day frame;
    # the mean is exact integer 1e-4-dollar units (cents * 100)
    assert row["avg_7d_e4"] == round(row["value"] * 100) * 100


def test_gap_fill_spine_is_continuous_per_user(spark, sf_dir):
    from pyspark.sql import functions as F
    from m2_b3_market_data_pipeline_spark.plans.market_indicators import gap_fill_locf

    out = gap_fill_locf(spark, sf_dir)
    per_user = out.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        (F.datediff(F.max("day"), F.min("day")) + 1).alias("span_days"),
    )
    assert per_user.filter(F.col("n") != F.col("span_days")).count() == 0
    # LOCF: once a user has any observation, no later day is null
    assert out.filter(F.col("value_ff").isNull()).count() == 0


def test_regex_functions_is_shuffle_free(spark, sf_dir):
    """No data-dependent shuffle: regex extraction is pure map-side.
    The only exchange permitted is the conditional parallelism floor's
    RoundRobin (operators/parallelism.py) on the single-split fixture
    scan — it carries no key, so it is not a semantic shuffle and is
    absent on any real multi-split corpus."""
    from m2_b3_market_data_pipeline_spark.plans.relational import regex_functions

    plan = regex_functions(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    import re

    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert all("RoundRobin" in e for e in exchanges), plan
    assert plan.count("Exchange") - plan.count("REPARTITION_BY_NUM") <= 0, plan


def test_train_test_split_fractions_and_stability(spark, sf_dir):
    from pyspark.sql import functions as F
    from m2_b3_market_data_pipeline_spark.plans.relational import train_test_split

    out = train_test_split(spark, sf_dir)
    totals = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.sum("n_docs").alias("n")).collect()}
    n = sum(totals.values())
    assert 0.70 <= totals["train"] / n <= 0.90
    assert totals["valid"] / n <= 0.20 and totals["test"] / n <= 0.20
    # deterministic: two runs agree exactly
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, train_test_split(spark, sf_dir).collect())
    )


def test_sample_per_group_caps_at_k_and_is_stable(spark, sf_dir):
    from m2_b3_market_data_pipeline_spark.plans.relational import sample_per_group

    out = sample_per_group(spark, sf_dir)
    counts = out.groupBy("lang").count().collect()
    assert all(r["count"] <= 10 for r in counts)
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, sample_per_group(spark, sf_dir).collect())
    )


def test_salted_agg_has_two_aggregate_exchanges(spark, sf_dir):
    from m2_b3_market_data_pipeline_spark.plans.relational import salted_skew_agg

    plan = salted_skew_agg(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    # phase 1 shuffles on (key, salt), phase 2 on key — both present
    assert plan.count("Exchange hashpartitioning") >= 2


def test_approx_distinct_within_5pct_of_exact(spark, sf_dir):
    from pyspark.sql import functions as F

    e = load(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["exact"]
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact"))
        .collect()
    }
    for r in approx_distinct_users(spark, sf_dir).collect():
        assert abs(r["approx_users"] - exact[r["event_type"]]) <= 0.05 * exact[r["event_type"]]


def test_weighted_sample_deterministic_across_runs(spark, sf_dir):
    from m2_b3_market_data_pipeline_spark.plans.all_queries import QUERIES

    q = QUERIES["weighted_sample"]
    a = [(r.doc_id, r.key_) for r in q(spark, sf_dir).collect()]
    b = [(r.doc_id, r.key_) for r in q(spark, sf_dir).collect()]
    assert a == b and len(a) == 50


def test_groupwise_regression_r_bounds(spark, sf_dir):
    from pyspark.sql import functions as F

    from m2_b3_market_data_pipeline_spark.plans.all_queries import QUERIES

    out = QUERIES["groupwise_regression"](spark, sf_dir)
    assert out.filter((F.col("r") < -1.0) | (F.col("r") > 1.0)).count() == 0
    assert out.count() == 5  # one fit per event type


def test_quantile_binning_equal_frequency(spark, sf_dir):
    from pyspark.sql import functions as F

    from m2_b3_market_data_pipeline_spark.plans.all_queries import QUERIES

    out = QUERIES["quantile_binning"](spark, sf_dir)
    counts = [r.n for r in out.orderBy("bin").collect()]
    assert len(counts) == 10
    assert max(counts) - min(counts) <= 1  # ntile balance property


def test_integral_division_agrees_with_duckdb_on_negatives(spark):
    """rolling_mean_time_range divides integer micro-units with Spark's
    `div`; the oracle uses DuckDB's `//`. Both truncate toward zero in
    integer mode (DuckDB floors only for floats), so the engines agree
    for ANY sign of the frame sum — pinned here with negative sums so
    the fixture never has to guarantee non-negative event values."""
    import duckdb

    rows = [(-7, 2), (7, 2), (-7, 3), (7, 3), (-1, 5), (0, 3), (-9, 4)]
    df = spark.createDataFrame(rows, "s long, n long").selectExpr(
        "s", "n", "s div n as q"
    )
    got = {(r.s, r.n): r.q for r in df.collect()}
    want = {
        (a, b): duckdb.sql(f"select {a} // {b}").fetchone()[0] for a, b in rows
    }
    assert got == want
