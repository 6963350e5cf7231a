"""Wave 7: TWAP, backtest, Markov transitions, partial-agg merge."""

from __future__ import annotations

from pyspark.sql import functions as F

from m2_b3_market_data_pipeline_spark.plans.events_analytics import markov_transitions
from m2_b3_market_data_pipeline_spark.plans.market_indicators import (
    partial_agg_merge,
    seasonal_backtest,
    twap_daily,
)

SF = "/root/testdata/sf0.001"


def test_twap_weights_by_holding_time(spark):
    """Hand-computed: price 10 held 3us, price 20 held 1us -> TWAP 12.5;
    the day's last tick carries no weight; single-tick days are NULL."""
    rows = [
        (1, "2026-01-01 00:00:00.000000", 10.0),
        (2, "2026-01-01 00:00:00.000003", 20.0),
        (3, "2026-01-01 00:00:00.000004", 99.0),  # last tick: weightless
        (4, "2026-01-02 00:00:00.000000", 7.0),   # single-tick day
    ]
    df = spark.createDataFrame(rows, "event_id long, ts string, value double").select(
        "event_id",
        F.to_timestamp("ts").alias("ts"),
        F.lit(0).cast("long").alias("user_id"),
        "value",
    )
    # Run the registered query body against the fixture frame by
    # swapping the module's loader:
    from m2_b3_market_data_pipeline_spark.plans import market_indicators as mod

    orig = mod.load
    try:
        mod.load = lambda s, d, t: df
        out = {
            (r.ativo, str(r.day)): (r.n_ticks, r.twap)
            for r in mod.twap_daily(spark, SF).collect()
        }
    finally:
        mod.load = orig
    (n1, twap1) = out[("TICK0", "2026-01-01 00:00:00")]
    assert n1 == 3
    assert twap1 == 12.5
    (n2, twap2) = out[("TICK0", "2026-01-02 00:00:00")]
    assert n2 == 1
    assert twap2 is None


def test_markov_rows_normalize(spark):
    df = markov_transitions(spark, SF)
    sums = df.groupBy("cur_event").agg(F.round(F.sum("p"), 3).alias("s")).collect()
    assert sums
    for r in sums:
        assert abs(r.s - 1.0) < 0.01  # row-stochastic up to 6dp rounding


def test_seasonal_backtest_scores_all_assets(spark):
    rows = {r.ativo: r for r in seasonal_backtest(spark, SF).collect()}
    assert len(rows) == 8
    for r in rows.values():
        assert r.mae >= 0.0
        assert r.mape >= 0.0


def test_partial_merge_equals_direct(spark):
    """The merged partials must equal the one-shot aggregate computed in
    Spark itself (engine-internal exactness, independent of the DuckDB
    oracle)."""
    from m2_b3_market_data_pipeline_spark.plans.registry import load

    li = load(spark, SF, "lineitem")
    direct = {
        r.l_returnflag: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
        )
        .collect()
    }
    merged = {r.l_returnflag: r for r in partial_agg_merge(spark, SF).collect()}
    assert set(direct) == set(merged)
    for k in direct:
        assert merged[k].n_rows == direct[k].n_rows
        assert merged[k].sum_qty == direct[k].sum_qty
        assert merged[k].min_price == direct[k].min_price
        assert merged[k].max_price == direct[k].max_price


def test_realized_vol_hand_computed(spark):
    """Two ticks 10 -> 11 in one day: one return of 0.1, RV = 0.1."""
    from m2_b3_market_data_pipeline_spark.plans import market_indicators as mod

    rows = [
        (1, "2026-01-01 10:00:00", 10.0),
        (2, "2026-01-01 11:00:00", 11.0),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts string, value double").select(
        "event_id",
        F.to_timestamp("ts").alias("ts"),
        F.lit(0).cast("long").alias("user_id"),
        "value",
    )
    orig = mod.load
    try:
        mod.load = lambda s, d, t: df
        out = mod.realized_volatility(spark, SF).collect()
    finally:
        mod.load = orig
    assert len(out) == 1
    assert out[0].n_returns == 1
    assert out[0].realized_vol == 0.1


def test_fuzzy_match_finds_all_planted_typos(spark):
    """Every planted one-char deletion must link back to its origin
    within distance 2 (deletion distance is 1, and the blocking key —
    first char + length band — cannot drop it since char 3 was deleted)."""
    from m2_b3_market_data_pipeline_spark.plans.data_quality import fuzzy_name_match

    out = fuzzy_name_match(spark, SF).collect()
    true_matches = [r for r in out if r.is_true_match]
    dirty_n = (
        spark.read.parquet(f"{SF}/part.parquet")
        .selectExpr("p_name")
        .distinct()
        .filter("length(p_name) >= 4")
        .count()
    )
    assert len(true_matches) == dirty_n
    assert all(r.dist <= 1 for r in true_matches)


def test_json_audit_counts_planted_corruption(spark):
    from m2_b3_market_data_pipeline_spark.plans.data_quality import (
        JSON_BAD_MOD,
        json_parse_audit,
    )
    from m2_b3_market_data_pipeline_spark.plans.registry import load

    out = json_parse_audit(spark, SF)
    total_bad = out.agg(F.sum("n_malformed")).collect()[0][0]
    expected = load(spark, SF, "events").filter(
        F.col("event_id") % JSON_BAD_MOD == 0
    ).count()
    assert total_bad == expected


def test_leakage_safe_split_never_splits_a_cluster(spark):
    """The leakage guarantee itself: every near-dup cluster maps to
    exactly one split."""
    from m2_b3_market_data_pipeline_spark.plans.lexical_dedup import leakage_safe_split

    out = leakage_safe_split(spark, SF)
    per_cluster = out.groupBy("cluster_id").agg(
        F.countDistinct("split").alias("n_splits")
    )
    assert per_cluster.filter(F.col("n_splits") > 1).count() == 0
    splits = {r.split for r in out.select("split").distinct().collect()}
    assert splits <= {"train", "valid", "test"}
    assert "train" in splits
