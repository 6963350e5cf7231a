"""``plans/registry.load``: each fixture schema is inferred once per
session and file state, and every call still builds a new relation."""

from __future__ import annotations

import uuid

from m2_b3_market_data_pipeline_spark.plans.registry import load


def _jobs_run_by(spark, fn) -> int:
    """Spark jobs ``fn`` runs, read from the status store under a job
    group of its own."""
    sc = spark.sparkContext
    group = f"load-probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_runs_no_job(spark, tmp_path):
    spark.range(6).selectExpr("id", "id * 2 AS v").write.parquet(str(tmp_path / "t.parquet"))
    assert _jobs_run_by(spark, lambda: load(spark, str(tmp_path), "t")) >= 1
    assert _jobs_run_by(spark, lambda: load(spark, str(tmp_path), "t")) == 0


def test_self_join_of_two_loads_keeps_distinct_attributes(spark, tmp_path):
    spark.range(5).write.parquet(str(tmp_path / "t.parquet"))
    a = load(spark, str(tmp_path), "t")
    b = load(spark, str(tmp_path), "t")
    assert a is not b
    # one shared relation would make the condition trivially true: 25 rows
    assert a.join(b, a["id"] == b["id"]).count() == 5


def test_rewritten_file_gets_a_fresh_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    assert load(spark, str(tmp_path), "t").columns == ["id"]
    spark.range(3).selectExpr("id", "'x' AS tag").write.mode("overwrite").parquet(path)
    df = load(spark, str(tmp_path), "t")
    assert df.columns == ["id", "tag"]
    assert sorted(r.tag for r in df.collect()) == ["x", "x", "x"]
