"""Round-9 second-wave additions beyond the retrieval ops: the
training-delivery shard manifest and JL random projection."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from m2_b3_market_data_pipeline_spark.operators.embeddings import jl_project, jl_signs
from m2_b3_market_data_pipeline_spark.operators.layout import training_shards
from m2_b3_market_data_pipeline_spark.plans.registry import load


def test_training_shards_partition_the_corpus(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    out = training_shards(docs, n_shards=16).collect()
    n_docs = docs.filter(F.col("text").isNotNull()).count()
    assert sum(r["n_docs"] for r in out) == n_docs
    assert len(out) <= 16 and len({r["shard_id"] for r in out}) == len(out)
    # keyed-hash balance: no shard hoards (a degenerate hash would put
    # everything in one shard); generous bound, not a distribution test
    assert max(r["n_docs"] for r in out) < n_docs // 2


def test_training_shards_deterministic_and_member_sensitive(spark):
    rows = [(i, "en", "s", f"tok{i} tok{i+1}") for i in range(40)]
    docs = spark.createDataFrame(
        rows, schema="doc_id long, lang string, source string, text string"
    )
    a = {r["shard_id"]: r for r in training_shards(docs, n_shards=4).collect()}
    b = {r["shard_id"]: r for r in training_shards(docs, n_shards=4).collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert a[k] == b[k]
    # removing one member changes exactly its shard's checksum and counts
    smaller = training_shards(docs.filter(F.col("doc_id") != 7), n_shards=4)
    c = {r["shard_id"]: r for r in smaller.collect()}
    changed = [k for k in a if k in c and c[k] != a[k]] + [k for k in a if k not in c]
    assert len(changed) == 1
    k = changed[0]
    assert c[k]["n_docs"] == a[k]["n_docs"] - 1
    assert c[k]["id_checksum"] != a[k]["id_checksum"]


def test_training_shards_excludes_null_text(spark):
    docs = spark.createDataFrame(
        [(1, "x y"), (2, None)], schema="doc_id long, text string"
    )
    out = training_shards(docs, n_shards=2).collect()
    assert sum(r["n_docs"] for r in out) == 1


def test_jl_projection_preserves_norms_statistically(spark, sf_dir):
    from m2_b3_market_data_pipeline_spark.plans.retrieval_quality import (
        EMBED_DIM,
        JL_OUT,
        JL_SEED,
    )
    from m2_b3_market_data_pipeline_spark.operators.similarity import as_double, norm

    emb = load(spark, sf_dir, "embeddings")
    proj = jl_project(emb, vec_col="embedding", dim=EMBED_DIM, out_dim=JL_OUT, seed=JL_SEED)
    rows = proj.select(
        F.size("projected").alias("k"),
        (norm(F.col("projected")) / norm(as_double("embedding"))).alias("ratio"),
    ).collect()
    assert all(r["k"] == JL_OUT for r in rows)
    ratios = [r["ratio"] for r in rows]
    mean = sum(ratios) / len(ratios)
    # JL lemma: expected squared ratio is 1; at k=16 the spread is wide
    # per-vector but the MEAN concentrates
    assert 0.85 < mean < 1.15, mean
    assert all(0.3 < r < 2.0 for r in ratios)


def test_jl_sign_matrix_is_pm_one_and_deterministic():
    m1 = jl_signs(64, 16, 9000)
    m2 = jl_signs(64, 16, 9000)
    assert m1 == m2
    assert all(v in (1.0, -1.0) for row in m1 for v in row)
    # rows differ (distinct seeds): a repeated row would project onto a
    # lower-dimensional subspace
    assert len({tuple(r) for r in m1}) == 16


def test_jl_projection_plan_is_shuffle_free(spark, sf_dir):
    from m2_b3_market_data_pipeline_spark.plans import all_queries

    df = all_queries.QUERIES["jl_project_norms"](spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert not re.search(r"Exchange hashpartitioning", plan), plan
