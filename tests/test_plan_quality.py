"""Physical-plan assertions: the 100 TB-readiness checks.

Correctness tests say WHAT comes out; these say HOW. Each assertion
pins a plan property that matters at scale and would silently regress
otherwise: filters reaching the parquet scan, partition pruning on the
Hive layout, broadcast joins for dimensions, column pruning in
ReadSchema, top-k compiling to TakeOrderedAndProject, and single-shuffle
window pipelines.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from m2_b3_market_data_pipeline_spark.plans import all_queries
from m2_b3_market_data_pipeline_spark.plans.ohlcv import derive_ohlcv, load_events
from m2_b3_market_data_pipeline_spark.plans.pipeline import refined, transform
from m2_b3_market_data_pipeline_spark.sources.parquet_io import write_refined


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = all_queries.QUERIES["q1_pricing_summary"](spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert re.search(r"PushedFilters: \[.*LessThanOrEqual\(l_shipdate", plan)


def test_column_pruning_in_read_schema(spark, sf_dir):
    df = all_queries.QUERIES["q1_pricing_summary"](spark, sf_dir)
    plan = _plan(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",")}
    # 11-column table; the query needs only 7
    assert "l_orderkey" not in read_cols and "l_partkey" not in read_cols


def test_dimension_joins_are_broadcast(spark, sf_dir):
    plan = _plan(all_queries.QUERIES["q5_region_revenue"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_topk_compiles_to_take_ordered(spark, sf_dir):
    plan = _plan(all_queries.QUERIES["filter_sort_limit"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_reference_pipeline_single_exchange(spark, sf_dir):
    """The whole B->C->A->J transform shares ONE shuffle: rolling window
    and per-asset aggregates reuse the same exchange on ativo."""
    out = transform(derive_ohlcv(load_events(spark, sf_dir)))
    plan = _plan(out)
    # exactly 2 exchanges total: the bar-derivation groupBy and ONE
    # window exchange; both Window nodes (rolling mm_7d + unbounded
    # per-asset aggregates) share a single Sort under it.
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2, plan
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 1, plan


def test_partition_pruning_on_refined_layout(spark, sf_dir, tmp_path):
    """F2: WHERE ativo='TICK1' on the Hive-partitioned refined output is
    partition-pruning, not a data filter (reference: README.md:288)."""
    out = refined(derive_ohlcv(load_events(spark, sf_dir)), run_date="2026-01-01")
    path = str(tmp_path / "refined")
    write_refined(out, path)
    df = spark.read.parquet(path).filter(F.col("ativo") == "TICK1")
    plan = _plan(df)
    assert re.search(r"PartitionFilters: \[.*ativo.* = TICK1", plan), plan
    assert df.count() > 0


def test_exact_dedup_uses_window_group_limit(spark, sf_dir):
    plan = _plan(all_queries.QUERIES["dedup_exact"](spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_q9_five_way_join_all_broadcast_single_fact_scan(spark, sf_dir):
    """TPC-H Q9: every dimension join is broadcast-hash (the fact table
    never shuffles for a join) and lineitem is scanned exactly once."""
    plan = _plan(all_queries.QUERIES["q9_product_profit"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("lineitem.parquet") == 1, plan


def test_q17_window_rewrite_scans_fact_once(spark, sf_dir):
    """Q17's correlated per-part AVG is a partitioned window over ONE
    lineitem scan — the self-join formulation would scan it twice."""
    plan = _plan(all_queries.QUERIES["q17_small_quantity_revenue"](spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1, plan
    assert "SortMergeJoin" not in plan


def test_scalar_subqueries_stay_broadcast_no_cartesian(spark, sf_dir):
    """Q11/Q15 attach scalar thresholds via crossJoin(broadcast(agg));
    the plan must never degrade to a CartesianProduct."""
    for name in ("q11_important_value", "q15_top_supplier", "q2_min_cost_supplier"):
        plan = _plan(all_queries.QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name


def test_dedup_fan_out_parallelizes_hash_pipeline(spark, sf_dir):
    """The minhash pipeline must include the round-robin rebalance so
    per-shingle hashing never runs on a single input split."""
    plan = _plan(all_queries.QUERIES["minhash_dedup"](spark, sf_dir))
    assert "REPARTITION_BY_NUM" in plan or "RoundRobinPartitioning" in plan, plan


def test_brute_force_topk_broadcasts_queries_not_corpus(spark, sf_dir):
    plan = _plan(all_queries.QUERIES["cosine_topk"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # corpus side must not be exchanged for the join itself
    assert "WindowGroupLimit" in plan


def test_embedding_near_dups_has_no_cartesian(spark, sf_dir):
    """The registered near-dup query must be the LSH candidate join, not
    the quadratic baseline: no cartesian / nested-loop join anywhere in
    the physical plan."""
    plan = _plan(all_queries.QUERIES["embedding_near_dups"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_centroid_assign_broadcasts_centroids(spark, sf_dir):
    """K centroids join as a broadcast; the corpus side must not be
    exchanged for the join (only the per-vector window partitions)."""
    plan = _plan(all_queries.QUERIES["centroid_assign"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_decontaminate_broadcasts_benchmark_side(spark, sf_dir):
    """The n-gram probe against the (small) eval set must be a broadcast
    hash join — the 100 TB train side never shuffles for it."""
    plan = _plan(all_queries.QUERIES["decontaminate"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_chunking_and_entropy_have_no_shuffle(spark, sf_dir):
    """Chunking (generate+explode) and char entropy (higher-order
    functions) are pure projections: zero exchanges beyond the fan-out
    rebalance, no Python (BatchEvalPython/ArrowEvalPython) anywhere."""
    for name in ("doc_chunks", "char_entropy"):
        plan = _plan(all_queries.QUERIES[name](spark, sf_dir))
        assert "EvalPython" not in plan, name
        exchanges = re.findall(r"Exchange (\w+)", plan)
        assert all(e == "RoundRobinPartitioning" for e in exchanges), (name, exchanges)


def test_normalize_quantize_prune_to_embedding_columns(spark, sf_dir):
    """The per-vector projections must read only the columns they use
    (vec_id + embedding), not the full table."""
    for name in ("embed_normalize", "embed_quantize"):
        plan = _plan(all_queries.QUERIES[name](spark, sf_dir))
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m, plan
        read_cols = {c.split(":")[0] for c in m.group(1).split(",")}
        assert "label" not in read_cols, name


def test_zscore_fact_table_never_shuffles(spark, sf_dir):
    """zscore_anomalies: the per-type stats frame broadcasts; the events
    fact table is scored map-side (no SortMergeJoin, no events-side
    hash exchange feeding the join)."""
    plan = _plan(all_queries.QUERIES["zscore_anomalies"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_cdc_merge_compiles_to_group_limit(spark, sf_dir):
    """cdc_merge_upsert: rank-1 winner prune must run as WindowGroupLimit
    (map-side partial prune before the key shuffle), and there is only
    that one shuffle."""
    plan = _plan(all_queries.QUERIES["cdc_merge_upsert"](spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan
    # formatted explain lists each node once in the detail section as
    # "(n) Exchange" — count those, not raw substrings (tree + detail
    # would double-count)
    import re as _re

    assert len(_re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan


def test_funnel_no_cartesian(spark, sf_dir):
    """funnel_stages: stage joins are keyed; the only cross joins are the
    three single-row scalar aggregates at the top."""
    plan = _plan(all_queries.QUERIES["funnel_stages"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan


def test_retention_type_filterless_scan_pruned(spark, sf_dir):
    """retention_cohorts reads only (user_id, ts) from events."""
    import re as _re

    plan = _plan(all_queries.QUERIES["retention_cohorts"](spark, sf_dir))
    m = _re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert "props" not in read_cols and "event_type" not in read_cols, read_cols


def test_zorder_keys_is_pure_projection(spark, sf_dir):
    """Morton-code computation must not shuffle: one scan, one project,
    zero exchanges."""
    plan = _plan(all_queries.QUERIES["zorder_keys"](spark, sf_dir))
    assert "Exchange" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_twap_window_and_agg_share_one_exchange(spark, sf_dir):
    """The lead() window and the final aggregate both partition on
    (ativo, day): the agg must reuse the window's exchange, leaving a
    single hash exchange in the plan."""
    plan = _plan(all_queries.QUERIES["twap_daily"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_markov_transitions_has_no_join(spark, sf_dir):
    """Consecutive-event pairing must come from lead(), never a
    self-join on (user, position)."""
    plan = _plan(all_queries.QUERIES["markov_transitions"](spark, sf_dir))
    assert "Join" not in plan


def test_trigram_model_join_is_broadcast(spark, sf_dir):
    """The bounded (|charset|^3) LM model must broadcast onto the corpus
    side — a sort-merge join would shuffle the 100 TB gram stream."""
    plan = _plan(all_queries.QUERIES["trigram_lm_score"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_phash_pairs_no_cartesian(spark, sf_dir):
    plan = _plan(all_queries.QUERIES["phash_near_dups"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # The signature pack is a narrow declarative aggregate — the old
    # collect_list + higher-order fold planned an un-codegen'd
    # ObjectHashAggregate (round-6 rewrite, same lesson as simhash).
    assert "ObjectHashAggregate" not in plan, plan


def test_text_canonicalize_is_shuffle_free(spark, sf_dir):
    """Canonicalization is a pure codegen projection — any SEMANTIC
    Exchange in this plan means the regex chain fell out of whole-stage
    codegen or something introduced a partitioning requirement. The
    documents scan's conditional parallelism-floor RoundRobin
    (operators/parallelism.py, absent on a multi-split corpus) is the
    one allowed exchange."""
    df = all_queries.QUERIES["text_canonicalize"](spark, sf_dir)
    plan = _plan(df)
    exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert exchanges == plan.count("RoundRobinPartitioning"), plan
    # codegen stars only appear on the FINALIZED adaptive plan now that
    # the floor exchange pulls the query under AQE: execute, then check
    # the projection ran inside WholeStageCodegen
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"\*\(\d+\) Project", final), final


def test_runtime_bloom_filter_injects_on_selective_shuffle_join(spark, sf_dir):
    """At 100 TB a selective dimension filter should reach the fact scan
    as a RUNTIME bloom semi-filter (might_contain) before the shuffle —
    Spark injects it when the probe side is big and the join shuffles.
    The size thresholds (10 GB probe-side default) are scaled to the
    fixture here to pin the plan SHAPE; production sizes cross the real
    thresholds on their own. Broadcast joins are excluded by
    construction (the broadcast already acts as the filter), so the
    assertion forces the shuffle-join path."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        od = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_totalprice") > 500000
        )
        j = (
            li.join(od, li.l_orderkey == od.o_orderkey, "inner")
            .groupBy("o_orderstatus")
            .count()
        )
        plan = _plan(j)
        assert "might_contain" in plan.lower()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_incremental_dedup_joins_on_band_keys(spark, sf_dir):
    """Delta-vs-corpus near-dedup must candidate via the (band_id,
    band_val) equi-join — a nested-loop or cartesian fallback would
    mean the LSH blocking failed and the join degenerates to
    delta x corpus."""
    from m2_b3_market_data_pipeline_spark.operators.dedup import release_cached

    df = all_queries.QUERIES["incremental_near_dedup"](spark, sf_dir)
    plan = _plan(df)
    release_cached(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band_val" in plan and "band_id" in plan


def test_simhash_aggregates_stay_in_codegen(spark, sf_dir):
    """The round-6 regression pin: the old 65-wide per-doc vote
    aggregate exceeded spark.sql.codegen.maxFields and the whole
    aggregate ran interpreted (~3x slower). The narrow bit-explode
    rewrite must keep EVERY HashAggregate inside a WholeStageCodegen
    stage — formatted explain tags codegen'd nodes with
    '[codegen id : N]' in their detail block."""
    df = all_queries.QUERIES["simhash_signatures"](spark, sf_dir)
    df.collect()  # AQE: codegen stages exist only in the FINAL plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    agg_lines = [l for l in plan.splitlines() if "HashAggregate(" in l]
    assert len(agg_lines) >= 4, plan  # partial+final for both groupBys
    not_codegen = [l for l in agg_lines if "*(" not in l]
    assert not not_codegen, not_codegen


def test_boilerplate_chrome_set_broadcasts(spark, sf_dir):
    """The df>=threshold boilerplate set is chrome-sized: it must
    broadcast back onto the exploded shingle stream, never shuffle the
    corpus side for the membership join."""
    plan = _plan(all_queries.QUERIES["boilerplate_frac"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_mixture_rebalance_corpus_shuffles_once(spark, sf_dir):
    """The corpus crosses the wire once (the waterline window); the
    totals path shuffles only map-side partials (partial_sum before its
    exchange), the 1-row budget frame attaches without a
    CartesianProduct, and the per-source fold after the filter reuses
    the window's partitioning — so exactly two hashpartitioning(source)
    exchanges and exactly one Window in the whole plan."""
    plan = _plan(all_queries.QUERIES["mixture_rebalance"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan
    # node details list each Exchange's Arguments once
    hash_exchanges = re.findall(r"Arguments: hashpartitioning\(source", plan)
    assert len(hash_exchanges) == 2, plan
    assert "partial_sum" in plan, plan


def test_partsupp_graphs_no_cartesian_and_bounded_broadcasts(spark, sf_dir):
    """The derived-partsupp generator crossJoins only broadcast bounded
    frames (4-row generator, 1-row supplier count); the literal TPC-H
    graphs must never degrade to a CartesianProduct, and nation/region
    stay broadcast."""
    for name in (
        "q2_partsupp",
        "q9_partsupp",
        "q11_partsupp",
        "q16_partsupp",
        "q20_partsupp",
    ):
        plan = _plan(all_queries.QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
    plan = _plan(all_queries.QUERIES["q2_partsupp"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_ann_recall_check_no_cartesian(spark, sf_dir):
    """Both sides of the recall join are top-k prunes; the only
    nested-loop join allowed is the exact side's broadcast of the query
    set (corpus never shuffles for it)."""
    plan = _plan(all_queries.QUERIES["ann_recall_check"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    # Exactly one BNLJ node — the brute-force EXACT baseline's non-equi
    # (query != neighbor) broadcast join, which is the definition of
    # brute force. The ANN candidate side must be a hash equi-join.
    # (formatted explain prints each node in tree + detail sections, so
    # count the numbered detail entries.)
    bnlj_nodes = re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M)
    assert len(bnlj_nodes) == 1, plan


def test_ann_topk_candidates_via_hash_equi_join(spark, sf_dir):
    """The r6 verdict's one 'weak' plan: ann_topk used a band-match
    DISJUNCTION, which has no hash key and planned as
    BroadcastNestedLoopJoin (|corpus| x |queries| predicate evals). The
    r7 rewrite explodes bands and equi-joins on (band_id, band_val),
    with the FIRST-MATCH bit filter making each pair surface exactly
    once — pin that no BNLJ ever returns, the candidate join is a
    BroadcastHashJoin, and no dedup aggregation ever reappears: the
    only exchanges are the top-k window's hashpartitioning and the
    corpus parallelism floor's RoundRobin (operators/parallelism.py —
    conditional, absent on a multi-split corpus)."""
    plan = _plan(all_queries.QUERIES["ann_topk_lsh"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    floors = plan.count("REPARTITION_BY_NUM")
    assert exchanges - floors == 1, plan


def test_surface_wide_aggregate_and_join_lint(registry_builds):
    """Whole-registry plan lint: no registered query may plan a
    CartesianProduct anywhere, and none may fall out of codegen'd hash
    aggregation (SortAggregate / ObjectHashAggregate) except the
    documented-intrinsic set (SCALE.md §9c: percentile sketches are
    TypedImperativeAggregates by design; struct-argmin/first-last
    shapes carry struct buffers). Catches the whole class of
    regressions fixed in round 6 (string-min minhash, collect_list
    phash, 65-wide simhash) for every FUTURE query too."""
    INTRINSIC = {
        # percentile / approx_percentile sketch buffers
        "exact_percentiles", "approx_quantiles", "approx_quantile_check",
        "percentile_binning", "mad_outliers", "lm_quality_buckets",
        # one-row codebook/centroid collect_list (r16 projection-form
        # IVF/PQ: the same rows the old form BROADCAST as a frame now
        # ride a single broadcast row — bounded by the codebook, not
        # the corpus, in the production fixed-codebook posture)
        "pq_codes", "pq_ann_topk", "ivfpq_ann_topk", "ivfpq_recall_check",
        "ivfpq_rerank_topk", "ivfpq_cells_scaled", "ivf_ann_topk",
        "resample_ohlc", "streaming_dedup", "hard_negatives",
        "streaming_triplets",
        # collect_list over the BOUNDED k x dim centroid rebuild frame
        "kmeans_clusters", "semdedup_prune",
        # collect_set of covered indices — bounded by doc length, only
        # for docs that HAVE duplicated spans (the map-side rebuild's
        # whole point; operators/dedup.py::remove_dup_spans)
        "dup_span_removal",
    }
    # Determinism-under-retry pin: the 100 TB mandate implies task
    # retries and speculative execution, and every operator claims
    # seeded-hash determinism — so NO registered plan may carry a
    # nondeterministic expression. The allowlist is EMPTY by design:
    # even the salting operators use a deterministic row-hash salt
    # (operators/skew.py::_row_salt), so any future rand()/uuid()/
    # monotonically_increasing_id() is a regression, not a style call.
    NONDET = re.compile(
        r"\b(rand|randn|uuid|monotonically_increasing_id|"
        r"spark_partition_id|input_file_name|current_timestamp|"
        r"current_date|now|shuffle)\s*\(",
        re.I,
    )
    offenders = {}
    for name, (plan, _leaked) in registry_builds.items():
        hits = [
            k
            for k in ("CartesianProduct", "SortAggregate", "ObjectHashAggregate")
            if k in plan
        ]
        hits += sorted({f"nondet:{m}" for m in NONDET.findall(plan)})
        if any(h.startswith("nondet:") for h in hits) or "CartesianProduct" in hits or (
            [h for h in hits if not h.startswith("nondet:")] and name not in INTRINSIC
        ):
            offenders[name] = hits
    assert not offenders, offenders


def test_bands_witness_computes_each_band_once(spark, sf_dir):
    """16 hyperplanes, 16 dot products. The banding relation explodes
    the per-band value array with posexplode_outer: a plain posexplode
    makes Catalyst infer size(__bv) > 0 below the projection, and that
    filter carries every dot product a second time."""
    df = all_queries.QUERIES["embedding_bands_witness"](spark, sf_dir)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("aggregate(zip_with") == 16


def test_semdedup_in_cluster_join_is_equi_join(spark, sf_dir):
    """SemDeDup's whole point is bounding the pairwise cosine to
    in-cluster pairs: the pair join must key on centroid_id (hash or
    sort-merge equi-join), never a nested-loop over the corpus. The
    id_a < id_b constraint stays a residual on that join. (The
    BroadcastNestedLoopJoins in the plan are kmeans_iterate's argmin
    assigns — K broadcast centroids against the corpus, by design.)"""
    plan = _plan(all_queries.QUERIES["semdedup_prune"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert re.search(r"keys \[1\]: \[centroid_id#\d+", plan), plan


def test_dup_ngram_spans_persists_shared_gram_stream(spark, sf_dir):
    """The positional-gram stream feeds two consumers (document-
    frequency table + membership join); without the persist Spark
    re-runs the tokenize+shingle+explode subtree per consumer — the
    boilerplate_frac lesson. The duplicated-gram set joins back via a
    shuffle equi-join (it scales with the corpus; broadcast would OOM
    at 100 TB)."""
    from m2_b3_market_data_pipeline_spark.operators.dedup import release_cached

    df = all_queries.QUERIES["dup_ngram_spans"](spark, sf_dir)
    plan = _plan(df)
    release_cached(df)
    assert "InMemoryTableScan" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bigram_pmi_topk_and_shared_counts(spark, sf_dir):
    """The top-k must compile to TakeOrderedAndProject (never a global
    sort of the scored pairs) and the persisted count tables must feed
    both their totals and the scoring joins (InMemoryTableScan)."""
    from m2_b3_market_data_pipeline_spark.operators.dedup import release_cached

    df = all_queries.QUERIES["bigram_pmi"](spark, sf_dir)
    plan = _plan(df)
    release_cached(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "InMemoryTableScan" in plan, plan


def test_dsir_model_broadcasts_and_stream_is_shared(spark, sf_dir):
    """The bucket model (n_buckets rows) must broadcast onto the
    feature stream — a shuffle join keyed on bucket would move the
    whole corpus for a 256-row lookup — and the exploded feature
    stream must be persisted (two consumers)."""
    from m2_b3_market_data_pipeline_spark.operators.dedup import release_cached

    df = all_queries.QUERIES["dsir_weights"](spark, sf_dir)
    plan = _plan(df)
    release_cached(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "InMemoryTableScan" in plan, plan


def test_hard_negatives_broadcasts_queries_and_folds_once(spark, sf_dir):
    """Triplet mining: the query side broadcasts
    (BroadcastNestedLoopJoin on the != residual), the corpus never
    shuffles for candidate generation, and BOTH argmaxes fold in one
    aggregation pass — no per-branch window may re-shuffle the full
    scored pair set (the struct-argmax trade pq_codes documents)."""
    plan = _plan(all_queries.QUERIES["hard_negatives"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan


def test_fuzzy_match_blocks_via_hash_join(spark, sf_dir):
    """The COMPOSITE blocking key (first char, length band) must become
    the hash-join key with levenshtein as a residual — a nested-loop
    fallback would mean the blocking failed and every pair gets scored,
    and a first-char-only key would give ~26-62 shuffle buckets (a
    hot-key join at corpus scale)."""
    plan = _plan(all_queries.QUERIES["fuzzy_name_match"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan
    assert "levenshtein" in plan  # residual on the join, post-blocking
    # Both conjuncts of the composite key are join keys (not residuals):
    # the formatted plan prints hash-join keys as [key1, key2].
    assert "blk_char" in plan and "blk_band" in plan
    import re

    assert re.search(r"blk_char#\d+L?, blk_band#\d+", plan), (
        "composite (blk_char, blk_band) must be the equi-join key"
    )
    # The band explode is the scale lever: dirty side fans out x3 so
    # neighbor bands co-locate without a non-equi residual shuffle.
    assert "Generate explode" in plan or "explode" in plan.lower()


def test_triangle_wedge_join_all_equi_no_nested_loop(spark, sf_dir):
    """Triangle counting is three equi-joins (rank attach, wedge
    self-join on the oriented source, wedge close on the (p, q) pair)
    — none may degrade to a nested-loop or cartesian form, because at
    100 TB a non-equi wedge join is the 'last reducer' the degree
    orientation exists to kill."""
    plan = _plan(all_queries.QUERIES["triangle_coparts"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_bm25_filters_tokens_before_explode_and_broadcasts_model(spark, sf_dir):
    """BM25's scale contract: the explode's input array is the token
    list ALREADY intersected with the query-term set (the exploded
    relation carries only query-term postings — at 100 TB exploding all
    corpus tokens first would shuffle the whole corpus token stream),
    and the vocab-bounded IDF/query relations join back as broadcasts,
    never a shuffled or nested-loop join."""
    plan = _plan(all_queries.QUERIES["bm25_topk"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # BroadcastNestedLoopJoin appears ONLY as the one-row broadcast
    # stats crossJoin (the collect-free scalar-subquery idiom); the
    # keyed joins must all be broadcast-HASH, never shuffled:
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # the filter() HOF sits inside the Generate node's input expression
    gen = re.search(r"\(\d+\) Generate[\s\S]{0,400}", plan)
    assert gen and "filter(" in gen.group(0), (
        "token filter must be fused into the explode input",
        gen.group(0) if gen else plan,
    )
    assert "BroadcastHashJoin" in plan
    # top-k per query is a window group limit, not a global sort
    assert "WindowGroupLimit" in plan or "TakeOrderedAndProject" in plan


def test_nb_classifier_model_join_is_broadcast(spark, sf_dir):
    """The NB model (|V| x |labels|) and priors must reach the
    doc-token relation as broadcasts: a shuffled model join would
    repartition the corpus token stream by token — the hot-key shape
    (stopwords) the broadcast exists to avoid."""
    plan = _plan(all_queries.QUERIES["nb_lang_classifier"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # one-row broadcast crossJoins (|V|, doc total) are the scalar
    # idiom and fine; every KEYED join must be broadcast-hash:
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "InMemoryTableScan" in plan  # the cached (label, token) counts


def test_mmr_relevance_pass_broadcasts_query_not_corpus(spark, sf_dir):
    """MMR's distributed stage: the single query row is the broadcast
    side of the relevance pass; the corpus side must not shuffle, and
    the shortlist must compile to TakeOrderedAndProject (O(M) state),
    not a global sort."""
    from m2_b3_market_data_pipeline_spark.operators.similarity import (
        as_double,
        cosine,
    )
    from m2_b3_market_data_pipeline_spark.plans.registry import load
    from m2_b3_market_data_pipeline_spark.plans.retrieval_quality import (
        MMR_SHORTLIST,
    )

    emb = load(spark, sf_dir, "embeddings")
    q = (
        emb.orderBy("vec_id")
        .limit(1)
        .select(F.col("vec_id").alias("__qid"), as_double("embedding").alias("__qv"))
    )
    short = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("__qid"))
        .select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.round(cosine(as_double("embedding"), F.col("__qv")), 6).alias("rel"),
        )
        .orderBy(F.desc("rel"), "vec_id")
        .limit(MMR_SHORTLIST)
    )
    plan = _plan(short)
    assert "TakeOrderedAndProject" in plan
    # one broadcast exchange (the query row); no shuffle exchange of the corpus
    assert "BroadcastExchange" in plan
    assert not re.search(r"Exchange hashpartitioning", plan), plan


def test_warm_query_suite_pass_compiles_no_class(spark, sf_dir):
    """Whole-stage codegen compiles each plan shape once: a second run of
    the benchmark's query_suite queries adds no Janino compile. Under
    Spark's default cache of 100 classes the six queries (109 classes)
    evicted one another, and every pass recompiled all of them."""
    from m2_b3_market_data_pipeline_spark.operators.dedup import release_cached
    from perfbench.query_suite import suite

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run_suite():
        for name in suite():
            df = all_queries.QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            release_cached(df)

    run_suite()
    before = compiles.getCount()
    run_suite()
    assert compiles.getCount() - before == 0
