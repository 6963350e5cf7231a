"""Round-8 hardening: the four ADVICE.md edge cases (pagerank sink
nodes, count-min absent-key estimates, NULL-text span removal, the
triangle rank-pack id guard) plus the scoped parallelism floor."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_pagerank_keeps_sink_nodes_in_vector_and_n(spark):
    """Directed graph with a pure sink (dst-only node): the node
    universe is union(src, dst), so the sink must appear in the output,
    count toward N, and accumulate teleport + incoming mass — checked
    against a pure-Python recompute of the same formula (out-going
    dangling mass dropped, per the documented simplification)."""
    from m2_b3_market_data_pipeline_spark.operators.dedup import release_cached
    from m2_b3_market_data_pipeline_spark.operators.graph import pagerank

    # 1 -> 2 <- 3, 1 -> 3: node 2 is a sink; N = 3.
    edges = [(1, 2), (3, 2), (1, 3)]
    d, iters = 0.85, 3
    nodes = sorted({x for e in edges for x in e})
    N = len(nodes)
    out_deg = {u: sum(1 for a, _ in edges if a == u) for u in nodes}
    pr = {u: 1.0 / N for u in nodes}
    for _ in range(iters):
        pr = {
            v: round(
                (1.0 - d) / N
                + d * sum(pr[u] / out_deg[u] for u, w in edges if w == v),
                9,
            )
            for v in nodes
        }

    e = spark.createDataFrame(edges, "src long, dst long")
    got = pagerank(e, damping=d, iters=iters)
    rows = {r.node: r.pagerank for r in got.collect()}
    release_cached(got)
    assert set(rows) == {1, 2, 3}  # sink node 2 present
    assert rows == pr
    # Sink receives mass from both feeders, so it must dominate.
    assert rows[2] == max(rows.values())


def test_countmin_estimate_covers_absent_keys(spark):
    """A probe key that was never inserted must still get an estimate:
    any empty (absent) bucket coordinate counts as 0, so a never-seen
    key whose coordinates miss every stored bucket estimates exactly 0
    — an inner join would instead drop it from the output (all-empty)
    or inflate the min over only its non-empty counters."""
    from m2_b3_market_data_pipeline_spark.operators.sketches import (
        countmin_estimate,
        countmin_table,
    )

    items = spark.createDataFrame([("alpha",)] * 7 + [("beta",)] * 2, "k string")
    # width 64 >> 2 keys: the absent probe's 3 buckets are empty.
    cm = countmin_table(items, "k", depth=3, width=64)
    probes = spark.createDataFrame(
        [("alpha",), ("beta",), ("never-inserted",)], "k string"
    )
    est = {
        r.k: r.cm_est
        for r in countmin_estimate(cm, probes, "k", depth=3, width=64).collect()
    }
    assert set(est) == {"alpha", "beta", "never-inserted"}
    assert est["alpha"] == 7 and est["beta"] == 2
    assert est["never-inserted"] == 0


def test_triangle_counts_rejects_out_of_range_node_ids(spark):
    """The (deg, id) rank pack requires ids in [0, 2^32); a violating
    id must raise loudly instead of silently corrupting the
    orientation into wrong counts."""
    from m2_b3_market_data_pipeline_spark.operators.graph import triangle_counts

    e = spark.createDataFrame([(1, 1 << 32), (1, 2), (2, 1 << 32)], "u long, v long")
    with pytest.raises(Exception, match="rank pack"):
        triangle_counts(e).collect()

    neg = spark.createDataFrame([(-1, 2), (2, 3), (3, -1)], "u long, v long")
    with pytest.raises(Exception, match="rank pack"):
        triangle_counts(neg).collect()


def test_bounded_reach_equals_recursive_cte(spark, sf_dir):
    """The iterative frontier BFS (the scale path — per-level dedup,
    state bounded by reached nodes) must produce exactly the recursive
    CTE's (seed, node, min-hops) relation; the CTE form is the
    cross-engine-pinned reference, the iterative form is what survives
    the recursion row limit at 10x data (round-8 sf1 sweep)."""
    from m2_b3_market_data_pipeline_spark.operators.dedup import release_cached
    from m2_b3_market_data_pipeline_spark.plans.graph_queries import (
        copurchase_reach,
        copurchase_reach_iter,
    )

    cte = copurchase_reach(spark, sf_dir)
    a = sorted((r.seed, r.node, r.hops) for r in cte.collect())
    release_cached(cte)
    it = copurchase_reach_iter(spark, sf_dir)
    b = sorted((r.seed, r.node, r.hops) for r in it.collect())
    release_cached(it)
    assert a == b and len(a) > 0


def test_rerun_equality_per_family(spark, sf_dir):
    """Determinism-under-retry witness: one representative per operator
    family, executed twice from scratch, must produce IDENTICAL row
    sets — the behavioral complement of the plan-text nondeterminism
    lint (test_plan_quality.py::test_surface_wide_aggregate_and_join_
    lint). Covers reference pipeline, relational, window, dedup, ANN,
    text, embeddings, events, graph, sketch, skew-salt, and split
    families; salted_skew_agg exercises the deterministic row-hash salt
    directly. Round 9 adds the retrieval wave's representatives (BM25,
    the iterative-greedy MMR, and the xor-checksummed shard manifest —
    the three new shapes where retry nondeterminism could hide)."""
    from m2_b3_market_data_pipeline_spark.operators.dedup import release_cached
    from m2_b3_market_data_pipeline_spark.plans.all_queries import QUERIES

    REPRESENTATIVES = [
        "refined_pipeline",     # reference ETL
        "q9_product_profit",    # relational join+agg
        "window_rank",          # window functions
        "minhash_dedup",        # dedup / LSH banding
        "ann_topk_lsh",         # similarity / hyperplane LSH
        "tfidf_top_terms",      # text analytics
        "centroid_assign",      # embeddings / k-means
        "sessionize_stats",     # event-log analytics
        "pagerank_cosuppliers", # iterative graph
        "countmin_check",       # sketches
        "salted_skew_agg",      # skew salting (row-hash salt)
        "train_test_split",     # leakage-safe splits
        "bm25_topk",            # lexical retrieval (r9)
        "mmr_select",           # greedy diversity selection (r9)
        "training_shards",      # delivery manifest / bit_xor checksum (r9)
    ]

    def rows(name):
        df = QUERIES[name](spark, sf_dir)
        got = sorted(map(tuple, df.collect()))
        release_cached(df)
        return got

    for name in REPRESENTATIVES:
        assert rows(name) == rows(name), f"{name} differs across reruns"


def test_bpe_apply_oracle_identity_on_adversarial_words(spark):
    """The delimiter-encoded replace chain (the bpe_apply_check oracle)
    must equal the Spark greedy fold on the adversarial shapes: runs of
    consecutive matches ('aaaa' under (a,a) -> aa aa, never aa a a),
    a rule whose right side is a previous rule's output, and a word
    where the pattern must NOT fire across a symbol boundary."""
    import duckdb

    from m2_b3_market_data_pipeline_spark.operators.bpe import apply_merges
    from m2_b3_market_data_pipeline_spark.plans.tokenizer_queries import (
        BPE_FIXED_MERGES,
    )
    from pyspark.sql import functions as F

    # 'errr' exercises rule 1 then a dangling r; 'merer' rule 6 over
    # rule 1's output twice; 'inin' consecutive rule-2 matches;
    # 'xer'/'ler' boundary shapes; 'atat' consecutive rule-7 matches.
    words = "errr merer inin xer ler atat eer rer stst lulu"
    docs = spark.createDataFrame([(1, words)], "doc_id long, text string")
    rules = [{"rank": k, "left": l, "right": r} for k, l, r in BPE_FIXED_MERGES]
    got = {
        r.word: r.sym_str
        for r in apply_merges(docs, rules)
        .select("word", F.concat_ws(" ", "sym").alias("sym_str"))
        .collect()
    }

    def enc(s: str) -> str:
        return f"chr(1) || '{s}' || chr(1)"

    expr = "enc"
    for _, l, r in sorted(BPE_FIXED_MERGES):
        expr = f"replace({expr}, {enc(l)} || ' ' || {enc(r)}, {enc(l + r)})"
    con = duckdb.connect()
    oracle = {
        w: con.execute(
            f"""SELECT replace({expr}, chr(1), '') FROM (
                SELECT array_to_string(list_transform(
                    generate_series(1, length(?)),
                    i -> chr(1) || substring(?, i, 1) || chr(1)), ' ') AS enc)""",
            [w, w],
        ).fetchone()[0]
        for w in words.split()
    }
    con.close()
    assert got == oracle
    assert got["inin"] == "in in"  # consecutive matches both fire
    assert got["merer"] == "mer er"  # rule 6 consumes rule 1's output


def test_floor_scoped_off_tfidf_chain(spark, sf_dir):
    """tfidf_top_terms is exempt from the parallelism floor (its first
    groupBy exchange already supplies parallelism; A/B: 0.82s unfloored
    vs 1.21s floored) — no round-robin repartition may enter its plan,
    while a floored heavy-map chain keeps it on this single-split
    fixture."""
    from m2_b3_market_data_pipeline_spark.plans.text_queries import tfidf_top_terms
    from m2_b3_market_data_pipeline_spark.plans.registry import load

    plan = tfidf_top_terms(spark, sf_dir)._jdf.queryExecution().toString()
    assert "RoundRobinPartitioning" not in plan

    floored = load(spark, sf_dir, "documents")
    fplan = floored._jdf.queryExecution().toString()
    assert "RoundRobinPartitioning" in fplan  # floor intact elsewhere


def test_gopher_rules_planted_outcomes(spark):
    """Each rule trips on its designed violation; a clean long doc
    passes everything; a NULL-text doc fails everything with FALSE
    (total booleans, never NULL)."""
    from m2_b3_market_data_pipeline_spark.operators.corpus import (
        gopher_quality_rules,
    )

    clean = "the cat and the dog sat with all of the friendly people " * 5
    docs = spark.createDataFrame(
        [
            (1, clean),                                   # passes all
            (2, "too short"),                             # word count
            (3, "aa " * 60),                              # mean len < 3
            (4, ("the of " * 30) + "# " * 20),            # symbol ratio
            (5, "\n".join(["the end..."] * 10)),          # ellipsis lines
            (6, "\n".join(["- item the of and to"] * 10)),  # bullet lines
            (7, ("123 456 " * 30) + "the of"),            # alpha words
            (8, "zz qq " * 30),                           # stopwords
            (9, None),                                    # NULL text
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in gopher_quality_rules(docs).collect()}
    assert got[1].pass_gopher is True
    assert got[2].r_word_count is False
    assert got[3].r_mean_word_len is False
    assert got[4].r_symbol_ratio is False
    assert got[5].r_ellipsis_lines is False
    assert got[6].r_bullet_lines is False
    assert got[7].r_alpha_words is False
    assert got[8].r_stopwords is False
    row9 = got[9]
    assert row9.n_words == 0
    for f in row9.asDict():
        if f.startswith(("r_", "pass_")):
            assert row9[f] is False  # FALSE, not NULL


def test_gopher_rules_is_shuffle_free(spark, sf_dir):
    """The quality gate is three stacked projections: zero SEMANTIC
    exchanges in the physical plan (the documents scan's conditional
    parallelism-floor RoundRobin is the local-fixture artifact, a
    no-op at cluster scale) — at 100 TB it is parquet-scan-bound."""
    from m2_b3_market_data_pipeline_spark.plans.all_queries import QUERIES

    plan = QUERIES["gopher_rules"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == plan.count("RoundRobinPartitioning"), plan


def test_source_temperature_weights_softens_dominance(spark, sf_dir):
    """alpha = 0.5 must move every source's weight TOWARD uniform:
    dominant sources get upsample < 1, rare sources > 1, and the
    weights renormalize to 1."""
    from m2_b3_market_data_pipeline_spark.plans.all_queries import QUERIES

    rows = QUERIES["source_temperature_weights"](spark, sf_dir).collect()
    assert abs(sum(r.w_alpha for r in rows) - 1.0) < 1e-4
    mean_p = 1.0 / len(rows)
    for r in rows:
        if r.p_tok > mean_p:
            assert r.upsample < 1.0 + 1e-9
        elif r.p_tok < mean_p:
            assert r.upsample > 1.0 - 1e-9


def test_c4_line_filters_planted_lines(spark):
    """Each C4 rule drops its designed line; the cleaned-text hash is
    the md5 of exactly the surviving lines; NULL text reports 0/0 with
    a NULL hash."""
    import hashlib

    from m2_b3_market_data_pipeline_spark.operators.corpus import c4_line_filters

    keep1 = "This line has enough words and punctuation."
    keep2 = "Another good line with five words total!"
    doc = "\n".join(
        [
            keep1,
            "no terminal punctuation so dropped",
            "Short line.",
            "This has javascript inside so it is dropped.",
            "A curly { brace means code so dropped.",
            "Lorem ipsum dolor sit amet is dropped.",
            keep2,
        ]
    )
    docs = spark.createDataFrame(
        [(1, doc), (2, None), (3, "all dropped here")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in c4_line_filters(docs).collect()}
    assert got[1].n_lines == 7 and got[1].n_kept == 2
    want = hashlib.md5(("\n".join([keep1, keep2])).encode()).hexdigest()
    assert got[1].clean_md5 == want
    assert got[2].n_lines == 0 and got[2].n_kept == 0 and got[2].clean_md5 is None
    assert got[3].n_kept == 0
    assert got[3].clean_md5 == hashlib.md5(b"").hexdigest()


def test_empty_input_contract_representatives(spark, tmp_path):
    """Degenerate-but-valid input: every operator family's
    representative must run cleanly over ZERO-row tables (same schema),
    and the round-8 empty-gate fixes must hold — no ANSI division crash
    in the recall ratio, no read of a skipped write, zero rows (no
    grand total) from Expand-based CUBE/ROLLUP, 0-not-NULL null counts
    in the profiler."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import make_empty_data

    argv = sys.argv
    sys.argv = ["make_empty_data.py", "/root/testdata/sf0.001", str(tmp_path)]
    try:
        make_empty_data.main()
    finally:
        sys.argv = argv

    from m2_b3_market_data_pipeline_spark.operators.dedup import release_cached
    from m2_b3_market_data_pipeline_spark.plans.all_queries import QUERIES

    sf = str(tmp_path)
    expect_rows = {
        "cube_lineitem": 0,
        "rollup_lineitem": 0,
        "refined_write_roundtrip": 0,
        "lsh_recall_check": 1,
        "profile_events": 5,
        "refined_pipeline": 0,
        "minhash_dedup": 0,
        "gopher_rules": 0,
        "c4_line_filters": 0,
        "sessionize_stats": 0,
        "countmin_check": 0,
    }
    for name, want in expect_rows.items():
        df = QUERIES[name](spark, sf)
        rows = df.collect()
        release_cached(df)
        assert len(rows) == want, (name, len(rows), want)
    lr = QUERIES["lsh_recall_check"](spark, sf).collect()[0]
    assert lr.n_true_pairs == 0 and lr.recall is None
