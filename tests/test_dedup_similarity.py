"""Dedup + similarity operators: known near-dups found, disjoint docs
not found, approximate methods bounded by the exact baselines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from m2_b3_market_data_pipeline_spark.operators.dedup import (
    dup_ngram_coverage,
    exact_dedup,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    release_cached,
    simhash_near_pairs,
    simhash_signatures,
)
from m2_b3_market_data_pipeline_spark.operators.similarity import (
    brute_force_topk,
    cosine,
    cosine_pairs_above,
    ivf_topk,
)
from m2_b3_market_data_pipeline_spark.plans.registry import load


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = "the quick brown fox jumps over the lazy dog near the river bank yesterday"
    far = "completely different words about spark partitions shuffles and catalyst optimizer internals"
    return spark.createDataFrame(
        [(1, base), (2, near), (3, far), (4, base)], "doc_id long, text string"
    )


def test_exact_dedup_deterministic_winner(spark):
    out = exact_dedup(_docs(spark), keys=["text"], tiebreak=["doc_id"])
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [1, 2, 3]  # doc 4 (dup of 1) dropped, min doc_id kept


def test_minhash_finds_near_dup_and_skips_far(spark):
    pairs = {(r.id_a, r.id_b) for r in minhash_dedup_pairs(_docs(spark), threshold=0.5).collect()}
    assert (1, 4) in pairs  # identical
    assert (1, 2) in pairs  # one-token difference
    assert not any(3 in p for p in pairs)


def test_incremental_pairs_delta_vs_corpus_only(spark):
    """The cross-relation join must surface delta->corpus near-dups and
    NEVER corpus-internal pairs (docs 1 and 4 are identical in the
    corpus but no (1,4) row may appear — that is the batch dedup's
    job)."""
    from m2_b3_market_data_pipeline_spark.operators.dedup import (
        minhash_incremental_pairs,
        release_cached,
    )

    corpus = _docs(spark)
    delta = spark.createDataFrame(
        [
            (101, "the quick brown fox jumps over the lazy dog near the river bank today indeed"),
            (102, "an entirely unrelated incoming document about gradient descent and tokenizers"),
        ],
        "doc_id long, text string",
    )
    out = minhash_incremental_pairs(delta, corpus, threshold=0.5)
    rows = out.collect()
    release_cached(out)
    got = {(r.delta_id, r.corpus_id) for r in rows}
    assert (101, 1) in got and (101, 4) in got  # near-copy of both twins
    assert not any(d == 102 for d, _ in got)    # unrelated delta stays out
    assert all(d >= 100 for d, _ in got)        # no corpus-internal pairs


def test_ngram_jaccard_exact_values(spark):
    out = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(_docs(spark), threshold=0.1).collect()}
    assert out[(1, 4)] == 1.0
    assert 0.5 < out[(1, 2)] < 1.0
    assert not any(3 in k for k in out)


def test_simhash_identical_docs_same_signature(spark):
    sigs = {
        r.doc_id: (r.simhash_lo, r.simhash_hi)
        for r in simhash_signatures(_docs(spark)).collect()
    }
    assert sigs[1] == sigs[4]
    assert sigs[1] != sigs[3]
    # both halves carry information and stay inside 32 unsigned bits
    for lo, hi in sigs.values():
        assert 0 <= lo < 2**32 and 0 <= hi < 2**32


def test_simhash_pigeonhole_matches_bruteforce(spark):
    sigs = simhash_signatures(_docs(spark))
    rows = sigs.collect()

    def ham(a, b):
        return (
            bin(a.simhash_lo ^ b.simhash_lo).count("1")
            + bin(a.simhash_hi ^ b.simhash_hi).count("1")
        )

    for max_hamming in (3, 7):  # 16-bit and 8-bit chunk layouts
        via_chunks = {
            (r.id_a, r.id_b)
            for r in simhash_near_pairs(sigs, max_hamming=max_hamming).collect()
        }
        brute = {
            (a.doc_id, b.doc_id)
            for a in rows
            for b in rows
            if a.doc_id < b.doc_id and ham(a, b) <= max_hamming
        }
        assert via_chunks == brute


def _vecs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.04, 0.0, 0.0]),  # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),  # orthogonal
        (4, [-1.0, 0.0, 0.0, 0.0]),  # opposite
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_values(spark):
    df = _vecs(spark)
    a = df.filter("vec_id = 1").select(F.col("embedding").alias("a"))
    pairs = a.crossJoin(df.select(F.col("vec_id"), F.col("embedding").alias("b")))
    got = {
        r.vec_id: r.c
        for r in pairs.select(
            "vec_id",
            F.round(cosine(F.transform("a", lambda x: x.cast("double")),
                           F.transform("b", lambda x: x.cast("double"))), 4).alias("c"),
        ).collect()
    }
    assert got[1] == 1.0 and got[4] == -1.0 and got[3] == 0.0
    assert 0.99 < got[2] < 1.0


def test_brute_force_topk_order_and_exclusion(spark):
    df = _vecs(spark)
    out = brute_force_topk(df, df.filter("vec_id = 1"), k=2).collect()
    assert [r.neighbor_id for r in out] == [2, 3]  # self excluded, ranked by cosine
    assert [r.rn for r in out] == [1, 2]


def test_cosine_pairs_threshold(spark):
    pairs = {(r.id_a, r.id_b) for r in cosine_pairs_above(_vecs(spark), threshold=0.9).collect()}
    assert pairs == {(1, 2)}


def test_generated_sql_quotes_a_backtick_column_name(spark):
    """jl_project, lsh_signatures and the banded LSH values splice the
    vector column into one generated SQL string: a backtick in its
    name stays inside one quoted identifier and the values match the
    plain-named column's."""
    from m2_b3_market_data_pipeline_spark.functions.ident import quote_ident
    from m2_b3_market_data_pipeline_spark.operators.embeddings import jl_project
    from m2_b3_market_data_pipeline_spark.operators.similarity import (
        _banded_values,
        lsh_signatures,
    )

    assert quote_ident("emb`x") == "`emb``x`"
    plain = _vecs(spark)
    odd = plain.withColumnRenamed("embedding", "emb`x")
    builds = (
        (lambda df, c: jl_project(df, vec_col=c, dim=4, out_dim=3), "projected"),
        (lambda df, c: lsh_signatures(df, vec_col=c, dim=4, n_bits=8), "lsh_sig"),
        (
            lambda df, c: _banded_values(
                df, vec_col=c, dim=4, band_bits=2, n_bands=3, plane_stride=2
            ),
            "__bv",
        ),
    )
    for build, out in builds:
        want = {r["vec_id"]: r[out] for r in build(plain, "embedding").collect()}
        got = {r["vec_id"]: r[out] for r in build(odd, "emb`x").collect()}
        assert got == want, out


def test_ivf_assign_is_per_row_on_duplicate_ids(spark):
    """An id on two input rows is assigned twice, each row from its own
    vector — ivf_assign never deduplicates ids."""
    from m2_b3_market_data_pipeline_spark.operators.similarity import ivf_assign

    vecs = _vecs(spark)
    dup = vecs.union(
        spark.createDataFrame([(1, [0.0, 1.0, 0.0, 0.0])], vecs.schema)
    )
    cents = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0, 0.0]), (11, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    got = sorted((r.vec_id, r.cid) for r in ivf_assign(dup, cents).collect())
    assert got == [(1, 10), (1, 11), (2, 10), (3, 11), (4, 11)]


def test_ivf_probing_all_cells_equals_exact(spark, sf_dir):
    """Equivalence: with nprobe = |cells| the IVF path degenerates to
    brute force — same pairs, same cosines, same ranks. Pins that the
    cell routing only *restricts* the candidate set, never corrupts
    scoring."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    centroids = emb.filter(F.col("vec_id") % 50 == 0)
    n_cells = centroids.count()
    exact = {
        (r.query_id, r.rn): (r.neighbor_id, r.cos)
        for r in brute_force_topk(emb, queries, k=3).collect()
    }
    full_probe = {
        (r.query_id, r.rn): (r.neighbor_id, r.cos)
        for r in ivf_topk(emb, queries, centroids, k=3, nprobe=n_cells).collect()
    }
    assert full_probe == exact


def test_ivf_recall_against_exact(spark, sf_dir):
    """IVF probe of 2 cells must recover most of the exact top-5 — and
    every IVF hit must carry the same cosine the exact path computes."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    centroids = emb.filter(F.col("vec_id") % 50 == 0)
    exact = {
        (r.query_id, r.neighbor_id): r.cos
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id): r.cos
        for r in ivf_topk(emb, queries, centroids, k=5, nprobe=2).collect()
    }
    hits = set(exact) & set(approx)
    recall = len(hits) / len(exact)
    assert recall >= 0.5, f"IVF recall {recall:.2f} below floor"
    for key in hits:
        assert exact[key] == approx[key]


def test_lsh_near_dups_subset_of_exact_with_recall(spark, sf_dir):
    """The registered embedding_near_dups path (LSH candidates + exact
    verify) must be a SUBSET of the quadratic ground truth with identical
    cosines (precision 1.0 — the verify step guarantees it), and recall
    above a floor at the registered band layout."""
    from m2_b3_market_data_pipeline_spark.operators.similarity import (
        banded_near_dup_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r.id_a, r.id_b): r.cos
        for r in cosine_pairs_above(emb, threshold=0.45).collect()
    }
    approx = {
        (r.id_a, r.id_b): r.cos
        for r in banded_near_dup_pairs(
            emb, dim=64, threshold=0.45, band_bits=4, n_bands=4, plane_stride=4
        ).collect()
    }
    assert set(approx) <= set(exact)
    for key, cos in approx.items():
        assert exact[key] == cos
    assert exact, "vacuous fixture: no exact pairs at threshold"
    recall = len(approx) / len(exact)
    assert recall >= 0.4, f"LSH recall {recall:.2f} below floor"


def test_minhash_cache_released(spark):
    """The persisted signature frame is scoped to the result: after the
    consuming action + release_cached, no cached RDDs linger."""
    from m2_b3_market_data_pipeline_spark.operators.dedup import release_cached

    # Check the scoped frame's own storage level rather than counting
    # session-wide persistent RDDs: other operators legitimately hold
    # session-lifetime entries (connected_components' per-round localCheckpoint)
    # and the ContextCleaner drops them asynchronously, so global counts
    # are racy.
    result = minhash_dedup_pairs(_docs(spark), threshold=0.5)
    result.count()
    (signed,) = result._cached_frames
    assert signed.storageLevel.useMemory or signed.storageLevel.useDisk
    release_cached(result)
    assert not (signed.storageLevel.useMemory or signed.storageLevel.useDisk)


def test_pq_codes_centroids_self_code(spark, sf_dir):
    """A vector that IS a codebook entry quantizes to itself at dist 0
    in every subspace."""
    from pyspark.sql import functions as F

    from m2_b3_market_data_pipeline_spark.plans.all_queries import QUERIES
    from m2_b3_market_data_pipeline_spark.plans.retrieval_quality import (
        CENTROID_MOD,
        PQ_SUB,
    )

    out = QUERIES["pq_codes"](spark, sf_dir)
    cent_rows = out.filter(F.col("vec_id") % CENTROID_MOD == 0)
    assert cent_rows.filter(F.col("dist") != 0.0).count() == 0
    # every vector gets exactly PQ_SUB codes
    bad = out.groupBy("vec_id").count().filter(F.col("count") != PQ_SUB)
    assert bad.count() == 0


def test_pq_codes_single_exchange_plan(spark, sf_dir):
    """r16 projection form: the code argmin is a map pass against the
    one-row broadcast codebook array — the CORPUS never shuffles at all
    (the r15 form shuffled |corpus| x n_sub partial-argmin rows into a
    SortAggregate), and the codebook gather's scan is coalesce(1)-folded
    into its single final task (the one-row merge is single-task either
    way — the broadcast bound), so there is NO non-broadcast exchange
    anywhere in the plan: no hashpartitioning, no SinglePartition, no
    SortMergeJoin, no sort-based aggregate."""
    from m2_b3_market_data_pipeline_spark.plans.all_queries import QUERIES

    plan = QUERIES["pq_codes"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "SortAggregate" not in plan, plan


def test_pq_ann_topk_invariants(spark, sf_dir):
    """ADC search: exactly k neighbors per query, non-negative distances,
    ranks total-ordered, and no self-matches."""
    from pyspark.sql import functions as F

    from m2_b3_market_data_pipeline_spark.plans.all_queries import QUERIES
    from m2_b3_market_data_pipeline_spark.plans.retrieval_quality import TOP_K

    out = QUERIES["pq_ann_topk"](spark, sf_dir).cache()
    try:
        per_q = out.groupBy("query_id").agg(
            F.count("*").alias("n"), F.collect_set("rn").alias("rns")
        )
        assert per_q.filter(F.col("n") != TOP_K).count() == 0
        assert out.filter(F.col("adist") < 0).count() == 0
        assert out.filter(F.col("query_id") == F.col("neighbor_id")).count() == 0
        # adist is non-decreasing in rank within each query
        from pyspark.sql import Window as W

        prev = F.lag("adist").over(W.partitionBy("query_id").orderBy("rn"))
        assert out.withColumn("p", prev).filter(F.col("p") > F.col("adist")).count() == 0
    finally:
        out.unpersist()


def test_dup_ngram_coverage_interval_union(spark):
    # Docs 1 and 2 share a 6-token run => two overlapping 5-gram
    # positions, covering 6 distinct token indices (union, not 10).
    shared = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [
            (1, f"{shared} unique one two"),
            (2, f"other start {shared}"),
            (3, "nothing in common with anybody else at all"),
            (4, "tiny doc"),  # < n tokens
        ],
        "doc_id long, text string",
    )
    out = dup_ngram_coverage(docs, n=5, min_df=2)
    got = {r.doc_id: r for r in out.collect()}
    release_cached(out)
    assert got[1].dup_positions == 2 and got[1].covered_tokens == 6
    assert got[2].dup_positions == 2 and got[2].covered_tokens == 6
    assert got[1].n_tok == 9
    assert abs(got[1].dup_frac - round(6 / 9, 6)) < 1e-9
    assert got[3].dup_positions == 0 and got[3].covered_tokens == 0
    assert got[3].dup_frac == 0.0
    # short doc still reports a row, all zeros
    assert got[4].n_tok == 2 and got[4].covered_tokens == 0


def test_dup_ngram_coverage_within_doc_repeat_not_counted(spark):
    # A 5-gram repeated twice INSIDE one doc but appearing in no other
    # doc has document frequency 1 — not a cross-doc duplicate.
    phrase = "one two three four five"
    docs = spark.createDataFrame(
        [(1, f"{phrase} filler {phrase}"), (2, "entirely different words here now")],
        "doc_id long, text string",
    )
    out = dup_ngram_coverage(docs, n=5, min_df=2)
    got = {r.doc_id: r for r in out.collect()}
    release_cached(out)
    assert got[1].dup_positions == 0 and got[1].covered_tokens == 0


def test_dup_ngram_coverage_null_text_counts_as_zero(spark):
    docs = spark.createDataFrame(
        [(1, None), (2, "one two three four five six"), (3, "one two three four five six")],
        "doc_id long, text string",
    )
    out = dup_ngram_coverage(docs, n=5, min_df=2)
    got = {r.doc_id: r for r in out.collect()}
    release_cached(out)
    assert got[1].n_tok == 0 and got[1].covered_tokens == 0 and got[1].dup_frac == 0.0
    assert got[2].covered_tokens == 6  # the planted twins still match


def test_dup_span_removal_cuts_exactly_the_planted_span(spark):
    """Plant one 6-token sentence verbatim in two docs and nowhere
    else: removal must cut exactly that span from both (every token of
    it is under some duplicated 5-gram), keep everything else, and
    leave the third doc untouched. Also the cross-operator invariant:
    kept_tokens == n_tok - covered_tokens per doc, with the covered
    side computed by the independent dup_ngram_coverage operator."""
    from m2_b3_market_data_pipeline_spark.operators.dedup import (
        dup_ngram_coverage,
        release_cached,
        remove_dup_spans,
    )

    span = "the quick brown fox jumps high"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {span} gamma delta"),
            (2, f"one two three {span} four five six"),
            (3, "totally unrelated text with no repeats at all here"),
        ],
        "doc_id long, text string",
    )
    out = remove_dup_spans(docs, n=5, min_df=2)
    got = {r.doc_id: r for r in out.collect()}
    release_cached(out)
    assert got[1].clean_text == "alpha beta gamma delta"
    assert got[2].clean_text == "one two three four five six"
    assert got[3].clean_text == "totally unrelated text with no repeats at all here"
    assert got[1].kept_tokens == 4 and got[2].kept_tokens == 6

    cov_df = dup_ngram_coverage(docs, n=5, min_df=2)
    cov = {r.doc_id: r for r in cov_df.collect()}
    release_cached(cov_df)
    for d in (1, 2, 3):
        assert got[d].kept_tokens == cov[d].n_tok - cov[d].covered_tokens, d


def test_remove_dup_spans_null_text_degrades_to_empty(spark):
    """NULL text must degrade to the empty document (n_tok 0,
    kept_tokens 0, clean_text '') exactly as the DuckDB oracle does —
    not NULL kept_tokens from ANSI size(NULL)."""
    from m2_b3_market_data_pipeline_spark.operators.dedup import (
        release_cached,
        remove_dup_spans,
    )

    docs = spark.createDataFrame(
        [
            (1, None),
            (2, "a b c d e f"),
            (3, "a b c d e f"),
        ],
        "doc_id long, text string",
    )
    out = remove_dup_spans(docs, n=5, min_df=2)
    got = {r.doc_id: r for r in out.collect()}
    release_cached(out)
    assert got[1].n_tok == 0
    assert got[1].kept_tokens == 0 and got[1].clean_text == ""
    # The duplicated docs still get fully cut (regression guard).
    assert got[2].kept_tokens == 0 and got[3].kept_tokens == 0


def test_scaled_near_dups_precision_one_vs_exact(spark, sf_dir):
    """The bits-scaled near-dup path verifies candidates with exact
    cosine, so found pairs ⊆ exact pairs at the same threshold
    (precision 1.0) — the property that makes LSH candidate pruning
    safe. Recall is a knob trade, reported not asserted."""
    from m2_b3_market_data_pipeline_spark.plans.scaled_knobs import (
        embedding_near_dups_bits_scaled,
    )

    emb = load(spark, sf_dir, "embeddings")
    exact = {
        (r.id_a, r.id_b)
        for r in cosine_pairs_above(emb, threshold=0.45).collect()
    }
    found = {
        (r.id_a, r.id_b)
        for r in embedding_near_dups_bits_scaled(spark, sf_dir).collect()
    }
    assert found <= exact


def test_minhash_join_strategy_sizing_rule(spark, sf_dir):
    """The sf30 finding's rule, pinned both ways: at fixture scale the
    minhash pair path keeps the estimator's broadcasts (zero
    SortMergeJoin — the same-window A/B showed forced-merge costing
    +27%/+87% where broadcast fits), while force_shuffle pins every
    corpus-derived join to sort-merge (the shape that survived sf30
    where the auto-broadcast died). The threshold constant carries the
    measured boundary."""
    from m2_b3_market_data_pipeline_spark.operators.dedup import (
        SHUFFLE_JOIN_MIN_DOCS,
        jaccard_verify,
        lsh_candidate_pairs,
        release_cached,
        with_minhash,
    )
    from m2_b3_market_data_pipeline_spark.plans import all_queries
    from m2_b3_market_data_pipeline_spark.plans.registry import load

    assert 438_350 < SHUFFLE_JOIN_MIN_DOCS < 1_059_006  # the measured boundary

    # Small corpus -> the registered query keeps the broadcast plan.
    df = all_queries.QUERIES["minhash_dedup"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    release_cached(df)
    assert "SortMergeJoin" not in plan, plan[:1500]

    # force_shuffle -> every pair-path join is sort-merge, none broadcast.
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    signed = with_minhash(docs).persist()
    try:
        pairs = lsh_candidate_pairs(signed, force_shuffle=True)
        out = jaccard_verify(
            pairs, signed.select("doc_id", "sh"), threshold=0.5, force_shuffle=True
        )
        forced = out._jdf.queryExecution().executedPlan().toString()
    finally:
        signed.unpersist()
    # >= 3 sort-merge joins = the banded self-join + both verify joins.
    # with_minhash's internal signature left-join stays
    # estimator-decided (NOT hinted): its build side is an AGGREGATE
    # output whose runtime size AQE measures accurately — at sf30 it
    # chose sort-merge by itself (the probe recorded 11 SMJ / 0 BHJ),
    # while at fixture scale its broadcast is correct and cheap.
    assert forced.count("SortMergeJoin") >= 3, forced[:1500]


def test_incremental_cross_pairs_shuffle_switch(spark):
    """The fifth-decade streaming finding (round 12): the incremental
    band/verify joins must pin to SORT-MERGE past the doc threshold —
    at 3.05M stored docs the auto-broadcast of the corpus-sized sides
    died on spark.driver.maxResultSize mid-drain. force_shuffle=True
    plans SortMergeJoin with zero BroadcastHashJoin; the small-corpus
    default keeps the (faster there) broadcast plan; pair OUTPUT is
    identical under both strategies."""
    from m2_b3_market_data_pipeline_spark.operators.dedup import (
        _cross_pairs_from_signed,
        fan_out,
        with_minhash,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta eta theta doc{i % 3}")
         for i in range(12)],
        "doc_id long, text string",
    )
    d = with_minhash(fan_out(docs.filter("doc_id % 2 = 0"))).persist()
    c = with_minhash(fan_out(docs.filter("doc_id % 2 = 1"))).persist()
    try:
        forced = _cross_pairs_from_signed(d, c, threshold=0.3, force_shuffle=True)
        plan = forced._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "BroadcastHashJoin" not in plan
        auto = _cross_pairs_from_signed(d, c, threshold=0.3)  # tiny: stays broadcast-eligible
        got_f = {(r.delta_id, r.corpus_id, r.jaccard) for r in forced.collect()}
        got_a = {(r.delta_id, r.corpus_id, r.jaccard) for r in auto.collect()}
        assert got_f == got_a and got_f, "strategy must not change pairs"
    finally:
        d.unpersist()
        c.unpersist()


def test_one_near_dup_core():
    """Every near-dup candidate generator runs dedup.band_join: dedup.py
    and similarity.py hold ONE band equi-join (a join keyed on band or
    chunk ids) and ONE first-match loop between them, and the deleted
    per-operator copies do not come back."""
    import ast
    import inspect
    import pathlib

    from m2_b3_market_data_pipeline_spark.operators import dedup, similarity

    def banded(node) -> bool:
        text = ast.unparse(node)
        return "band_id" in text or "chunk_id" in text

    joins = loops = 0
    for mod in (dedup, similarity):
        for node in ast.walk(ast.parse(inspect.getsource(mod))):
            if isinstance(node, ast.For) and banded(node):
                loops += 1
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "join"
                and any(banded(a) for a in node.args + node.keywords)
            ):
                joins += 1
    assert (joins, loops) == (1, 1)

    package = pathlib.Path(dedup.__file__).parents[1]
    source = "\n".join(p.read_text() for p in package.rglob("*.py"))
    for name in (
        "lsh_near_dup_pairs",
        "lsh_candidates",
        "_first_match_filter",
        "_band_first_match",
        "minhash_signature",
    ):
        assert f"def {name}(" not in source, name
