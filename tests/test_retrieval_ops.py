"""Retrieval operators: BM25, MMR diversity selection, the
counting-trained NB classifier and the source-KL mixture diagnostic,
then the embedding retrieval core (hard-negative triplets, IVF-PQ and
PQ-ADC search, the exact re-rank, the banded near-dup layout) and a
structural pin on that core.

Mostly planted-input properties and cross-operator identities — the
hash-level engine parity is the oracle gate's job; the multi-chain MMR
test checks its chains against the DuckDB oracle's chain directly."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from m2_b3_market_data_pipeline_spark.operators.retrieval import (
    bm25_topk,
    mmr_select,
)
from m2_b3_market_data_pipeline_spark.operators.text import (
    nb_lang_scores,
    source_unigram_kl,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, schema="doc_id long, lang string, source string, text string")


def test_bm25_tf_orders_within_equal_length(spark):
    docs = _docs(
        spark,
        [
            (1, "en", "s", "apple apple banana"),
            (2, "en", "s", "apple banana banana"),
            (3, "en", "s", "cherry cherry cherry"),
            (4, "en", "s", None),  # NULL text: not in the corpus at all
        ],
    )
    out = bm25_topk(docs, {"qa": ("apple",)}).collect()
    # doc 3 matches no term -> absent; NULL-text doc never scores.
    assert [r["doc_id"] for r in out] == [1, 2]
    assert [r["rank"] for r in out] == [1, 2]
    assert out[0]["score"] > out[1]["score"] > 0


def test_bm25_length_normalization_prefers_shorter_doc(spark):
    # Same tf, different dl: the b-term must rank the shorter doc first.
    docs = _docs(
        spark,
        [
            (1, "en", "s", "apple banana"),
            (2, "en", "s", "apple banana filler filler filler filler"),
        ],
    )
    out = bm25_topk(docs, {"qa": ("apple",)}).collect()
    assert [r["doc_id"] for r in out] == [1, 2]


def test_bm25_multi_term_sums_and_ties_break_by_doc_id(spark):
    docs = _docs(
        spark,
        [(1, "en", "s", "x y"), (2, "en", "s", "x y"), (3, "en", "s", "x z")],
    )
    out = bm25_topk(docs, {"q": ("x", "y")}).collect()
    assert [(r["doc_id"], r["rank"]) for r in out] == [(1, 1), (2, 2), (3, 3)]
    assert out[0]["score"] == out[1]["score"] > out[2]["score"]


def test_mmr_skips_redundant_near_duplicate(spark):
    # vec 0 = the query (min id). 1 ~ 2 are near-duplicates; 3 is
    # orthogonal-ish with lower relevance. With lam=0.3 the redundancy
    # penalty must demote 2 below 3.
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0, 0.0]),
            (2, [0.9, 0.11, 0.0, 0.0]),
            (3, [0.1, 0.9, 0.0, 0.0]),
        ],
        schema="vec_id long, embedding array<float>",
    )
    out = mmr_select(emb, k=3, lam=0.3, shortlist=8).collect()
    assert [(r["rank"], r["vec_id"]) for r in out] == [(1, 1), (2, 3), (3, 2)]
    # first pick's score is round6(lam * rel) with zero penalty
    rel = out[0]["mmr_score"]
    assert rel > 0
    # scores are monotone non-increasing only for equal-penalty steps;
    # what IS pinned: every emitted score is finite and 6dp-rounded
    for r in out:
        assert r["mmr_score"] == round(r["mmr_score"], 6)


def test_mmr_fewer_candidates_than_k(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.5, 0.5])],
        schema="vec_id long, embedding array<float>",
    )
    out = mmr_select(emb, k=8, lam=0.7, shortlist=4).collect()
    assert [(r["rank"], r["vec_id"]) for r in out] == [(1, 1)]


def test_mmr_empty_input_yields_empty_frame_with_schema(spark):
    emb = spark.createDataFrame([], schema="vec_id long, embedding array<float>")
    out = mmr_select(emb, k=3)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == ["rank", "vec_id", "mmr_score"]


def test_nb_separable_languages_classify_perfectly(spark):
    docs = _docs(
        spark,
        [
            (1, "aa", "s", "foo foo"),
            (2, "aa", "s", "foo foo foo"),
            (3, "bb", "s", "bar bar"),
            (4, "bb", "s", "bar"),
            (5, None, "s", "foo"),  # unlabeled: scored, correct NULL
            (6, "aa", "s", None),   # NULL text: not scored
            (7, "aa", "s", "zzz"),  # labeled, so zzz is in-vocab
        ],
    )
    out = {r["doc_id"]: r for r in nb_lang_scores(docs).collect()}
    assert out[1]["pred_lang"] == "aa" and out[1]["correct"] == 1
    assert out[2]["pred_lang"] == "aa"
    assert out[3]["pred_lang"] == "bb" and out[3]["correct"] == 1
    assert out[4]["pred_lang"] == "bb"
    assert out[5]["pred_lang"] == "aa" and out[5]["correct"] is None
    assert 6 not in out
    # zzz occurs only in an 'aa' doc; smoothing + the aa prior keep it aa
    assert out[7]["pred_lang"] == "aa"
    assert out[5]["log_post"] < 0  # log of a probability


def test_nb_out_of_vocab_doc_drops(spark):
    docs = _docs(
        spark,
        [
            (1, "aa", "s", "foo"),
            (2, "bb", "s", "bar"),
            (3, None, "s", "zzz"),  # unlabeled AND out-of-vocab: no rows
        ],
    )
    out = {r["doc_id"] for r in nb_lang_scores(docs).collect()}
    assert out == {1, 2}


def test_kl_values_match_hand_computation(spark):
    # corpus (NULL-source doc excluded): x 4/6, y 2/6.
    # s1 = s2 = 50/50 -> KL = .5 ln(3/4) + .5 ln(3/2) = .5 ln(9/8);
    # s3 pure x -> KL = ln(3/2).
    docs = _docs(
        spark,
        [
            (1, "en", "s1", "x y"),
            (2, "en", "s2", "x y"),
            (3, "en", "s3", "x x"),
            (4, "en", None, "x"),  # NULL source: excluded by contract
        ],
    )
    out = {r["source"]: r for r in source_unigram_kl(docs).collect()}
    assert set(out) == {"s1", "s2", "s3"}
    assert out["s1"]["n_tokens"] == 2
    assert out["s1"]["kl_divergence"] == round(0.5 * math.log(9 / 8), 6)
    assert out["s2"]["kl_divergence"] == out["s1"]["kl_divergence"]
    assert out["s3"]["kl_divergence"] == round(math.log(3 / 2), 6)


def test_kl_zero_when_every_source_matches_corpus(spark):
    docs = _docs(
        spark,
        [(1, "en", "s1", "x y"), (2, "en", "s2", "y x"), (3, "en", "s3", "x y")],
    )
    out = source_unigram_kl(docs).collect()
    assert {r["kl_divergence"] for r in out} == {0.0}


def test_nb_zero_token_label_stays_in_the_model(spark):
    """Regression (golden-found): a label whose training docs are all
    empty-text has zero token mass but a real prior — it must stay in
    the label universe and score every vocab token at ln(1/V), not drop
    from the model. Here 'bb' has 2 of 3 training docs, so its prior
    dominates the single-token evidence for 'aa'."""
    docs = _docs(
        spark,
        [(1, "bb", "s", ""), (2, "aa", "s", "w"), (3, "bb", "s", "")],
    )
    out = {r["doc_id"]: r for r in nb_lang_scores(docs).collect()}
    # only doc 2 has an in-vocab token, and it must classify as 'bb':
    # post_bb = ln(2/3) + ln(1/1) = -0.405465 beats
    # post_aa = ln(1/3) + ln(2/2) = -1.098612
    assert set(out) == {2}
    assert out[2]["pred_lang"] == "bb"
    assert out[2]["log_post"] == round(math.log(2 / 3), 6)


def test_hard_negative_mining_planted_geometry(spark):
    # Query q (label A) sits between a same-label twin (cos ~1) and a
    # near-identical different-label vector; the triplet must pick the
    # twin as positive and the close wrong-label vector as the HARD
    # negative (not the far one).
    from m2_b3_market_data_pipeline_spark.operators.similarity import (
        hard_negative_mining,
    )

    q = [1.0, 0.0, 0.0, 0.0]
    near = [0.9, 0.1, 0.0, 0.0]   # closest overall, wrong label
    far = [0.0, 0.0, 1.0, 0.0]    # wrong label, far away
    twin = [0.95, 0.0, 0.05, 0.0]  # same label, close
    emb = spark.createDataFrame(
        [(0, "A", q), (1, "B", near), (2, "B", far), (3, "A", twin)],
        "vec_id long, label string, embedding array<double>",
    )
    queries = emb.filter(F.col("vec_id") == 0)
    rows = hard_negative_mining(emb, queries).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.pos_id == 3 and r.neg_id == 1
    assert r.neg_cos > 0.9 and r.pos_cos > 0.9  # both genuinely hard/close
    # a query with no same-label counterpart yields no triplet
    lonely = spark.createDataFrame(
        [(0, "A", q), (1, "B", near)], "vec_id long, label string, embedding array<double>"
    )
    assert hard_negative_mining(lonely, lonely.filter(F.col("vec_id") == 0)).count() == 0


def test_ivfpq_full_probe_equals_pq_ann_topk(spark, sf_dir):
    """With nprobe >= |cells| the IVF restriction admits every corpus
    vector, so IVF-PQ must degenerate to EXACTLY the flat PQ-ADC search
    — same neighbors, same distances, same ranks. Pins the composite's
    scoring path to the already-oracle-checked pq_ann_topk."""
    from m2_b3_market_data_pipeline_spark.operators.similarity import (
        ivfpq_topk,
        pq_ann_topk,
    )
    from m2_b3_market_data_pipeline_spark.plans.retrieval_quality import (
        CENTROID_MOD,
        EMBED_DIM,
        PQ_SUB,
        QUERY_MOD,
        TOP_K,
    )
    from m2_b3_market_data_pipeline_spark.plans.registry import load

    emb = load(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % CENTROID_MOD == 0)
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    n_cells = centroids.count()
    full = ivfpq_topk(
        emb, queries, centroids, centroids,
        dim=EMBED_DIM, n_sub=PQ_SUB, k=TOP_K, nprobe=n_cells,
    )
    flat = pq_ann_topk(
        emb, queries, centroids, dim=EMBED_DIM, n_sub=PQ_SUB, k=TOP_K
    )
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, flat.collect()))


def test_rerank_full_shortlist_degenerates_to_brute_force(spark, sf_dir):
    """With the shortlist deepened to the whole corpus, the exact
    re-rank must reproduce brute_force_topk row-for-row (same 6dp
    cosine, same tiebreak) — stage 2 adds no semantics of its own, it
    only rescores what stage 1 admits."""
    from m2_b3_market_data_pipeline_spark.plans.retrieval_quality import (
        CENTROID_MOD,
        EMBED_DIM,
        NPROBE,
        PQ_SUB,
        QUERY_MOD,
        TOP_K,
    )
    from m2_b3_market_data_pipeline_spark.plans.registry import load
    from m2_b3_market_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk,
        rerank_exact,
    )

    emb = load(spark, sf_dir, "embeddings")
    n = emb.count()
    centroids = emb.filter(F.col("vec_id") % CENTROID_MOD == 0)
    n_cells = centroids.count()
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    # full probe + full-depth shortlist: stage 1 admits everything
    shortlist = ivfpq_topk(
        emb, queries, centroids, centroids,
        dim=EMBED_DIM, n_sub=PQ_SUB, k=n, nprobe=n_cells,
    )
    got = rerank_exact(emb, queries, shortlist, k=TOP_K)
    want = brute_force_topk(emb, queries, k=TOP_K)
    assert sorted(got.collect()) == sorted(want.collect())


def test_rerank_recall_dominates_adc_ranking(spark, sf_dir):
    """The point of the re-rank: at the same shortlist, exact rescoring
    recovers QUANTIZATION misrankings — so reranked recall@k vs the
    exact baseline must never fall below the raw ADC top-k's recall.
    (It cannot recover CELL-restriction misses: a true neighbor outside
    the probed cells never reaches stage 2, which is why fixture recall
    sits well under 1.0 at nprobe=2 — that loss is ivfpq_recall_check's
    business, not the re-rank's.) Also pin the output contract: exactly
    TOP_K rows per query."""
    from m2_b3_market_data_pipeline_spark.plans.all_queries import QUERIES
    from m2_b3_market_data_pipeline_spark.plans.retrieval_quality import (
        QUERY_MOD,
        TOP_K,
    )
    from m2_b3_market_data_pipeline_spark.plans.registry import load
    from m2_b3_market_data_pipeline_spark.operators.similarity import brute_force_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=TOP_K).collect()
    }
    adc = {
        (r.query_id, r.neighbor_id)
        for r in QUERIES["ivfpq_ann_topk"](spark, sf_dir).collect()
    }
    rerank = {
        (r.query_id, r.neighbor_id)
        for r in QUERIES["ivfpq_rerank_topk"](spark, sf_dir).collect()
    }
    assert len(rerank & exact) >= len(adc & exact)
    from collections import Counter

    per_query = Counter(q for q, _ in rerank)
    n_queries = len({q for q, _ in exact})
    assert len(per_query) == n_queries
    assert all(c == TOP_K for c in per_query.values()), per_query


def test_banded_near_dup_matches_sliced_layout(spark, sf_dir):
    """With plane_stride = band_bits, banded_near_dup_pairs' per-band
    hyperplane families are the slices of ONE contiguous signature
    (band j IS planes [j*w, (j+1)*w) of lsh_signatures): its pairs
    equal a pure-Python band bucketing of the sliced 12-bit signature,
    verified against the exact cosine baseline."""
    from collections import defaultdict

    from m2_b3_market_data_pipeline_spark.operators.similarity import (
        banded_near_dup_pairs,
        cosine_pairs_above,
        lsh_signatures,
    )
    from m2_b3_market_data_pipeline_spark.plans.registry import load

    emb = load(spark, sf_dir, "embeddings")
    buckets = defaultdict(list)
    for r in lsh_signatures(emb, dim=64, n_bits=12).collect():
        for j in range(3):
            buckets[(j, (r["lsh_sig"] >> (4 * j)) & 15)].append(r["vec_id"])
    cands = {(a, b) for ids in buckets.values() for a in ids for b in ids if a < b}
    exact = {(r["id_a"], r["id_b"]) for r in cosine_pairs_above(emb, threshold=0.3).collect()}
    new = banded_near_dup_pairs(
        emb, dim=64, threshold=0.3, band_bits=4, n_bands=3, plane_stride=4
    ).collect()
    key = lambda r: (r["id_a"], r["id_b"])
    assert sorted(map(key, new)) == sorted(cands & exact)
    assert len(new) > 0  # fixture yields pairs at this permissive layout


def test_banded_near_dup_plan_shape(spark, sf_dir):
    """Plan pin for the band-count layout: the candidate path is a
    hash equi-join on (band_id, band_val) — zero BNLJ / cartesian /
    sort-merge at fixture scale (the estimator's broadcasts are
    correct below the §20 sizing boundary), and exactly two Generates
    (one posexplode per join side) — the same exploded-band shape the
    r7 ann_topk rewrite pinned, carried to the per-band-family
    representation."""
    from m2_b3_market_data_pipeline_spark.operators.similarity import (
        banded_near_dup_pairs,
    )
    from m2_b3_market_data_pipeline_spark.plans.registry import load

    emb = load(spark, sf_dir, "embeddings")
    df = banded_near_dup_pairs(
        emb, dim=64, threshold=0.45, band_bits=6, n_bands=4, plane_stride=20
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Generate") == 2, plan[:1200]


def test_banded_near_dup_rejects_overlapping_plane_families(spark):
    """plane_stride < band_bits would make bands share hyperplanes —
    correlated band values, broken independence math (r11 advisor)."""
    from m2_b3_market_data_pipeline_spark.operators.similarity import (
        banded_near_dup_pairs,
    )

    df = spark.range(1).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(0.1)] * 4).alias("embedding"),
    )
    with pytest.raises(ValueError, match="plane_stride"):
        banded_near_dup_pairs(
            df, dim=4, threshold=0.9, band_bits=8, n_bands=2, plane_stride=4
        )


def test_mmr_reach_band_theorem_on_fixture(spark, sf_dir):
    """The band rule's parity claim, checked directly: mmr_select_scaled
    equals the full-candidate greedy (no shortlist at all) on the
    fixture — selection ids, ranks, and 6dp scores."""
    from m2_b3_market_data_pipeline_spark.operators.retrieval import (
        mmr_greedy_multi,
        mmr_relevance,
        mmr_select_scaled,
        rows_to_frame,
    )
    from m2_b3_market_data_pipeline_spark.plans.registry import load

    emb = load(spark, sf_dir, "embeddings")
    scaled = mmr_select_scaled(emb, k=8, lam=0.7).collect()
    cand = mmr_relevance(emb).cache()
    try:
        full = rows_to_frame(
            spark, mmr_greedy_multi({"full": cand}, k=8, lam=0.7)["full"]
        ).collect()
    finally:
        cand.unpersist()
    assert [tuple(r) for r in scaled] == [tuple(r) for r in full]
    assert len(scaled) == 8


def test_mmr_greedy_multi_matches_single_chains(spark, sf_dir):
    """The folded multi-chain greedy (r11 verdict item 5) must pick
    EXACTLY what the DuckDB greedy chain picks for the same pool —
    same ids, ranks, and 6dp scores — for every pool shape the recall
    gate uses (full set, prefix shortlists, band filter). The chains
    are the unrolled CTEs plans/retrieval_quality.py::_mmr_chain
    builds for the registered MMR oracles."""
    import duckdb

    from m2_b3_market_data_pipeline_spark.operators.retrieval import (
        mmr_greedy_multi,
        mmr_reach_band,
        mmr_relevance,
    )
    from m2_b3_market_data_pipeline_spark.plans.registry import load
    from m2_b3_market_data_pipeline_spark.plans.retrieval_quality import (
        _MMR_PRELUDE,
        _mmr_chain,
    )

    emb = load(spark, sf_dir, "embeddings")
    cand = mmr_relevance(emb).cache()
    pool = cand.orderBy(F.desc("rel"), "vec_id").limit(16).cache()
    try:
        rels = sorted((r["rel"] for r in pool.collect()), reverse=True)
        rk = rels[7] if len(rels) >= 8 else rels[-1]
        band = cand.filter(F.col("rel") >= rk - mmr_reach_band(0.7))
        pools = {
            "exact": cand,
            "s8": pool.orderBy(F.desc("rel"), "vec_id").limit(8),
            "band": band,
        }
        multi = mmr_greedy_multi(pools, k=8, lam=0.7)
        # the same pools as DuckDB chains: (CTE tag, LIMIT, band)
        chains = {
            "exact": ("f", None, None),
            "s8": ("s8", 8, None),
            "band": ("b", None, mmr_reach_band(0.7)),
        }
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
        )
        for tag, (cte, limit, band) in chains.items():
            picks = "\nUNION ALL ".join(
                f"SELECT {i} AS rnk, vec_id, sc FROM sel{cte}{i}" for i in range(1, 9)
            )
            sql = (
                "WITH "
                + ",\n".join([_MMR_PRELUDE, _mmr_chain(cte, limit, band=band)])
                + f"\n{picks}\nORDER BY rnk"
            )
            single = [tuple(r) for r in con.execute(sql).fetchall()]
            assert multi[tag] == single, tag
        con.close()
        assert len(multi["exact"]) == 8
    finally:
        pool.unpersist()
        cand.unpersist()


def test_one_retrieval_core():
    """Structural pin: similarity.py types the per-query top-k window
    once (``_topk``) and calls the PQ code projection from one encoder
    (``_pq_encode``); retrieval.py has one greedy MMR loop
    (``mmr_greedy_multi``), so the single-chain ``mmr_greedy`` stays
    gone."""
    import inspect
    import re

    from m2_b3_market_data_pipeline_spark.operators import retrieval, similarity

    sim = inspect.getsource(similarity)
    assert sim.count("row_number().over(") == 1
    assert len(re.findall(r"(?<!def )\b_pq_code_structs\(", sim)) == 1
    assert not re.search(r"^def mmr_greedy\(", inspect.getsource(retrieval), re.M)
