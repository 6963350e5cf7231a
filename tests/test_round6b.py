"""Round-6 second wave: SemDeDup, duplicated-span coverage, frame dedup."""

from __future__ import annotations

from pyspark.sql import functions as F

from m2_b3_market_data_pipeline_spark.operators.dedup import (
    fan_out,
    release_cached,
)
from m2_b3_market_data_pipeline_spark.operators.embeddings import semdedup
from m2_b3_market_data_pipeline_spark.operators.multimodal import (
    attach_binary,
    frame_dedup,
    sample_frames,
)


def _vec(seed: float, dim: int = 8) -> list[float]:
    # deterministic, pairwise-dissimilar unless identical seed
    return [((seed * (i + 3)) % 7.0) - 3.0 for i in range(dim)]


def test_semdedup_prunes_duplicate_within_cluster(spark):
    # vec 10 duplicates vec 5 exactly (cosine 1.0); everything else is
    # pairwise dissimilar. The duplicate must be pruned, its lower-id
    # twin kept, and every vector must appear exactly once.
    rows = [(i, _vec(float(i) + 0.5)) for i in range(10)] + [(10, _vec(5.5))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semdedup(emb, k=2, iters=1, threshold=0.99).collect()
    assert len(out) == 11
    by_id = {r.vec_id: r for r in out}
    assert by_id[10].pruned, "exact duplicate with a lower-id twin must prune"
    assert not by_id[5].pruned, "the lower-id representative must survive"
    # same cluster (identical vectors cannot land in different cells)
    assert by_id[10].centroid_id == by_id[5].centroid_id


def test_semdedup_does_not_prune_across_clusters(spark):
    # Two identical PAIRS seeded far apart; with k=2 each pair lands in
    # its own cluster and only the higher id of each pair prunes.
    a, b = [10.0] * 4, [-10.0] * 4
    emb = spark.createDataFrame(
        [(0, a), (1, b), (2, a), (3, b)],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r.pruned for r in semdedup(emb, k=2, iters=1, threshold=0.99).collect()}
    assert out == {0: False, 1: False, 2: True, 3: True}


def test_frame_dedup_finds_planted_duplicate_payloads(spark):
    # Two identical 64-byte payloads share all 4 frames; the unique
    # payload contributes none.
    dup_text = "x" * 16 + "y" * 16 + "z" * 16 + "w" * 16
    docs = spark.createDataFrame(
        [(1, dup_text), (2, dup_text), (3, "q" * 70)],
        "doc_id long, text string",
    )
    frames = sample_frames(fan_out(attach_binary(docs)), n_frames=4, frame_bytes=16)
    out = frame_dedup(frames).collect()
    # the 4 shared frames (xxxx/yyyy/zzzz/wwww windows may collide if
    # stride aligns equal content — count hashes, assert each spans docs 1+2)
    assert out, "planted duplicate payloads must surface"
    for r in out:
        assert r.n_docs == 2 and r.min_doc_id == 1 and r.n_frames == 2


def test_dsir_upweights_target_like_docs(spark):
    # Target docs (is_t) are built from a disjoint "target vocabulary";
    # a held-out doc written in that vocabulary must out-weight a doc
    # written in the raw-only vocabulary.
    from m2_b3_market_data_pipeline_spark.operators.corpus import dsir_log_weights
    from pyspark.sql import functions as F

    target_text = "alpha beta gamma delta alpha beta gamma delta"
    raw_text = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [(i, "t", target_text) for i in range(5)]
        + [(10 + i, "r", raw_text) for i in range(5)]
        + [(100, "q", "alpha beta gamma delta"), (101, "q", "one two three four")],
        "doc_id long, grp string, text string",
    )
    out = dsir_log_weights(docs, target=F.col("grp") == "t", n_buckets=64)
    got = {r.doc_id: r.log_weight for r in out.collect()}
    release_cached(out)
    assert got[100] > got[101], (got[100], got[101])
    # weights are per-occurrence sums: the pure-target doc scores above 0
    # (its features are over-represented in the target distribution)
    assert got[100] > 0 > got[101]


def test_lm_quality_buckets_partition_the_corpus(spark, sf_dir):
    from m2_b3_market_data_pipeline_spark.plans.corpus_quality import (
        lm_quality_buckets,
    )

    df = lm_quality_buckets(spark, sf_dir)
    rows = df.collect()
    release_cached(df)
    assert [r.bucket for r in rows] == sorted(r.bucket for r in rows)
    assert 2 <= len(rows) <= 10  # deciles (ties can merge buckets)
    # buckets are score-ordered and non-overlapping
    for lo, hi in zip(rows, rows[1:]):
        assert lo.max_score <= hi.min_score
    # every scored doc lands in exactly one bucket
    from m2_b3_market_data_pipeline_spark.operators.text import trigram_lm_scores
    from m2_b3_market_data_pipeline_spark.plans.registry import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    scored = trigram_lm_scores(docs)
    n = scored.count()
    release_cached(scored)
    assert sum(r.n_docs for r in rows) == n


def test_bigram_pmi_ranks_fixed_collocation_first(spark):
    # "hong kong" always co-occur (and never apart); "the cat" co-occur
    # but both words also appear independently everywhere else.
    docs = spark.createDataFrame(
        [(i, "hong kong visit the cat and the dog saw the bird") for i in range(6)],
        "doc_id long, text string",
    )
    from m2_b3_market_data_pipeline_spark.operators.corpus import bigram_pmi

    out = bigram_pmi(docs, min_count=5, k=10)
    rows = out.collect()
    release_cached(out)
    by_pair = {(r.w1, r.w2): r.pmi for r in rows}
    # exclusive pairs (e.g. hong+kong, both words only in this pair) tie
    # at max PMI; pairs involving the 3x-more-frequent "the" score lower
    assert by_pair[("hong", "kong")] == max(by_pair.values())
    assert by_pair[("hong", "kong")] > by_pair[("the", "cat")]


def test_source_overlap_matrix_crosses_sources(spark, sf_dir):
    from m2_b3_market_data_pipeline_spark.plans.corpus_quality import (
        source_overlap_matrix,
    )

    df = source_overlap_matrix(spark, sf_dir)
    rows = df.collect()
    release_cached(df)
    for r in rows:
        assert r.source_a <= r.source_b  # canonical ordering
        assert r.n_pairs >= 1 and 0.0 <= r.avg_jaccard <= 1.0


def test_lang_segments_detects_code_switch(spark):
    # 20 en-marker tokens then 20 de-marker tokens => 2 segments,
    # majority tie broken lexicographically... en/de each 1 segment;
    # deterministic tiebreak = count desc then lang asc => 'de'.
    en = " ".join(["the", "and", "of", "to"] * 5)
    de = " ".join(["der", "die", "und", "ist"] * 5)
    docs = spark.createDataFrame(
        [(1, f"{en} {de}"), (2, en), (3, "zz qq ww ee rr tt")],
        "doc_id long, text string",
    )
    from m2_b3_market_data_pipeline_spark.operators.text import lang_segments

    out = lang_segments(docs, seg_tokens=20)
    got = {r.doc_id: r for r in out.collect()}
    release_cached(out)
    assert got[1].n_segments == 2 and got[1].n_switches == 1
    assert got[1].majority_lang == "de" and abs(got[1].agree_frac - 0.5) < 1e-9
    assert got[2].n_segments == 1 and got[2].majority_lang == "en"
    assert got[2].n_switches == 0
    assert got[3].majority_lang == "und"  # no markers anywhere


def test_knn_label_accuracy_perfect_on_separated_clusters(spark, monkeypatch, tmp_path):
    # Two well-separated label clusters: every query's 2 nearest
    # neighbors share its label => accuracy 1.0 for both classes.
    import m2_b3_market_data_pipeline_spark.plans.retrieval_quality as r6b

    a = [(i, "A", [10.0 + 0.01 * i, 0.0, 0.0]) for i in range(0, 8, 2)]
    b = [(i, "B", [0.0, 10.0 + 0.01 * i, 0.0]) for i in range(10, 18, 2)]
    emb = spark.createDataFrame(
        a + b, "vec_id long, label string, embedding array<double>"
    )
    path = str(tmp_path)
    emb.write.parquet(f"{path}/embeddings.parquet")
    monkeypatch.setattr(r6b, "KNN_K", 2)
    monkeypatch.setattr(r6b, "KNN_QUERY_MOD", 2)  # every vector is a query
    rows = r6b.knn_label_accuracy(spark, path).collect()
    got = {r.label: r for r in rows}
    assert got["A"].accuracy == 1.0 and got["B"].accuracy == 1.0
    assert got["A"].n_queries == 4 and got["B"].n_queries == 4
