"""Wave-2 corpus curation: connected components, chunking, entropy,
decontamination, and embedding hygiene, on small known inputs.
"""

from __future__ import annotations

import ast
import inspect
import math
import random
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from m2_b3_market_data_pipeline_spark.operators.corpus import (
    chunk_documents,
    contamination_overlap,
    with_char_entropy,
)
from m2_b3_market_data_pipeline_spark.operators.embeddings import (
    assign_centroids,
    l2_normalize,
    quantize_int8,
)
from m2_b3_market_data_pipeline_spark.operators import graph
from m2_b3_market_data_pipeline_spark.operators.graph import connected_components


def _union_find(nodes, edges) -> dict:
    """Reference labels: each node -> the minimum id in its component."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def _chain(ids):
    return list(ids), list(zip(ids, ids[1:]))


def _shuffled(n, seed):
    ids = list(range(n))
    random.Random(seed).shuffle(ids)
    return ids


def _random_graph(n, m, seed):
    rng = random.Random(seed)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    return list(range(n)), [(a, b) for a, b in edges if a != b]


def _star(n, hub):
    return list(range(n)), [(hub, i) for i in range(n) if i != hub]


# case -> (nodes, edges, expected labels or None, rounds bound or None).
# Every case is also checked against the union-find reference.
_CC_CASES = {
    # chain 1-2-3-4, disjoint pair 10-11, isolated 99
    "chain_and_singleton": (
        [1, 2, 3, 4, 10, 11, 99],
        [(1, 2), (2, 3), (3, 4), (10, 11)],
        {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99},
        None,
    ),
    # the min id on the right side of an edge must still win
    "direction_agnostic": ([1, 5, 9], [(5, 1), (5, 9)], {1: 1, 5: 1, 9: 1}, None),
    # longer than label propagation's old 20-round cap
    "chain25": (*_chain(list(range(25))), None, None),
    # diameter 400; the whole chain is labelled 0
    "chain400": (*_chain(list(range(400))), {i: 0 for i in range(400)}, 10),
    "chain1000_shuffled_ids": (*_chain(_shuffled(1000, seed=11)), None, None),
    "star2000_hub_min": (*_star(2000, hub=0), None, None),
    "star2000_hub_max": (*_star(2000, hub=1999), None, None),
    "random200": (*_random_graph(200, 150, seed=7), None, None),
    "empty": ([1, 2, 3], [], {1: 1, 2: 2, 3: 3}, None),
}


@pytest.mark.parametrize("case", ["near_dup_fixture", *_CC_CASES])
def test_connected_components_matches_union_find(spark, sf_dir, case):
    """Min-id component labels equal a pure-Python union-find on the
    fixture's MinHash pair graph (near-dup clouds: <= 5 rounds), chains
    (label propagation needs O(diameter) rounds there), stars with the
    hub at either end of the id order, a random graph and no edges."""
    stats: dict = {}
    if case == "near_dup_fixture":
        from m2_b3_market_data_pipeline_spark.operators.dedup import (
            minhash_dedup_pairs,
            release_cached,
        )
        from m2_b3_market_data_pipeline_spark.plans.lexical_dedup import (
            JACCARD_THRESHOLD,
        )
        from m2_b3_market_data_pipeline_spark.plans.registry import load

        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        pairs = minhash_dedup_pairs(docs, threshold=JACCARD_THRESHOLD)
        out = connected_components(
            pairs, docs.select("doc_id"), node_col="doc_id", stats=stats
        )
        edges = [(r.id_a, r.id_b) for r in pairs.collect()]
        release_cached(pairs)
        assert edges, "the fixture must plant near-dup pairs"
        node_ids = [r.doc_id for r in docs.collect()]
        got = {r.doc_id: r.cluster_id for r in out.collect()}
        expected, max_rounds = None, 5
    else:
        node_ids, edges, expected, max_rounds = _CC_CASES[case]
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        nodes = spark.createDataFrame([(n,) for n in node_ids], "node long")
        got = {
            r.node: r.cluster_id
            for r in connected_components(pairs, nodes, stats=stats).collect()
        }
    assert got == _union_find(node_ids, edges)
    if expected is not None:
        assert got == expected
    assert stats["rounds"] >= 1
    if max_rounds is not None:
        assert stats["rounds"] <= max_rounds, stats


def test_one_connected_components_operator():
    """graph.py defines one CC, with no round-cap or column knobs, and
    every plan module reaches it as graph.connected_components."""
    src = Path(graph.__file__).read_text()
    assert "connected_components_twophase" not in src
    assert "max_iter" not in src
    tree = ast.parse(src)
    defs = [
        n.name
        for n in tree.body
        if isinstance(n, ast.FunctionDef) and "component" in n.name.lower()
    ]
    assert defs == ["connected_components"]
    assert list(inspect.signature(connected_components).parameters) == [
        "pairs",
        "nodes",
        "node_col",
        "stats",
    ]
    from m2_b3_market_data_pipeline_spark import plans

    found = 0
    for path in Path(plans.__file__).parent.glob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.ImportFrom):
                continue
            for alias in node.names:
                if "component" in alias.name.lower():
                    assert (node.module or "").endswith("operators.graph"), path.name
                    assert alias.name == "connected_components", path.name
                    found += 1
    assert found >= 1


def test_chunk_documents_windows(spark):
    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10)))], "doc_id long, text string"
    )
    rows = sorted(
        chunk_documents(df, chunk_tokens=4, stride=3).collect(),
        key=lambda r: r.chunk_id,
    )
    # starts 1,4,7,10 -> lens 4,4,4,1
    assert [r.start_token for r in rows] == [1, 4, 7, 10]
    assert [r.chunk_len for r in rows] == [4, 4, 4, 1]
    assert rows[0].chunk_md5 != rows[1].chunk_md5


def test_char_entropy_known_values(spark):
    df = spark.createDataFrame(
        [(1, "aabb"), (2, "aaaa"), (3, "")], "doc_id long, text string"
    )
    out = {r.doc_id: r.char_entropy for r in with_char_entropy(df).collect()}
    assert out[1] == 1.0  # two symbols, uniform -> 1 bit
    assert out[2] == 0.0  # single symbol -> 0 bits
    assert out[3] is None  # empty text -> null, not NaN
    # uniform over 4 symbols -> 2 bits
    df2 = spark.createDataFrame([(4, "abcd")], "doc_id long, text string")
    assert with_char_entropy(df2).collect()[0].char_entropy == round(
        math.log2(4), 6
    )


def test_contamination_overlap_flags(spark):
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma zeta"),  # shares 3-gram 'alpha beta gamma'
            (2, "unrelated words entirely here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in contamination_overlap(train, bench, ngram=3).collect()}
    assert out[1].contaminated and out[1].n_overlap_grams == 1
    assert out[1].n_bench_docs == 1
    assert not out[2].contaminated and out[2].n_overlap_grams == 0


def test_l2_normalize_unit_norm(spark):
    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    out = {r.vec_id: r for r in l2_normalize(df).collect()}
    assert out[1].l2_norm == 5.0
    assert out[1].unit == [0.6, 0.8]
    assert out[2].unit is None  # zero vector -> null, not NaN


def test_quantize_int8_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, [1.27, -1.27, 0.635, 0.0])], "vec_id long, embedding array<double>"
    )
    r = quantize_int8(df).collect()[0]
    assert r.q_vec == [127, -127, 64, 0]  # scale = 0.01, 0.635/0.01 -> 63.5 -> 64
    assert abs(r.q_scale - 0.01) < 1e-12
    # reconstruction error only from the one rounded component:
    # (0.635 - 64*0.01)^2 / 4 = 0.005^2 / 4
    assert abs(r.q_mse - 0.005**2 / 4) < 1e-12


def test_assign_centroids_argmin_and_tiebreak(spark):
    emb = spark.createDataFrame(
        [(10, [0.9, 0.0]), (11, [0.0, 1.1]), (12, [5.0, 5.0])],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [5.0, 5.0])],
        "centroid_id int, centroid array<double>",
    )
    out = {r.vec_id: r.centroid_id for r in assign_centroids(emb, cents).collect()}
    assert out == {10: 0, 11: 1, 12: 2}
    # exact tie -> lowest centroid id wins
    tie = spark.createDataFrame([(7, [0.5, 0.5])], "vec_id long, embedding array<double>")
    out2 = assign_centroids(
        tie,
        spark.createDataFrame(
            [(3, [0.0, 0.0]), (1, [1.0, 1.0])], "centroid_id int, centroid array<double>"
        ),
    ).collect()[0]
    assert out2.centroid_id == 1


def test_kmeans_iterate_converges_on_separated_clusters(spark):
    """Two well-separated blobs, k=2, seeds both in blob A (ids 0,1):
    after one Lloyd iteration the centroid update must pull one cluster
    onto blob B and the final assignment must split the blobs exactly."""
    from m2_b3_market_data_pipeline_spark.operators.embeddings import kmeans_iterate

    rows = [
        (0, [0.0, 0.0]),
        (1, [0.4, 0.0]),
        (2, [0.0, 0.4]),
        (3, [10.0, 10.0]),
        (4, [10.4, 10.0]),
        (5, [10.0, 10.4]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in kmeans_iterate(df, k=2, iters=2).collect()}
    assert len(out) == len(rows)  # every vector assigned exactly once
    blob_a = {out[i].centroid_id for i in (0, 1, 2)}
    blob_b = {out[i].centroid_id for i in (3, 4, 5)}
    assert len(blob_a) == 1 and len(blob_b) == 1 and blob_a != blob_b
    # converged centroid for blob A is its mean (0.4/3, 0.4/3) -> the
    # squared distance for vec 0 is 2 * (0.4/3)^2
    assert abs(out[0].sq_dist - 2 * (0.4 / 3) ** 2) < 1e-4
    # determinism: a second run yields identical assignments and distances
    again = {r.vec_id: r for r in kmeans_iterate(df, k=2, iters=2).collect()}
    assert {k: (v.centroid_id, v.sq_dist) for k, v in out.items()} == {
        k: (v.centroid_id, v.sq_dist) for k, v in again.items()
    }
