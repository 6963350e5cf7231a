"""Round-7 additions: planted mega-cluster skew probe for SemDeDup and
invariants of the new incremental operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from m2_b3_market_data_pipeline_spark.operators.embeddings import (
    assign_with_vector,
    semdedup,
    semdedup_incremental,
)


def _planted_skew_frame(spark, n=2000, dim=16, heavy_frac=0.8):
    """n vectors, heavy_frac of them in one tight blob around +10 on
    axis 0 (the mega k-means cluster), the rest around -10. Vectors 0
    and 1 are the k=2 seeds, one per blob. Deterministic jitter keeps
    runs stable and gives the blob internal near-duplicates."""
    n_heavy = int(n * heavy_frac)
    rows = []
    for i in range(n):
        heavy = i < n_heavy
        base = 10.0 if heavy else -10.0
        vec = [base] + [((i * 37 + d * 11) % 97) / 970.0 for d in range(dim - 1)]
        rows.append((i, vec))
    # seeds: id 0 is heavy (blob A), id 1 must be the other blob
    rows[1] = (1, [-10.0] + [((1 * 37 + d * 11) % 97) / 970.0 for d in range(dim - 1)])
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_semdedup_mega_cluster_aqe_skew_split(spark):
    """SemDeDup's in-cluster pair join relies on AQE to split a runaway
    cluster (operators/embeddings.py docstring). Plant one cluster with
    80% of the corpus, lower the AQE skew thresholds to test scale, and
    assert (a) the join completes and prunes inside the mega cluster,
    and (b) the finalized adaptive plan actually engaged the skew-join
    rewrite (``skew=true`` on the sort-merge join)."""
    confs = {
        # force the in-cluster join off broadcast so skew handling applies
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        # coalescing can merge the planted skew away before detection
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = _planted_skew_frame(spark)
        out = semdedup(df, k=2, iters=1, threshold=0.999)
        rows = out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        out._cached_frames[0].unpersist()

        assert len(rows) == 2000
        by_centroid: dict[int, int] = {}
        pruned_in = set()
        for r in rows:
            by_centroid[r.centroid_id] = by_centroid.get(r.centroid_id, 0) + 1
            if r.pruned:
                pruned_in.add(r.centroid_id)
        sizes = sorted(by_centroid.values())
        assert sizes[-1] >= 1500, sizes  # the planted mega cluster held
        assert pruned_in, "tight blob must contain cosine near-dups"
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_semdedup_incremental_never_prunes_corpus_and_is_monotone(spark):
    """Invariants of the delta-vs-corpus form: only delta rows appear in
    the output; a delta identical to a corpus vector is pruned; a delta
    orthogonal to everything survives."""
    corpus_raw = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    centroids = corpus_raw.select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )
    corpus = assign_with_vector(corpus_raw, centroids)
    delta = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0]), (11, [0.0, 0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.vec_id: r.pruned
        for r in semdedup_incremental(delta, corpus, centroids, threshold=0.9).collect()
    }
    assert got == {10: True, 11: False}


def test_ivfpq_restricts_candidates_and_stays_hash_joined(spark, sf_dir):
    """Plan pin for ivfpq_ann_topk: the probe restriction and the ADC
    distance table must both arrive as BROADCAST HASH joins (the corpus
    stream never shuffles to meet them), and nothing in the composite
    may plan a CartesianProduct. The only BroadcastNestedLoopJoins
    allowed are the bounded ONE-ROW attaches of the r16 projection
    form: the collected centroid array in ivf_assign (corpus side,
    query side) and the collected PQ codebook array in the code
    build."""
    from m2_b3_market_data_pipeline_spark.plans.all_queries import QUERIES

    df = QUERIES["ivfpq_ann_topk"](spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan, plan
    # formatted output lists each node twice (tree + detail): count
    # distinct detail headers.
    import re

    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    assert nodes.count("BroadcastNestedLoopJoin") <= 3, plan
    assert nodes.count("BroadcastHashJoin") >= 2, plan
    # smoke: restricted search returns at most k rows per query
    rows = df.collect()
    assert rows, "ivfpq returned no rows"
    per_q = {}
    for r in rows:
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
    assert max(per_q.values()) <= 5


def test_countmin_bounded_state_and_one_sided_error(spark, sf_dir):
    """The CM table may never exceed depth*width rows (the sketch's
    whole point: bounded state regardless of input size), and estimates
    are one-sided — cm_est >= exact for EVERY key, with at least one
    strict overestimate at the deliberately-tight fixture width (if no
    bucket ever collided, the check would be vacuous)."""
    from m2_b3_market_data_pipeline_spark.operators.sketches import (
        countmin_estimate,
        countmin_table,
    )
    from m2_b3_market_data_pipeline_spark.plans.registry import load

    docs = load(spark, sf_dir, "documents")
    tok = (
        docs.select(F.explode(F.split(F.col("text"), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
    )
    depth, width = 3, 8
    cm = countmin_table(tok, "word", depth=depth, width=width)
    assert cm.count() <= depth * width
    exact = tok.groupBy("word").agg(F.count("*").alias("exact_cnt"))
    est = countmin_estimate(cm, exact.select("word"), "word", depth=depth, width=width)
    rows = exact.join(est, "word").collect()
    assert rows
    assert all(r.cm_est >= r.exact_cnt for r in rows)
    assert any(r.cm_est > r.exact_cnt for r in rows), "width too wide: no collisions"


def test_load_floors_fanout_corpora_only(spark, sf_dir):
    """registry.load lifts the fan-out-heavy corpora (documents,
    embeddings) to the session's shuffle-partition floor — their
    shingle/cosine map work must not fuse into a single-task scan —
    while relational tables keep their natural scan partitioning (their
    per-row map work is light; a repartition would cost what it
    saves)."""
    from m2_b3_market_data_pipeline_spark.plans.registry import load

    floor = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert load(spark, sf_dir, "documents").rdd.getNumPartitions() >= floor
    assert load(spark, sf_dir, "embeddings").rdd.getNumPartitions() >= floor
    raw = spark.read.parquet(f"{sf_dir}/lineitem.parquet").rdd.getNumPartitions()
    assert load(spark, sf_dir, "lineitem").rdd.getNumPartitions() == raw


def test_pagerank_matches_python_golden_and_conserves_mass(spark):
    """Planted star-plus-chain graph: the Spark trajectory must equal a
    pure-Python recompute of the published formula (same per-iteration
    9dp rounding), the hub must outrank every leaf, and with no
    dangling nodes total mass stays ~1 (rounding drift only)."""
    from m2_b3_market_data_pipeline_spark.operators.graph import pagerank
    from m2_b3_market_data_pipeline_spark.operators.dedup import release_cached

    # star: hub 0 <-> leaves 1..5 (symmetric); chain 5 <-> 6 <-> 7
    pairs = [(0, i) for i in range(1, 6)] + [(5, 6), (6, 7)]
    edges = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    d, iters = 0.85, 3
    nodes = sorted({x for e in edges for x in e})
    N = len(nodes)
    out_deg = {u: sum(1 for a, _ in edges if a == u) for u in nodes}
    pr = {u: 1.0 / N for u in nodes}
    for _ in range(iters):
        nxt = {}
        for v in nodes:
            s = sum(pr[u] / out_deg[u] for u, w in edges if w == v)
            nxt[v] = round((1.0 - d) / N + d * s, 9)
        pr = nxt

    e = spark.createDataFrame(edges, "src long, dst long")
    got = pagerank(e, damping=d, iters=iters)
    rows = {r.node: r.pagerank for r in got.collect()}
    release_cached(got)
    assert rows == pr
    assert rows[0] == max(rows.values())  # hub dominates
    assert abs(sum(rows.values()) - 1.0) < 1e-6


def test_bloom_decontaminate_agrees_with_exact_and_never_misses(spark, sf_dir):
    """Cross-check against the independent exact path: for every train
    doc with at least one trigram, bloom exact_hit must equal
    decontaminate's contaminated flag (the two queries share only the
    tokenizer), and the one-sided guarantee must hold row-by-row:
    exact_hit => bloom_hit, never a false negative."""
    from m2_b3_market_data_pipeline_spark.plans.all_queries import QUERIES

    bloom = {
        r.doc_id: (r.exact_hit, r.bloom_hit)
        for r in QUERIES["bloom_decontaminate_check"](spark, sf_dir).collect()
    }
    exact = {
        r.doc_id: r.contaminated
        for r in QUERIES["decontaminate"](spark, sf_dir).collect()
    }
    assert bloom, "no train docs"
    for doc_id, (e_hit, b_hit) in bloom.items():
        assert e_hit == exact[doc_id], doc_id
        assert b_hit or not e_hit, f"false negative on doc {doc_id}"


def test_triangle_counts_matches_python_golden(spark):
    """Planted graph — 4-clique + shared-corner triangle + pendant +
    triangle-free star hub — fed through every canonicalization hazard
    (duplicate edges, reversed duplicates, a self-loop). Per-node
    triangle counts and clustering coefficients must equal a brute
    pure-Python recompute, which shares no code with the degree-
    oriented wedge join."""
    import itertools
    from collections import defaultdict

    from m2_b3_market_data_pipeline_spark.operators.dedup import release_cached
    from m2_b3_market_data_pipeline_spark.operators.graph import triangle_counts

    clique = list(itertools.combinations([0, 1, 2, 3], 2))
    tri = [(3, 4), (4, 5), (3, 5)]
    pendant = [(5, 6)]
    star = [(7, i) for i in range(8, 21)]
    base = clique + tri + pendant + star
    hazards = [(b, a) for a, b in base[:5]] + base[:3] + [(9, 9)]
    edges = base + hazards

    adj = defaultdict(set)
    for a, b in base:
        adj[a].add(b)
        adj[b].add(a)
    want = {}
    for v in sorted(adj):
        t = sum(
            1
            for x, y in itertools.combinations(sorted(adj[v]), 2)
            if y in adj[x]
        )
        d = len(adj[v])
        want[v] = (t, round(2.0 * t / (d * (d - 1)), 9) if d >= 2 else 0.0)

    e = spark.createDataFrame(edges, "u long, v long")
    out = triangle_counts(e)
    got = {r.node: (r.triangles, r.clustering_coeff) for r in out.collect()}
    release_cached(out)
    assert got == want
    assert got[0] == (3, 1.0)  # clique corner: C(3,2) closed wedges
    assert got[7][0] == 0  # star hub: max degree, zero triangles


def test_recursive_reach_matches_python_bfs(spark, sf_dir):
    """copurchase_reach (the Spark 4 recursive-CTE surface) must agree
    with a pure-Python BFS over the same co-purchase edges: identical
    (seed, node) reach sets and identical MIN-depth hop counts — the
    walk-enumeration + MIN collapse must equal true shortest-hop BFS."""
    from collections import deque

    from m2_b3_market_data_pipeline_spark.operators.dedup import release_cached
    from m2_b3_market_data_pipeline_spark.plans.all_queries import QUERIES
    from m2_b3_market_data_pipeline_spark.plans.graph_queries import (
        REACH_DEPTH,
        REACH_SEED_MOD,
    )
    from m2_b3_market_data_pipeline_spark.plans.registry import load

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").collect()
    by_order: dict = {}
    for r in li:
        by_order.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    adj: dict = {}
    for parts in by_order.values():
        for u in parts:
            for v in parts:
                if u != v:
                    adj.setdefault(u, set()).add(v)
    want = {}
    for seed in sorted(n for n in adj if n % REACH_SEED_MOD == 0):
        dist = {seed: 0}
        q = deque([seed])
        while q:
            u = q.popleft()
            if dist[u] >= REACH_DEPTH:
                continue
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        for node, d in dist.items():
            want[(seed, node)] = d

    out = QUERIES["copurchase_reach"](spark, sf_dir)
    got = {(r.seed, r.node): r.hops for r in out.collect()}
    release_cached(out)
    assert want, "fixture has no seed parts"
    assert got == want
