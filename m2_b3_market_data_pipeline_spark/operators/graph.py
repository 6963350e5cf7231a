"""Distributed connected components — the dedup-clustering step.

Near-duplicate detection yields PAIRS; corpus curation needs CLUSTERS
(keep one canonical document per component, drop the rest). This module
computes, for every node, the minimum node id reachable through the
pair graph — the standard cluster-id convention.

Algorithm: the large-star/small-star alternation (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14). Each round
rewires every edge toward the smallest id in a neighbourhood, so the
edge set contracts to one star per component (center = the component
minimum) in O(log^2 n) rounds even on a chain, where min-label
propagation needs O(diameter) rounds: a run of successive edits of a
templated page forms exactly such a chain, and a round cap on label
propagation turns it into an abort. Small-diameter near-dup clouds
still converge in a few rounds.

One exchange per star: the symmetric edge set is hash-partitioned on
``src`` once, and both the dedup of that set and the neighbourhood
minimum (a window partitioned by ``src``) reuse that partitioning — a
star is one shuffle, no ``groupBy`` and no join. A round (large star,
small star, dedup of the round output) ends in ``localCheckpoint`` and
one driver action: a noop write that materializes the checkpoint
(truncating lineage, so round N does not replan rounds 1..N-1) and
observes the ``(count, bit_xor(xxhash64))`` fingerprint of the deduped
edge set. The loop stops at the fixed point, when a round's fingerprint
equals the previous round's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

# Safety cap: the alternation needs O(log^2 n) rounds (10 on a 400-node
# chain, <= 5 on the near-dup fixtures), so hitting this means a bug,
# and the operator raises rather than return unconverged labels.
MAX_ROUNDS = 100


def _star(edges: DataFrame, *, large: bool) -> DataFrame:
    """One large-star or small-star step over the edge list (src, dst).

    For each node u with neighbourhood N(u) and m = min(N(u) ∪ {u}):
    - large-star links every neighbour v > u to m;
    - small-star links u and every neighbour v < u to m.
    Output edges point from the larger id to the smaller (dst < src).
    """
    m = F.least(F.min("dst").over(Window.partitionBy("src")), F.col("src"))
    star = (
        # both directions from ONE pass over the input: a union of the
        # edge list and its swap plans the input twice, and round 1's
        # input is the whole pair-finding plan
        edges.selectExpr("inline(array(struct(src, dst), struct(dst AS src, src AS dst)))")
        .repartition(F.col("src"))
        .distinct()
        .select("src", "dst", m.alias("m"))
    )
    if large:
        return star.filter(F.col("dst") > F.col("src")).select(
            F.col("dst").alias("src"), F.col("m").alias("dst")
        )
    return (
        star.filter(F.col("dst") < F.col("src"))
        .select(F.explode(F.array("src", "dst")).alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    *,
    node_col: str = "node",
    stats: dict | None = None,
) -> DataFrame:
    """Label every node with the minimum node id in its connected
    component. ``pairs`` is an undirected edge list (id_a, id_b);
    ``nodes`` is the node universe (isolated nodes keep their own id as
    cluster id).

    Returns (node_col, cluster_id), computed from checkpointed rounds
    only: the result never reads ``pairs``, so callers may release its
    cache right after the call. When ``stats`` is passed, records
    ``stats["rounds"]`` = rounds to convergence, the confirming round
    included (tests pin it on the fixture and on a long chain).
    """
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    prev = None
    for rounds in range(1, MAX_ROUNDS + 1):
        # distinct before the fingerprint: xor cancels duplicate pairs,
        # so only a deduped edge SET has a faithful fingerprint.
        edges = (
            _star(_star(edges, large=True), large=False)
            .distinct()
            .localCheckpoint(eager=False)  # materialized by the fingerprint
        )
        # Observed on the one pass that materializes the checkpoint, so
        # the fingerprint costs no aggregate stage of its own. bit_xor,
        # not sum: a sum of 64-bit hashes overflows under ANSI mode; xor
        # is closed over long and order-insensitive.
        obs = Observation()
        edges.observe(
            obs,
            F.count("*").alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
        ).write.format("noop").mode("overwrite").save()
        cur = (obs.get["n"], obs.get["h"])
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {MAX_ROUNDS} rounds"
        )
    if stats is not None:
        stats["rounds"] = rounds
    # Star forest: every non-center node has one edge, to its component
    # minimum; min over (own id, that edge) labels centers and isolated
    # nodes with their own id in one aggregate.
    return (
        nodes.select(F.col(node_col).alias("node"), F.col(node_col).alias("cluster_id"))
        .union(edges.select(F.col("src").alias("node"), F.col("dst").alias("cluster_id")))
        .groupBy("node")
        .agg(F.min("cluster_id").alias("cluster_id"))
        .withColumnRenamed("node", node_col)
    )


def pagerank(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    iters: int = 3,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list — the
    iterative NUMERIC-propagation class (connected components carries
    mins, k-means carries centroids; this carries mass), used for
    source/entity authority weighting in corpus curation.

    ``pr'(v) = (1-d)/N + d * sum over u->v of pr(u)/outdeg(u)``,
    iterated ``iters`` times from the uniform vector. The node universe
    is ``union(src, dst)`` — sink nodes (dst-only, out-degree 0) stay
    in the rank vector and in N, receiving the teleport term plus any
    incoming mass; only the out-degree join stays keyed on src. Their
    OUTGOING (dangling) mass is dropped rather than redistributed (the
    standard simplification — ranks then sum to < 1 on graphs with
    sinks; the in-repo co-supply graphs are symmetric, so there the
    simplification is exact). Each iteration ROUNDS to 9dp —
    like the k-means iterate, that makes the fixed point bit-stable
    across engines (distributed double sums differ in the last ulp
    with aggregation order; contributions are <=1 and fan-in is
    corpus-bounded, so drift ~1e-15 never reaches the 9th decimal),
    which is what lets a 3-round unrolled DuckDB CTE hash-check the
    whole trajectory.

    Scale shape per iteration: one join of the rank vector (node-sized)
    with the edge list on src — both persisted partitioned state in a
    real deployment — and one sum-by-dst with map-side combine; the
    (1-d)/N teleport term is ONE bounded driver scalar (a count of the
    persisted node vector, the wedge-estimate idiom) folded in as a
    literal. The driver loop otherwise carries NOTHING — only lineage,
    ``iters`` levels deep, like kmeans_iterate."""
    e = edges.select(F.col(src_col).alias("__src"), F.col(dst_col).alias("__dst")).persist()
    deg = e.groupBy("__src").agg(F.count("*").alias("__deg"))
    # union(src, dst), not src alone: a sink (dst-only) node must be in
    # the vector and counted in N, or the exported operator silently
    # returns wrong N and missing nodes on general directed edge lists.
    nodes = (
        e.select(F.explode(F.array("__src", "__dst")).alias("__node"))
        .distinct()  # one pass over the edge cache, not two (r15)
        .persist()
    )
    # N as ONE bounded driver scalar (the wedge-estimate idiom): the
    # count reads the persisted node vector that the loop materializes
    # anyway, and folding it into the plan as a literal removes the
    # broadcast-n exchange from the initial vector AND from every
    # iteration's teleport term (r15: 4+ AQE broadcast jobs per run on
    # a job-count-bound query). Python double division of the same
    # operands is bit-identical to the old in-plan double division, so
    # the 9dp-rounded trajectory is unchanged (oracle re-verified).
    n_val = nodes.count()
    teleport = F.lit((1.0 - damping) / n_val if n_val else 0.0)
    pr = nodes.select(
        "__node", F.lit(1.0 / n_val if n_val else 0.0).alias("__pr")
    )
    for _ in range(iters):
        # Divide rank by out-degree on the NODE-sized vector first, so
        # the EDGE list is probed by exactly one join per iteration
        # (guide §3: the old form joined edges twice — on a real
        # cluster that is two shuffles of the edge list per iteration;
        # the rank/deg join touches only the node vector). Same
        # arithmetic per edge (pr(src)/deg(src)), same 9dp round.
        rank_per_out = pr.withColumnRenamed("__node", "__src").join(deg, "__src").select(
            "__src", (F.col("__pr") / F.col("__deg")).alias("__w")
        )
        contrib = e.join(rank_per_out, "__src").select(
            F.col("__dst").alias("__node"), F.col("__w").alias("__c")
        )
        summed = contrib.groupBy("__node").agg(F.sum("__c").alias("__s"))
        pr = (
            nodes.join(summed, "__node", "left")
            .select(
                "__node",
                F.round(
                    teleport + F.lit(damping) * F.coalesce(F.col("__s"), F.lit(0.0)), 9
                ).alias("__pr"),
            )
        )
    out = pr.select(F.col("__node").alias("node"), F.col("__pr").alias("pagerank"))
    out._cached_frames = [e, nodes]
    return out


def bounded_reach(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    depth: int,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "seed",
) -> DataFrame:
    """Bounded-depth BFS with PER-LEVEL dedup — the scale path for
    multi-source reach. Returns (seed, node, hops) with hops = the
    true shortest hop count <= ``depth`` (the seed itself at hops 0).

    Why this exists next to the recursive-CTE form (plans/
    graph_queries.py::copurchase_reach): UNION ALL recursion enumerates
    WALKS — |seeds| x deg^depth rows before the MIN(depth) fold — and
    Spark's cteRecursionRowLimit safety valve correctly refuses
    runaway enumeration (measured: the sf1 sweep trips the 1M default
    at 10x data). UNION (dedup-per-level) recursion is not in Spark
    4.1 (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE, probed round 7), so the
    per-level dedup runs as ``depth`` explicit join rounds instead:
    each level joins the CURRENT frontier to the edge list, distincts
    the (seed, node) pairs, and anti-joins everything already reached —
    state is bounded by |reached nodes|, never walk volume, and
    first-discovery = minimum hops by construction. ``depth`` is a
    small literal (2-3 hops), so the fixed unrolled plan needs no
    lineage truncation."""
    fwd = edges.select(F.col(src_col).alias("node"), F.col(dst_col).alias("__dst"))
    reached = seeds.select(
        F.col(seed_col).alias("seed"),
        F.col(seed_col).alias("node"),
        F.lit(0).cast("long").alias("hops"),
    )
    frontier = reached.select("seed", "node")
    for d in range(1, depth + 1):
        nxt = (
            frontier.join(fwd, "node")
            .select("seed", F.col("__dst").alias("node"))
            .distinct()
        )
        new = nxt.join(
            reached.select("seed", "node"), ["seed", "node"], "left_anti"
        ).withColumn("hops", F.lit(d).cast("long"))
        reached = reached.unionByName(new)
        frontier = new.select("seed", "node")
    return reached


# Wedge-stage sizing (SCALE.md §13 finding 1): the orientation bounds
# TOTAL wedge volume, but not wedge volume PER PARTITION — at sf3 the
# wedge join GC-thrashed an 8 GB JVM at the session default of 32
# shuffle partitions (38M wedge rows each) and ran cleanly linear at 96
# (13M each). Target ~8M wedge rows per partition, a ~2x margin under
# the measured-clean density.
WEDGE_ROWS_PER_PARTITION = 8_000_000
WEDGE_PARTITION_CAP = 10_000  # scheduler-overhead guard


def wedge_partitions(wedges_est: int, session_parts: int) -> int | None:
    """Partition count for the wedge-producing and wedge-closing
    exchanges, derived from the EXACT oriented wedge count (sum of
    outdeg-choose-2 — cheap: one aggregate over the persisted oriented
    edges). Returns None when the session default already keeps
    partitions under the target — small inputs get an UNCHANGED plan
    (pinned in tests), mirroring how ensure_parallelism scopes its
    floor."""
    need = -(-wedges_est // WEDGE_ROWS_PER_PARTITION)  # ceil
    if need <= session_parts:
        return None
    return min(need, WEDGE_PARTITION_CAP)


def triangle_counts(
    edges: DataFrame,
    *,
    src_col: str = "u",
    dst_col: str = "v",
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected edge list, via DEGREE-ORDERED ORIENTATION — the
    MapReduce-classic formulation (Suri & Vassilvitskii, "Counting
    Triangles and the Curse of the Last Reducer", WWW'11) that keeps
    the wedge join skew-proof at any scale.

    Why orientation matters at 100 TB: the naive wedge join (self-join
    the symmetric edge list on the center vertex) generates deg(v)^2
    wedges at every node, so one celebrity node with 10M neighbors
    produces 10^14 wedges on a single key — the "last reducer" that
    never finishes. Orienting every edge from its lower-(degree, id)
    endpoint to its higher one bounds EVERY out-degree by O(sqrt(2m)),
    so per-key wedge fan-out is capped regardless of the degree
    distribution, and total wedges fall from sum deg^2 to at most
    m^(3/2). Each triangle is then enumerated exactly once (rooted at
    its lowest-rank corner, arms in rank order).

    Plan shape: canonicalize+distinct (one shuffle), degree aggregate
    (one shuffle), two hash equi-joins to attach endpoint ranks, the
    wedge self-join on the oriented source, and one hash equi-join that
    closes wedges against the oriented edge set — all equi-joins, no
    disjunctions, no cross product. Corner counts ride an explode +
    sum with map-side combine.

    Wedge-stage partitioning is SELF-SIZING (``wedge_partitions``): the
    orientation bounds total wedge volume but not volume per partition,
    and SCALE.md §13 measured the sf3 wedge stage OOMing at the session
    default partition count while linear at 3x that. The operator
    computes the exact oriented wedge count (one aggregate on the
    already-persisted oriented frame) and widens the two wedge-bearing
    exchanges to ~{WEDGE_ROWS_PER_PARTITION} rows each when — and only
    when — the session default would exceed that density; small inputs
    keep an unchanged plan (pinned in tests/test_round9.py).

    Returns (node, triangles, clustering_coeff) for every node with at
    least one edge; coefficient = 2T / (deg * (deg-1)), 0 when deg < 2,
    rounded to 9dp so distributed arithmetic hash-matches a single-node
    oracle.
    """
    # Canonical undirected edge set: (a, b) with a < b, deduped. The
    # dedup's exchange is KEYED ON "a" (r16, the CC edge-build rule:
    # hash(a) satisfies the distinct's (a, b) clustering, so the
    # repartition and the distinct share one exchange) — the persisted
    # edge cache then sits partitioned on exactly the key the rank
    # attach probes it with (e ⋈ ranks on "a"), so at scale that join
    # shuffles only the node-sized rank vector, not the edge list.
    a, b = F.col(src_col), F.col(dst_col)
    e = (
        edges.filter(a != b)
        .select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .repartition(F.col("a"))
        .distinct()
        .persist()
    )
    # explode(array(a, b)), not union of two selects: one pass over the
    # persisted edge cache instead of two (r15; values identical)
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
        .persist()
    )
    # Total-order rank: (deg, id) packed into one sortable long. Node
    # ids here are catalog keys (< 2^31); degree cannot exceed n-1, so
    # deg * 2^32 + id never collides or overflows a long at any SF
    # that fits ids in an int. The pack keeps the orientation predicate
    # and the wedge rank-compare simple column comparisons. The id
    # contract is ENFORCED, not assumed: a node id that is NULL after
    # the long cast (ANSI cast already raises on malformed strings),
    # negative, or >= 2^32 would silently corrupt the orientation and
    # degrade to wrong counts — raise loudly instead. (Edges with NULL
    # endpoints never reach here: ``a != b`` is NULL-rejecting at
    # canonicalization — an edge missing an endpoint is not an edge.)
    node_long = F.col("node").cast("long")
    checked_id = F.when(
        node_long.isNull() | (node_long < 0) | (node_long >= F.lit(1 << 32)),
        F.raise_error(
            F.lit(
                "triangle_counts: node ids must cast to non-null longs in "
                "[0, 2^32) for the (deg, id) rank pack; remap ids first"
            )
        ).cast("long"),
    ).otherwise(node_long)
    rank = (F.col("deg").cast("long") * F.lit(1 << 32) + checked_id).alias("rank")
    ranks = deg.select("node", rank)
    # Orient each edge low-rank -> high-rank, carrying the dst rank for
    # the wedge-ordering predicate.
    ra = ranks.select(F.col("node").alias("a"), F.col("rank").alias("ra"))
    rb = ranks.select(F.col("node").alias("b"), F.col("rank").alias("rb"))
    oriented = (
        e.join(ra, "a")
        .join(rb, "b")
        .select(
            F.when(F.col("ra") < F.col("rb"), F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(F.col("ra") < F.col("rb"), F.col("b")).otherwise(F.col("a")).alias("dst"),
            F.greatest("ra", "rb").alias("dst_rank"),
        )
        .persist()
    )
    # Wedge-stage partition rule (r8 verdict item 3, automatic now):
    # the exact wedge count is one aggregate over the persisted
    # oriented frame (sum of outdeg-choose-2; the materialization was
    # needed by the wedge join anyway), read as a single driver scalar
    # to size the plan — the same bounded-scalar class as the BPE
    # argmax and the CC convergence fingerprint. When the estimate
    # exceeds the target per-partition density, BOTH wedge-bearing
    # exchanges (the producing self-join and the closing join, which
    # re-shuffles the full wedge set on (p, q)) are widened; on small
    # inputs the plan is untouched.
    wedges_est = int(
        oriented.groupBy("src")
        .agg(F.count("*").alias("__c"))
        .agg(F.sum(F.col("__c") * (F.col("__c") - 1) / 2).alias("__w"))
        .first()[0]
        or 0
    )
    spark = edges.sparkSession
    parts = wedge_partitions(
        wedges_est, int(spark.conf.get("spark.sql.shuffle.partitions"))
    )
    # Wedges rooted at the lowest-rank corner, arms in rank order;
    # close each against the oriented edge set (x->p, x->q, p->q).
    w1 = oriented.select("src", F.col("dst").alias("p"), F.col("dst_rank").alias("pr"))
    w2 = oriented.select("src", F.col("dst").alias("q"), F.col("dst_rank").alias("qr"))
    if parts is not None:
        w1 = w1.repartition(parts, "src")
        w2 = w2.repartition(parts, "src")
    wedges = w1.join(w2, "src").filter(F.col("pr") < F.col("qr"))
    closing = oriented.select(F.col("src").alias("p"), F.col("dst").alias("q"))
    if parts is not None:
        wedges = wedges.repartition(parts, "p", "q")
    triangles = wedges.join(closing, ["p", "q"]).select(
        F.col("src").alias("x"), "p", "q"
    )
    corners = triangles.select(
        F.explode(F.array("x", "p", "q")).alias("node")
    )
    t = corners.groupBy("node").agg(F.count("*").alias("triangles"))
    out = (
        deg.join(t, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("triangles"), F.lit(0).cast("long")).alias("triangles"),
            F.round(
                F.when(
                    F.col("deg") >= 2,
                    2.0
                    * F.coalesce(F.col("triangles"), F.lit(0).cast("long"))
                    / (F.col("deg") * (F.col("deg") - 1)),
                ).otherwise(F.lit(0.0)),
                9,
            ).alias("clustering_coeff"),
        )
    )
    out._cached_frames = [e, deg, oriented]
    return out
