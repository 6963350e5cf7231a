"""Round-9 additions: corpus-scaled quantization knobs (the r8
verdict's top order — semdedup k ∝ n, near-dup band width ∝ log n,
IVF-PQ cells ∝ n with a fixed PQ codebook), knob engine-parity, and
the structural pins that make the scaled variants trustworthy."""

from __future__ import annotations

import math
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from m2_b3_market_data_pipeline_spark.operators.embeddings import semdedup_lsh
from m2_b3_market_data_pipeline_spark.operators.knobs import (
    knob_sql,
    scaled_band_bits,
    scaled_cell_bits,
)
from m2_b3_market_data_pipeline_spark.operators.similarity import (
    cosine,
    ivfpq_multiprobe_topk,
    as_double,
)
from m2_b3_market_data_pipeline_spark.plans.registry import load


def test_knob_formula_engine_parity_sweep():
    """The Python knob and its DuckDB SQL twin must agree for every
    cardinality — including the clamp edges, powers of two (where
    ceil(log2) sits exactly on an integer), and off-by-ones around
    them. A disagreement here is a silent hash-divergence at some
    future scale factor, so pin the parity over a dense sweep."""
    from m2_b3_market_data_pipeline_spark.plans import scaled_knobs as sk

    ns = list(range(0, 300)) + [
        2**k + d for k in range(8, 31) for d in (-1, 0, 1)
    ]
    for n in ns:
        # bounds imported from the plan module so the sweep can never
        # drift from what the registered queries actually use
        for occ, lo, hi, py in (
            (sk.CELL_OCC, sk.CELL_LO, sk.CELL_HI, scaled_cell_bits),
            (sk.BAND_OCC, sk.BAND_LO, sk.BAND_HI, scaled_band_bits),
        ):
            sql = knob_sql(occupancy=occ, lo=lo, hi=hi, count_from="t")
            got = duckdb.sql(
                f"WITH t AS (SELECT 1 FROM range({max(n, 1)}) LIMIT {n}) SELECT {sql}"
            ).fetchone()[0]
            want = py(n, target_occupancy=occ, lo=lo, hi=hi)
            assert got == want, (n, occ, got, want)


def test_knob_monotone_and_bounded():
    prev = 0
    for k in range(0, 31):
        b = scaled_cell_bits(2**k)
        assert prev <= b <= 20
        prev = b
    # occupancy stays near target once past the lower clamp: n / 2^bits
    # in (target/2, target] by construction of ceil(log2(n/target))
    for n in (10_000, 100_000, 10_000_000):
        bits = scaled_cell_bits(n, target_occupancy=64, lo=2, hi=40)
        assert 32 < n / 2**bits <= 64


def test_semdedup_lsh_prune_rule(spark, sf_dir):
    """Every pruned vector has a lower-id cell-mate at cosine >= τ, and
    every unpruned vector has none — the SemDeDup rule verified against
    a recompute from the operator's own cell assignment."""
    emb = load(spark, sf_dir, "embeddings")
    out = semdedup_lsh(emb, dim=64, cell_bits=3, threshold=0.45)
    rows = out.collect()
    assert len(rows) == emb.count()
    cells = {r.vec_id: r.cell_id for r in rows}
    vecs = {
        r.vec_id: r.v
        for r in emb.select("vec_id", as_double("embedding").alias("v")).collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb), 6)

    for r in rows:
        mates = [
            i for i, c in cells.items() if c == r.cell_id and i < r.vec_id
        ]
        has_dup = any(cos(vecs[i], vecs[r.vec_id]) >= 0.45 for i in mates)
        assert r.pruned == has_dup, r.vec_id


def test_ivfpq_multiprobe_structure(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    codebook = emb.filter(F.col("vec_id") < 64)
    out = ivfpq_multiprobe_topk(
        emb, queries, codebook, dim=64, n_sub=4, k=5, cell_bits=3
    ).collect()
    by_q: dict[int, list] = {}
    for r in out:
        assert r.query_id != r.neighbor_id
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rns = sorted(r.rn for r in rs)
        assert rns == list(range(1, len(rs) + 1))
        assert len(rs) <= 5
        ordered = sorted(rs, key=lambda r: (r.adist, r.neighbor_id))
        assert [r.rn for r in ordered] == rns


def test_ivfpq_multiprobe_broadcasts_probes_and_table(spark, sf_dir):
    """The probe list and ADC table must broadcast — a shuffled probe
    join at 100 TB would move the whole code index. Plan pin."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    codebook = emb.filter(F.col("vec_id") < 64)
    plan = (
        ivfpq_multiprobe_topk(
            emb, queries, codebook, dim=64, n_sub=4, k=5, cell_bits=3
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastExchange") >= 2


def test_semdedup_stream_lsh_assigner_matches_batch(spark, sf_dir, tmp_path):
    """The sink with the cells-∝-corpus LSH assigner must reproduce the
    sequential batch admission exactly — same shared prune rule, only
    the quantizer strategy changed (SCALE.md §15 drain-wall note). Also
    pins: exactly one of centroids/assign_fn, and replay adds nothing."""
    from pyspark.sql import types as T

    from m2_b3_market_data_pipeline_spark.operators.embeddings import (
        lsh_cell_assigner,
        semdedup_prune_assigned,
    )
    from m2_b3_market_data_pipeline_spark.streaming.semdedup_sink import (
        read_assigned,
        read_decisions,
        run_semdedup_stream,
    )

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    waves = [emb.filter(F.col("vec_id") % 3 == w) for w in range(3)]
    assigner = lsh_cell_assigner(dim=64, cell_bits=3)

    updates = str(tmp_path / "vec_in")
    state = str(tmp_path / "store")
    decisions_out = str(tmp_path / "dec")
    ckpt = str(tmp_path / "ckpt")

    with pytest.raises(ValueError, match="exactly one"):
        run_semdedup_stream(
            spark, updates_path=updates, state_path=state,
            decisions_path=decisions_out, checkpoint_path=ckpt,
            schema=schema,
        )

    def run():
        run_semdedup_stream(
            spark, updates_path=updates, state_path=state,
            decisions_path=decisions_out, checkpoint_path=ckpt,
            schema=schema, assign_fn=assigner, threshold=0.25,
        ).awaitTermination(120)

    for i, w in enumerate(waves):
        w.write.parquet(f"{updates}/b{i}")
        run()
    run()  # replay-safe

    got = {
        (r.vec_id, r.centroid_id, r.pruned)
        for r in read_decisions(spark, decisions_out).collect()
    }

    want = set()
    corpus = None
    for i, w in enumerate(waves):
        assigned = assigner(w)
        if i == 0:
            dec = assigned.select(
                "vec_id", "centroid_id", F.lit(False).alias("pruned")
            )
        else:
            dec = semdedup_prune_assigned(assigned, corpus, threshold=0.25)
        rows = dec.collect()
        want |= {(r.vec_id, r.centroid_id, r.pruned) for r in rows}
        keep = {r.vec_id for r in rows if not r.pruned}
        survivors = assigned.filter(F.col("vec_id").isin(list(keep)))
        corpus = survivors if corpus is None else corpus.unionByName(survivors)

    assert got == want
    assert any(p for _, _, p in got), "expected at least one pruned vector"
    state_ids = {r.vec_id for r in read_assigned(spark, state).collect()}
    assert state_ids == {v for v, _, p in want if not p}


def test_pagerank_rank_sum_conserved(spark, sf_dir):
    """Full-graph companion to the sf1 subgraph witness
    (plans/graph_queries.py::pagerank_cosuppliers_subgraph): on the
    symmetric co-supply graph there are no dangling nodes, so the rank
    vector must sum to 1 after EVERY iteration — the conservation
    invariant that checks the operator at any scale without an oracle
    (per-node 9dp rounding bounds the drift at n·5e-10)."""
    from m2_b3_market_data_pipeline_spark.operators.graph import pagerank

    li = load(spark, sf_dir, "lineitem")
    su = li.select("l_orderkey", "l_suppkey").distinct()
    a = su.select(F.col("l_orderkey").alias("__ok"), F.col("l_suppkey").alias("src"))
    b = su.select(F.col("l_orderkey").alias("__ok"), F.col("l_suppkey").alias("dst"))
    edges = (
        a.join(b, "__ok")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        .persist()
    )
    n = edges.select("src").union(edges.select("dst")).distinct().count()
    tol = max(1e-9, n * 5e-10)
    for iters in (1, 2, 3):
        pr = pagerank(edges, damping=0.85, iters=iters)
        total = pr.agg(F.sum("pagerank")).first()[0]
        for f in getattr(pr, "_cached_frames", []):
            f.unpersist()
        assert abs(total - 1.0) <= tol, (iters, total)
    edges.unpersist()


def test_pagerank_subgraph_sample_pushes_below_edge_build(spark, sf_dir):
    """The md5 node sample must filter the (order, supplier) pairs
    BEFORE the co-supply self-join — sampling after edge build would
    cost the full quadratic pairing at 100 TB. Pin: no join operator
    below the sample filter in the physical plan."""
    from m2_b3_market_data_pipeline_spark.plans.graph_queries import (
        pagerank_cosuppliers_subgraph,
    )

    df = pagerank_cosuppliers_subgraph(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    for f in getattr(df, "_cached_frames", []):
        f.unpersist()
    # Logical plans print root-first, children indented below — so a
    # filter BELOW the edge-build join appears AFTER the first Join
    # line in the string. A sample applied above the join (the 100 TB
    # anti-pattern: full quadratic pairing, then sampling) would print
    # before it.
    first_md5 = plan.find("md5")
    first_join = plan.find("Join")
    assert first_md5 != -1 and first_join != -1
    assert first_md5 > first_join, plan[:2000]


def test_wedge_partitions_rule():
    """The self-sizing wedge-stage rule (r8 verdict item 3): no-op at or
    under the session default, exact ceil above it, capped."""
    from m2_b3_market_data_pipeline_spark.operators.graph import (
        WEDGE_PARTITION_CAP,
        WEDGE_ROWS_PER_PARTITION,
        wedge_partitions,
    )

    assert wedge_partitions(0, 32) is None
    assert wedge_partitions(32 * WEDGE_ROWS_PER_PARTITION, 32) is None
    assert wedge_partitions(32 * WEDGE_ROWS_PER_PARTITION + 1, 32) == 33
    # the measured sf3 volume (1.23B wedges) at the 32-partition default
    assert wedge_partitions(1_232_624_730, 32) == 155
    assert wedge_partitions(10**15, 32) == WEDGE_PARTITION_CAP


def test_triangle_plan_unwidened_on_small_input(spark, sf_dir):
    """On small inputs the wedge rule must leave the plan untouched —
    no RepartitionByExpression anywhere in triangle_coparts' plan.
    (The r16 a-keyed canonicalize dedup exchange executes below the
    persisted edge cache, so it appears only as the cache's physical
    Exchange — asserted by key below — never as a logical widening
    node in the final frame's plan.)"""
    from m2_b3_market_data_pipeline_spark.plans.graph_queries import (
        triangle_coparts,
    )

    df = triangle_coparts(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    for f in getattr(df, "_cached_frames", []):
        f.unpersist()
    assert "RepartitionByExpression" not in plan, plan[:1500]
    # the edge cache's dedup exchange is keyed on "a" alone (r16): the
    # rank-attach join probes stationary edges at scale
    assert re.search(r"Exchange hashpartitioning\(a#\d+L?(,\s*\d+)?\)", plan), plan[:2000]


def test_semdedup_lsh_cells_are_signature_prefix(spark, sf_dir):
    """cell_bits=b cells must equal the low b bits of a wider
    signature — the contract that lets the oracle compute one wide
    signature and mask down to the dynamic knob."""
    from m2_b3_market_data_pipeline_spark.operators.similarity import (
        lsh_signatures,
    )

    emb = load(spark, sf_dir, "embeddings")
    narrow = {
        r.vec_id: r.lsh_sig
        for r in lsh_signatures(emb, dim=64, n_bits=5).collect()
    }
    wide = {
        r.vec_id: r.lsh_sig % 32
        for r in lsh_signatures(emb, dim=64, n_bits=20).collect()
    }
    assert narrow == wide
