"""Corpus-scaled-knob variants of the three fixed-knob quantized
operators — the r8 verdict's top order.

SCALE.md §13 measured superlinear sf1→sf3 slopes on ``semdedup_prune``
(7.1×), ``embedding_near_dups`` (7.7×) and ``ivfpq_ann_topk`` (3.9×),
each caused by a quantization knob pinned for oracle determinism. These
three queries are the production posture — the knob derived from the
corpus cardinality (operators/knobs.py) — registered as first-class
oracle-checked queries, so the "near-linear at scale" claim is
gate-checked, not argued. The DuckDB oracles compute the SAME knob from
``COUNT(*)`` (knobs.knob_sql), so one SQL string stays correct at every
scale factor (driver sf0.01, local sf1/sf3 differential gates).

Knob parity: Spark reads the corpus cardinality once at plan-build time
(the count() over the validity-filtered scan — at production scale,
catalog statistics); the oracle reads it as a scalar subquery. The
ceil(log2(·)) formula is engine-exact (knobs.py module doc).

The fixed-knob originals stay registered — they are the judged
baselines whose slopes named the problem; these are the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.embeddings import semdedup_lsh
from ..operators.knobs import (
    band_layout_sql,
    knob_sql,
    scaled_band_bits,
    scaled_band_layout,
    scaled_cell_bits,
)
from ..operators.similarity import (
    _hyperplane,
    banded_near_dup_pairs,
    ivfpq_multiprobe_topk,
)
from .dedup_quality import SEM_THRESHOLD
from .retrieval_quality import (
    EMBED_DIM,
    NEAR_DUP_THRESHOLD,
    PQ_SUB,
    QUERY_MOD,
    TOP_K,
    _PQ_LEN,
    _lsh_sig_sql,
)
from .registry import load, register
from .sql_fragments import EMB

# Knob bounds — ONE definition each, consumed by both the Spark side
# (operators/knobs.py defaults) and the oracle scalar below. hi bounds
# double as the hyperplane-literal count in the oracle SQL (the oracle
# always computes the widest signature and masks down to the knob).
CELL_OCC, CELL_LO, CELL_HI = 64, 2, 20  # semdedup / IVF coarse cells
BAND_OCC, BAND_LO, BAND_HI = 4, 4, 15   # near-dup band width
ND_BANDS = 4                            # near-dup band COUNT (fixed)
PQ_CODEBOOK = 64                        # fixed PQ k* (prefix codebook)

_CELL_KNOB = knob_sql(occupancy=CELL_OCC, lo=CELL_LO, hi=CELL_HI, count_from=EMB)
_BAND_KNOB = knob_sql(occupancy=BAND_OCC, lo=BAND_LO, hi=BAND_HI, count_from=EMB)

_COS_AB = (
    "ROUND(list_inner_product(a.v, b.v) / "
    "(sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 6)"
)


def _emb_count(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    """The corpus and its valid-vector cardinality (the one plan-build
    scalar the scaled knobs need; see knobs.py module doc)."""
    emb = load(spark, sf_dir, "embeddings")
    return emb, emb.count()


@register(
    "semdedup_k_scaled",
    oracle=f"""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {EMB}),
cells AS (
    SELECT vec_id, v,
           ({_lsh_sig_sql("v", n_bits=CELL_HI)})
               % CAST(pow(2, {_CELL_KNOB}) AS BIGINT) AS cell_id
    FROM c),
pr AS (
    SELECT b.vec_id, TRUE AS pruned
    FROM cells a JOIN cells b
      ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
    WHERE {_COS_AB} >= {SEM_THRESHOLD}
    GROUP BY b.vec_id)
SELECT w.vec_id, w.cell_id, COALESCE(p.pruned, FALSE) AS pruned
FROM cells w LEFT JOIN pr p ON p.vec_id = w.vec_id
ORDER BY w.vec_id
""",
)
def semdedup_k_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the cell count ∝ corpus size (k-∝-n posture):
    cells = 2^bits hyperplane-LSH buckets with bits =
    scaled_cell_bits(n), so expected occupancy — and with it the
    in-cell pair volume that made the fixed-k form 7.1× at 3× data —
    stays ~constant (operators/embeddings.py::semdedup_lsh; slope
    measured in SCALE.md §14). Same prune rule as ``semdedup_prune``."""
    emb, n = _emb_count(spark, sf_dir)
    return semdedup_lsh(
        emb,
        dim=EMBED_DIM,
        cell_bits=scaled_cell_bits(n, target_occupancy=CELL_OCC, lo=CELL_LO, hi=CELL_HI),
        threshold=SEM_THRESHOLD,
    )


@register(
    "embedding_near_dups_bits_scaled",
    oracle=f"""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {EMB}),
sigs AS (SELECT vec_id, {_lsh_sig_sql("v", n_bits=ND_BANDS * BAND_HI)} AS sig FROM c),
bands AS (
    SELECT vec_id, b AS band_id,
           (sig // CAST(pow(2, b * {_BAND_KNOB}) AS BIGINT))
               % CAST(pow(2, {_BAND_KNOB}) AS BIGINT) AS band_val
    FROM sigs, unnest([{", ".join(str(b) for b in range(ND_BANDS))}]) AS t(b)),
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.vec_id < b.vec_id)
SELECT p.id_a, p.id_b,
       ROUND(list_inner_product(sa.v, sb.v) /
             (sqrt(list_inner_product(sa.v, sa.v)) * sqrt(list_inner_product(sb.v, sb.v))), 6) AS cos
FROM cand p
JOIN c sa ON sa.vec_id = p.id_a
JOIN c sb ON sb.vec_id = p.id_b
WHERE ROUND(list_inner_product(sa.v, sb.v) /
            (sqrt(list_inner_product(sa.v, sa.v)) * sqrt(list_inner_product(sb.v, sb.v))), 6)
      >= {NEAR_DUP_THRESHOLD}
""",
)
def embedding_near_dups_bits_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs with the band WIDTH ∝ log n (band count
    fixed at {ND_BANDS}): per-band buckets number 2^bits, so bucket
    occupancy — and with it the candidate-pair volume that made the
    fixed-width form 7.7× at 3× data — stays ~constant as the corpus
    grows. Same verify (exact cosine on candidates, precision 1.0) and
    threshold as ``embedding_near_dups``; slope in SCALE.md §14."""
    emb, n = _emb_count(spark, sf_dir)
    bb = scaled_band_bits(n, target_occupancy=BAND_OCC, lo=BAND_LO, hi=BAND_HI)
    return banded_near_dup_pairs(
        emb,
        dim=EMBED_DIM,
        threshold=NEAR_DUP_THRESHOLD,
        band_bits=bb,
        n_bands=ND_BANDS,
        plane_stride=bb,
    )


_PQ_DIST_P = (
    "ROUND(list_sum([ (s.sv[i] - pcent.cv[i]) * (s.sv[i] - pcent.cv[i]) "
    f"for i in generate_series(1, {_PQ_LEN}) ]), 6)"
)


@register(
    "ivfpq_cells_scaled",
    oracle=f"""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {EMB}),
sigs AS (
    SELECT vec_id,
           ({_lsh_sig_sql("v", n_bits=CELL_HI)})
               % CAST(pow(2, {_CELL_KNOB}) AS BIGINT) AS cid
    FROM c),
qsig AS (SELECT vec_id AS query_id, cid FROM sigs WHERE vec_id % {QUERY_MOD} = 0),
probe AS (
    SELECT query_id, cid FROM qsig
    UNION ALL
    SELECT query_id, xor(cid, CAST(pow(2, j) AS BIGINT)) AS cid
    FROM qsig, unnest(generate_series(0, {_CELL_KNOB} - 1)) AS t(j)),
m AS (SELECT unnest(generate_series(1, {PQ_SUB})) AS m),
sub AS (
    SELECT vec_id, m, list_slice(v, (m - 1) * {_PQ_LEN} + 1, m * {_PQ_LEN}) AS sv
    FROM c, m),
pcent AS (
    SELECT vec_id AS code, m, list_slice(v, (m - 1) * {_PQ_LEN} + 1, m * {_PQ_LEN}) AS cv
    FROM c, m WHERE vec_id < {PQ_CODEBOOK}),
codes AS (
    SELECT vec_id, m, code FROM (
        SELECT s.vec_id, s.m, pcent.code,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                                  ORDER BY {_PQ_DIST_P} ASC, pcent.code) AS rn
        FROM sub s JOIN pcent ON s.m = pcent.m) WHERE rn = 1),
qs AS (SELECT vec_id AS query_id, m, sv AS qv2 FROM sub WHERE vec_id % {QUERY_MOD} = 0),
tbl AS (
    SELECT qs.query_id, qs.m, pcent.code,
           list_sum([ (qs.qv2[i] - pcent.cv[i]) * (qs.qv2[i] - pcent.cv[i])
                      for i in generate_series(1, {_PQ_LEN}) ]) AS part
    FROM qs JOIN pcent ON qs.m = pcent.m),
summed AS (
    SELECT t.query_id, k.vec_id AS neighbor_id, ROUND(SUM(t.part), 6) AS adist
    FROM codes k
    JOIN sigs s ON s.vec_id = k.vec_id
    JOIN probe p ON p.cid = s.cid
    JOIN tbl t ON t.query_id = p.query_id AND t.m = k.m AND t.code = k.code
    WHERE k.vec_id <> p.query_id
    GROUP BY t.query_id, k.vec_id)
SELECT query_id, neighbor_id, adist, rn FROM (
    SELECT query_id, neighbor_id, adist,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY adist ASC, neighbor_id) AS rn
    FROM summed) WHERE rn <= {TOP_K}
""",
)
def ivfpq_cells_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN with coarse cells ∝ corpus size: LSH cells with bits =
    scaled_cell_bits(n) (occupancy ~{CELL_OCC}), Hamming-1 multiprobe,
    and a FIXED-size PQ codebook (k* = {PQ_CODEBOOK} prefix vectors) —
    the two levers that made the fixed-knob ``ivfpq_ann_topk`` 3.9× at
    3× data, both scaled the production way (operators/similarity.py::
    ivfpq_multiprobe_topk; slope in SCALE.md §14)."""
    emb, n = _emb_count(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    codebook = emb.filter(F.col("vec_id") < PQ_CODEBOOK)
    return ivfpq_multiprobe_topk(
        emb,
        queries,
        codebook,
        dim=EMBED_DIM,
        n_sub=PQ_SUB,
        k=TOP_K,
        cell_bits=scaled_cell_bits(n, target_occupancy=CELL_OCC, lo=CELL_LO, hi=CELL_HI),
    )


# --- Band-COUNT scaling past the one-BIGINT width cap (r10 verdict
# item 2; the boundary SCALE.md §20 measured at sf30). Layout knobs:
# width uncapped to HARD_CAP via independent per-band plane families,
# bands = ceil(4^(w/15)) holding the LSH threshold (1/b)^(1/w) at the
# width-cap operating point — physics in knobs.scaled_band_layout.
BL_HARD_CAP = 20                               # max band width (plan/oracle literal grid)
BL_MAX_BANDS = 7                               # ceil(4 ** (BL_HARD_CAP / 15)) — static UNION arms
_BL_W_SQL, _BL_B_SQL = band_layout_sql(
    occupancy=BAND_OCC, lo=BAND_LO, base_bands=ND_BANDS,
    width_cap=BAND_HI, hard_cap=BL_HARD_CAP, count_from=EMB,
)


def _banded_val_sql(j: int) -> str:
    """Band j's value: width-knob-masked sum over its OWN plane family
    (plane index j*BL_HARD_CAP + i — the identical family the Spark
    side uses via plane_stride, so the literal grid is static while
    the width knob varies)."""
    terms = []
    for i in range(BL_HARD_CAP):
        comps = ", ".join(repr(c) for c in _hyperplane(EMBED_DIM, j * BL_HARD_CAP + i))
        terms.append(
            f"CASE WHEN {i} < k.w AND list_inner_product(v, [{comps}]) > 0"
            f" THEN CAST({2 ** i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        )
    return " + ".join(terms)


_BL_BANDS_SQL = " UNION ALL ".join(
    f"SELECT vec_id, {j} AS band_id, ({_banded_val_sql(j)}) AS band_val "
    f"FROM c, k WHERE {j} < k.b"
    for j in range(BL_MAX_BANDS)
)


@register(
    "embedding_near_dups_bands_scaled",
    oracle=f"""
WITH k AS (SELECT {_BL_W_SQL} AS w, {_BL_B_SQL} AS b),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {EMB}),
bands AS ({_BL_BANDS_SQL}),
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.vec_id < b.vec_id)
SELECT p.id_a, p.id_b,
       ROUND(list_inner_product(sa.v, sb.v) /
             (sqrt(list_inner_product(sa.v, sa.v)) * sqrt(list_inner_product(sb.v, sb.v))), 6) AS cos
FROM cand p
JOIN c sa ON sa.vec_id = p.id_a
JOIN c sb ON sb.vec_id = p.id_b
WHERE ROUND(list_inner_product(sa.v, sb.v) /
            (sqrt(list_inner_product(sa.v, sa.v)) * sqrt(list_inner_product(sb.v, sb.v))), 6)
      >= {NEAR_DUP_THRESHOLD}
""",
)
def embedding_near_dups_bands_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs with BOTH band knobs ∝ corpus size —
    the lever past the 15-bit width cap the sf30 decade hit
    (SCALE.md §20): width keeps absorbing the corpus residual via
    independent per-band hyperplane families (no single-BIGINT
    signature to overflow), and the band count grows as
    ceil(4^(w/15)) to hold the LSH threshold (1/b)^(1/w) at the
    capped layout's operating point — candidate volume stays ~linear
    (b·n band rows, occupancy pinned) where the width-capped form
    reverts to n²/2^15 growth. Same exact-cosine verify and threshold
    as ``embedding_near_dups``; knob physics in
    knobs.scaled_band_layout, slope in SCALE.md §20."""
    emb, n = _emb_count(spark, sf_dir)
    w, b = scaled_band_layout(
        n, occupancy=BAND_OCC, lo=BAND_LO, base_bands=ND_BANDS,
        width_cap=BAND_HI, hard_cap=BL_HARD_CAP,
    )
    return banded_near_dup_pairs(
        emb,
        dim=EMBED_DIM,
        threshold=NEAR_DUP_THRESHOLD,
        band_bits=w,
        n_bands=b,
        plane_stride=BL_HARD_CAP,
    )


# md5-seeded ~1/16 vector sample for fifth-decade witnesses — the
# dedup_clusters_sample / pagerank_cosuppliers_subgraph idiom (keep a
# vector iff the first hex nibble of md5(vec_id-as-string) is '0';
# hash-uniform, engine-identical). Pushed BELOW signature computation
# on BOTH engines, so the witness costs 1/16 of the banding work and
# ~1/256 of the candidate pairs at any corpus size — which keeps the
# DuckDB side tractable at sf100 (2M vectors -> 125k sampled), the
# decade where the full-corpus oracle out-scales it (SCALE.md §21.6).
_VEC_SAMPLE_SQL = "substr(md5(CAST(vec_id AS STRING)), 1, 1) = '0'"

_EMB_SAMPLED = f"(SELECT * FROM {EMB} WHERE {_VEC_SAMPLE_SQL}) sampled"
_BLW_W_SQL_S, _BL_B_SQL_S = band_layout_sql(
    occupancy=BAND_OCC, lo=BAND_LO, base_bands=ND_BANDS,
    width_cap=BAND_HI, hard_cap=BL_HARD_CAP, count_from=_EMB_SAMPLED,
)


# Pair-level witness SQL for the LOCAL fifth-decade check
# (tools/scale_band_witness.py at commit f6dc786; SCALE.md §22.3). Not registered: below
# sf1 the sampled corpus has no near-dup pairs, so its driver row
# would be the empty relation — the registered witness below
# hash-checks the banding computation itself instead, which has
# |sample| x b real rows at every scale.
BANDS_WITNESS_PAIRS_SQL = f"""
WITH k AS (SELECT {_BLW_W_SQL_S} AS w, {_BL_B_SQL_S} AS b),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {_EMB_SAMPLED}),
bands AS ({_BL_BANDS_SQL}),
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.vec_id < b.vec_id)
SELECT p.id_a, p.id_b,
       ROUND(list_inner_product(sa.v, sb.v) /
             (sqrt(list_inner_product(sa.v, sa.v)) * sqrt(list_inner_product(sb.v, sb.v))), 6) AS cos
FROM cand p
JOIN c sa ON sa.vec_id = p.id_a
JOIN c sb ON sb.vec_id = p.id_b
WHERE ROUND(list_inner_product(sa.v, sb.v) /
            (sqrt(list_inner_product(sa.v, sa.v)) * sqrt(list_inner_product(sb.v, sb.v))), 6)
      >= {NEAR_DUP_THRESHOLD}
"""


@register(
    "embedding_bands_witness",
    oracle=f"""
WITH k AS (SELECT {_BLW_W_SQL_S} AS w, {_BL_B_SQL_S} AS b),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {_EMB_SAMPLED}),
bands AS ({_BL_BANDS_SQL})
SELECT vec_id, band_id, band_val FROM bands
""",
)
def embedding_bands_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The band-count layout's SIGNATURES on the deterministic
    md5-seeded ~1/16 vector sample — the bounded differential witness
    for the fifth decade (r11 verdict item 4): §21.6's sf100 kill-test
    numbers were engine-only (54.6M pairs never hash-compared; DuckDB
    out-scales on the full corpus). Sampling below the banding on BOTH
    engines keeps the oracle tractable at sf100 (2M -> 125k vectors),
    and every sampled vector's per-band hyperplane value — the
    computation the candidate join keys on — hash-checks exactly, with
    knobs recomputed from the sample cardinality on both sides (the
    dedup_clusters_sample semantics). The derived PAIR set is checked
    at sf100 by the same sample through BANDS_WITNESS_PAIRS_SQL
    (tools/scale_band_witness.py at commit f6dc786, recorded in
    SCALE.md §22.3) rather
    than registered, because below sf1 the sampled corpus has no
    near-dup pairs and an always-empty driver row is no evidence."""
    from ..operators.similarity import banded_signatures_df

    emb = (
        load(spark, sf_dir, "embeddings").filter(F.expr(_VEC_SAMPLE_SQL))
    )
    n = emb.count()
    w, b = scaled_band_layout(
        n, occupancy=BAND_OCC, lo=BAND_LO, base_bands=ND_BANDS,
        width_cap=BAND_HI, hard_cap=BL_HARD_CAP,
    )
    return banded_signatures_df(
        emb,
        dim=EMBED_DIM,
        band_bits=w,
        n_bands=b,
        plane_stride=BL_HARD_CAP,
    )


# The semantic family's fifth-decade witness (round 13, r12 verdict
# item 6): the same md5-seeded ~1/16 sample, pushed BELOW the coarse
# cell assignment AND the prune decision.
_EMB_SEM_SAMPLED = f"(SELECT * FROM {EMB} WHERE {_VEC_SAMPLE_SQL}) sem_sampled"
_CELL_KNOB_S = knob_sql(
    occupancy=CELL_OCC, lo=CELL_LO, hi=CELL_HI, count_from=_EMB_SEM_SAMPLED
)


@register(
    "semdedup_assign_witness",
    oracle=f"""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {_EMB_SEM_SAMPLED}),
cells AS (
    SELECT vec_id, v,
           ({_lsh_sig_sql("v", n_bits=CELL_HI)})
               % CAST(pow(2, {_CELL_KNOB_S}) AS BIGINT) AS cell_id
    FROM c),
pr AS (
    SELECT b.vec_id, TRUE AS pruned
    FROM cells a JOIN cells b
      ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
    WHERE {_COS_AB} >= {SEM_THRESHOLD}
    GROUP BY b.vec_id)
SELECT w.vec_id, w.cell_id, COALESCE(p.pruned, FALSE) AS pruned
FROM cells w LEFT JOIN pr p ON p.vec_id = w.vec_id
ORDER BY w.vec_id
""",
)
def semdedup_assign_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup's full decision path — vector -> LSH coarse cell ->
    in-cell prune verdict — on the deterministic md5-seeded ~1/16
    vector sample: the SEMANTIC family's fifth-decade differential
    witness (r12 verdict item 6). The lexical families carry sf100
    hash matches (dedup_clusters_sample, embedding_bands_witness + the
    pair witness), but the semdedup sink's sf100 run (2M vectors,
    98.4s, SCALE.md §22.1) was engine-only. Sampling below the cell
    assignment keeps the DuckDB side tractable at sf100 (2M -> ~125k
    vectors, in-cell pair volume bounded by the occupancy knob
    recomputed from the SAMPLE cardinality on both engines — the
    dedup_clusters_sample semantics). Same hyperplane family, same
    knob formula, same prune rule as the full-corpus
    ``semdedup_k_scaled`` (green through sf30); this witness extends
    the family's oracle evidence to the decade where the full-corpus
    oracle out-scales single-node DuckDB."""
    emb = load(spark, sf_dir, "embeddings").filter(F.expr(_VEC_SAMPLE_SQL))
    n = emb.count()
    return semdedup_lsh(
        emb,
        dim=EMBED_DIM,
        cell_bits=scaled_cell_bits(
            n, target_occupancy=CELL_OCC, lo=CELL_LO, hi=CELL_HI
        ),
        threshold=SEM_THRESHOLD,
    )
