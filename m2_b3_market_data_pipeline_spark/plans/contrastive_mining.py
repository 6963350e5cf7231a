"""Contrastive training-data mining: hard-negative triplets over the
labeled embedding corpus, batch and growing-corpus (wave) forms — the
batch semantics behind streaming/triplet_sink.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import wave_triplet_mining
from .dedup_quality import _SEM_COS
from .retrieval_quality import QUERY_MOD
from .registry import load, register
from .sql_fragments import EMB

N_WAVES = 3  # ingestion waves: wave = vec_id % 3
TRIPLET_QUERY_MOD = 20  # mining queries: every 20th vector

@register(
    "hard_negatives",
    oracle=f"""
WITH c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM {EMB}),
q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv FROM c
      WHERE vec_id % {QUERY_MOD} = 0),
s AS (
    SELECT q.query_id, q.qlabel, c.vec_id AS cid, c.label AS clabel,
           ROUND(list_inner_product(q.qv, c.v) /
                 (sqrt(list_inner_product(q.qv, q.qv)) *
                  sqrt(list_inner_product(c.v, c.v))), 6) AS cos
    FROM c CROSS JOIN q WHERE c.vec_id <> q.query_id),
pos AS (
    SELECT query_id, qlabel AS label, cid AS pos_id, cos AS pos_cos FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, cid) AS rn
        FROM s WHERE clabel = qlabel) WHERE rn = 1),
neg AS (
    SELECT query_id, cid AS neg_id, cos AS neg_cos FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, cid) AS rn
        FROM s WHERE clabel <> qlabel) WHERE rn = 1)
SELECT p.query_id, p.label, p.pos_id, p.pos_cos, n.neg_id, n.neg_cos
FROM pos p JOIN neg n ON n.query_id = p.query_id
ORDER BY p.query_id
""",
)
def hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive triplet mining over the labeled embedding corpus:
    per query, the nearest same-label positive and the nearest
    different-label HARD negative — the close-but-wrong examples
    retrieval/contrastive training needs (random negatives carry no
    gradient). Broadcast-query shape, corpus never shuffles
    (operators/similarity.py::hard_negative_mining)."""
    from ..operators.similarity import hard_negative_mining

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    return hard_negative_mining(emb, queries)
@register(
    "streaming_triplets",
    oracle=f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
                  vec_id % {N_WAVES} AS wave
           FROM {EMB}),
q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv, wave AS qwave
      FROM e WHERE vec_id % {TRIPLET_QUERY_MOD} = 0 AND wave >= 1),
s AS (
    SELECT q.query_id, q.qlabel, q.qwave, c.vec_id AS cid, c.label AS clabel,
           {_SEM_COS.format(a="q.qv", b="c.v")} AS cos
    FROM e c JOIN q ON c.wave < q.qwave AND c.vec_id <> q.query_id),
pos AS (
    SELECT query_id, qlabel AS label, qwave AS wave, cid AS pos_id, cos AS pos_cos FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, cid) AS rn
        FROM s WHERE clabel = qlabel) WHERE rn = 1),
neg AS (
    SELECT query_id, cid AS neg_id, cos AS neg_cos FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, cid) AS rn
        FROM s WHERE clabel <> qlabel) WHERE rn = 1)
SELECT p.query_id, p.label, p.wave, p.pos_id, p.pos_cos, n.neg_id, n.neg_cos
FROM pos p JOIN neg n ON n.query_id = p.query_id
ORDER BY p.query_id
""",
)
def streaming_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growing-corpus triplet mining (operators/similarity.py::
    wave_triplet_mining): the corpus arrives in {N_WAVES} ingestion
    waves (wave = vec_id % {N_WAVES}); every {TRIPLET_QUERY_MOD}-th
    vector mines its nearest same-label positive and nearest
    different-label hard negative against ONLY the waves admitted
    before its own — what a continuous mining job actually sees. The
    non-equi wave predicate is rewritten as explode-admitted-waves +
    hash equi-join (the ann_topk lesson); the streaming sink replays
    these exact semantics batch-by-batch."""
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "wave", F.col("vec_id") % N_WAVES
    )
    queries = emb.filter(
        (F.col("vec_id") % TRIPLET_QUERY_MOD == 0) & (F.col("wave") >= 1)
    )
    return wave_triplet_mining(emb, queries, n_waves=N_WAVES)
