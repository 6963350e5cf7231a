"""Embedding and retrieval queries: embedding hygiene (L2
normalization, int8 quantization, k-means and nearest-centroid
assignment, JL projection), exact cosine top-k, banded-LSH near-dups
and ANN, IVF and PQ top-k, ANN recall evidence, the IVF-PQ composite
stack (top-k, recall, exact re-rank), the k-NN label-agreement probe of
embedding quality, BM25 and MMR.

Float vectors are verified bit-meaningfully by hashing micro-unit
integer codes (ROUND(x * 1e6) AS BIGINT) — integer strings are
identical across engines, unlike double-to-string formatting. Exact
paths are oracle-checked against DuckDB ``list_inner_product`` over
DOUBLE[] (both engines sum left-to-right in double precision; results
rounded to 6dp).

All paths are deterministic (fixed every-Nth-vector codebooks, LCG
hyperplanes as literals, 6dp-rounded cosines, explicit tiebreaks), so
even APPROXIMATE retrieval quality hash-checks against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.embeddings import (
    assign_centroids,
    kmeans_iterate,
    l2_normalize,
    quantize_int8,
)
from ..operators.similarity import (
    _hyperplane,
    ann_topk,
    banded_near_dup_pairs,
    brute_force_topk,
    ivf_topk,
    ivfpq_topk,
    pq_ann_topk,
    pq_codes,
)
from .registry import load, register
from .sql_fragments import EMB, TK
EMBED_DIM = 64
LSH_BAND_BITS = 4


LSH_BITS = 16

QUERY_MOD = 100  # queries = vec_id % 100 == 0
TOP_K = 5
_LSH_BANDS = LSH_BITS // LSH_BAND_BITS
_LSH_MASK = (1 << LSH_BAND_BITS) - 1
_ANN_BAND_MATCH = " OR ".join(
    f"((c.sig >> {b * LSH_BAND_BITS}) & {_LSH_MASK}) = ((q.sig >> {b * LSH_BAND_BITS}) & {_LSH_MASK})"
    for b in range(_LSH_BANDS)
)


_QCOS = (
    "ROUND(list_inner_product(q.v, c.v) / "
    "(sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v))), 6)"
)


def _lsh_sig_sql(vec_expr: str, *, dim: int = EMBED_DIM, n_bits: int = LSH_BITS) -> str:
    """DuckDB expression computing the SAME hyperplane-LSH signature as
    ``operators/similarity.py::lsh_signatures``: the LCG hyperplanes are
    deterministic, so they embed as literal DOUBLE lists and the bit
    pattern reproduces exactly (verified bit-for-bit at sf0.001/0.01/0.1
    — dot-product signs never sit inside float summation noise on the
    fixtures)."""
    terms = []
    for i in range(n_bits):
        comps = ", ".join(repr(c) for c in _hyperplane(dim, i))
        terms.append(
            f"CASE WHEN list_inner_product({vec_expr}, [{comps}]) > 0"
            f" THEN CAST({2**i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        )
    return " + ".join(terms)

@register(
    "ann_recall_check",
    oracle=f"""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {EMB}),
sigs AS (SELECT vec_id, v, {_lsh_sig_sql("v")} AS sig FROM c),
q AS (SELECT * FROM sigs WHERE vec_id % {QUERY_MOD} = 0),
exact AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_QCOS} DESC, c.vec_id) AS rn
        FROM c CROSS JOIN q WHERE q.vec_id <> c.vec_id
    ) WHERE rn <= {TOP_K}),
approx AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_QCOS} DESC, c.vec_id) AS rn
        FROM sigs c JOIN q ON ({_ANN_BAND_MATCH}) AND q.vec_id <> c.vec_id
    ) WHERE rn <= {TOP_K})
SELECT e.query_id,
       ROUND(COUNT(a.neighbor_id) * 1.0 / {TOP_K}, 6) AS recall_at_k
FROM exact e
LEFT JOIN approx a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id
ORDER BY e.query_id
""",
)
def ann_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the LSH ANN path vs the exact brute-force top-k, per
    query — hash-checked TRUE recall, since both sides are
    deterministic (the LCG hyperplanes embed in the oracle as
    literals). The exact side broadcasts the query set so the corpus
    never shuffles; the approximate side is the banded candidate join.
    Recall evidence previously lived only in pytest; this puts it in
    the driver's correctness record."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    exact = brute_force_topk(emb, queries, k=TOP_K).select("query_id", "neighbor_id")
    approx = (
        ann_topk(
            emb, queries, dim=EMBED_DIM, k=TOP_K,
            n_bits=LSH_BITS, band_bits=LSH_BAND_BITS,
        )
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.round(F.sum(F.coalesce(F.col("hit"), F.lit(0))) / TOP_K, 6).alias(
                "recall_at_k"
            )
        )
        .orderBy("query_id")
    )


PQ_SUB = 4  # subspaces; 64-dim -> 4 slices of 16 dims
_PQ_LEN = EMBED_DIM // PQ_SUB
_PQ_DIST_P = (
    "ROUND(list_sum([ (s.sv[i] - pcent.cv[i]) * (s.sv[i] - pcent.cv[i]) "
    f"for i in generate_series(1, {_PQ_LEN}) ]), 6)"
)


CENTROID_MOD = 50  # centroids = vec_id % 50 == 0 (deterministic coarse codebook)
NPROBE = 2

_CCOS_C = (
    "ROUND(list_inner_product(c.v, cent.cv) / "
    "(sqrt(list_inner_product(c.v, c.v)) * sqrt(list_inner_product(cent.cv, cent.cv))), 6)"
)
_CCOS_Q = (
    "ROUND(list_inner_product(q.qv, cent.cv) / "
    "(sqrt(list_inner_product(q.qv, q.qv)) * sqrt(list_inner_product(cent.cv, cent.cv))), 6)"
)


# Shared oracle CTE chain: corpus, coarse cells, probes, PQ codes,
# ADC tables, and the probed-cell partial sums — consumed by both the
# top-k query and the recall check.
_IVFPQ_CHAIN = f"""c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {EMB}),
cent AS (SELECT vec_id AS cid, v AS cv FROM c WHERE vec_id % {CENTROID_MOD} = 0),
asg AS (
    SELECT vec_id, cid FROM (
        SELECT c.vec_id, cent.cid,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                                  ORDER BY {_CCOS_C} DESC, cent.cid) AS rn
        FROM c CROSS JOIN cent) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id % {QUERY_MOD} = 0),
probe AS (
    SELECT query_id, cid FROM (
        SELECT q.query_id, cent.cid,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {_CCOS_Q} DESC, cent.cid) AS rn
        FROM q CROSS JOIN cent) WHERE rn <= {NPROBE}),
m AS (SELECT unnest(generate_series(1, {PQ_SUB})) AS m),
sub AS (
    SELECT vec_id, m, list_slice(v, (m - 1) * {_PQ_LEN} + 1, m * {_PQ_LEN}) AS sv
    FROM c, m),
pcent AS (
    SELECT vec_id AS code, m, list_slice(v, (m - 1) * {_PQ_LEN} + 1, m * {_PQ_LEN}) AS cv
    FROM c, m WHERE vec_id % {CENTROID_MOD} = 0),
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
    JOIN asg a ON a.vec_id = k.vec_id
    JOIN probe p ON p.cid = a.cid
    JOIN tbl t ON t.query_id = p.query_id AND t.m = k.m AND t.code = k.code
    WHERE k.vec_id <> p.query_id
    GROUP BY t.query_id, k.vec_id)"""


@register(
    "ivfpq_ann_topk",
    oracle=f"""
WITH {_IVFPQ_CHAIN}
SELECT query_id, neighbor_id, adist, rn FROM (
    SELECT query_id, neighbor_id, adist,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY adist ASC, neighbor_id) AS rn
    FROM summed) WHERE rn <= {TOP_K}
""",
)
def ivfpq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite ANN (operators/similarity.py::ivfpq_topk): the
    billion-scale layout — coarse cells bound WHICH corpus vectors are
    scored (queries probe their NPROBE nearest cells), PQ asymmetric
    distance bounds HOW (broadcast per-query distance tables over the
    compressed codes; full vectors are never touched at search time).
    Same deterministic every-{CENTROID_MOD}-th-vector codebook as the
    standalone IVF and PQ paths, so the whole composite is
    hash-checked; with nprobe >= |cells| it degenerates to exactly
    pq_ann_topk (pinned in tests)."""
    emb = load(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % CENTROID_MOD == 0)
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    return ivfpq_topk(
        emb, queries, centroids, centroids,
        dim=EMBED_DIM, n_sub=PQ_SUB, k=TOP_K, nprobe=NPROBE,
    )

_XCOS = (
    "ROUND(list_inner_product(q.qv, c.v) / "
    "(sqrt(list_inner_product(q.qv, q.qv)) * sqrt(list_inner_product(c.v, c.v))), 6)"
)


@register(
    "ivfpq_recall_check",
    oracle=f"""
WITH {{_IVFPQ_CHAIN}},
approx AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adist ASC, neighbor_id) AS rn
        FROM summed) WHERE rn <= {{TOP_K}}),
exact AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {{_XCOS}} DESC, c.vec_id) AS rn
        FROM c CROSS JOIN q WHERE c.vec_id <> q.query_id
    ) WHERE rn <= {{TOP_K}})
SELECT e.query_id,
       ROUND(COUNT(a.neighbor_id) * 1.0 / {{TOP_K}}, 6) AS recall_at_k
FROM exact e
LEFT JOIN approx a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id
ORDER BY e.query_id
""".format(_IVFPQ_CHAIN=_IVFPQ_CHAIN, TOP_K=TOP_K, _XCOS=_XCOS),
)
def ivfpq_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF-PQ composite vs the exact cosine top-k —
    hash-checked TRUE recall, closing the recall-evidence triple
    (ann_recall_check for hyperplane LSH, lsh_recall_check for banded
    near-dup LSH, this for the compressed-code path). IVF-PQ loses
    recall BOTH from cell restriction (a true neighbor outside the
    probed cells) and code quantization (ADC misranks inside a cell);
    this measures the composite effect honestly against the
    full-precision baseline."""
    from ..operators.similarity import brute_force_topk

    emb = load(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % CENTROID_MOD == 0)
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    exact = brute_force_topk(emb, queries, k=TOP_K).select("query_id", "neighbor_id")
    approx = (
        ivfpq_topk(
            emb, queries, centroids, centroids,
            dim=EMBED_DIM, n_sub=PQ_SUB, k=TOP_K, nprobe=NPROBE,
        )
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.round(F.sum(F.coalesce(F.col("hit"), F.lit(0))) / TOP_K, 6).alias(
                "recall_at_k"
            )
        )
        .orderBy("query_id")
    )

RERANK_R = 3 * TOP_K  # stage-1 shortlist depth: 3x the final k


@register(
    "ivfpq_rerank_topk",
    oracle="""
WITH {_IVFPQ_CHAIN},
short AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adist ASC, neighbor_id) AS rn
        FROM summed) WHERE rn <= {RERANK_R}),
scored AS (
    SELECT s.query_id, s.neighbor_id, {_XCOS} AS cos
    FROM short s
    JOIN c ON c.vec_id = s.neighbor_id
    JOIN q ON q.query_id = s.query_id)
SELECT query_id, neighbor_id, cos, rn FROM (
    SELECT query_id, neighbor_id, cos,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id) AS rn
    FROM scored) WHERE rn <= {TOP_K}
""".format(_IVFPQ_CHAIN=_IVFPQ_CHAIN, RERANK_R=3 * TOP_K, TOP_K=TOP_K, _XCOS=_XCOS),
)
def ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: IVF-PQ ADC shortlist of {RERANK_R}
    candidates per query (compressed codes, probed cells only), then
    operators/similarity.py::rerank_exact rescores ONLY those
    candidates at full precision and keeps the final top-{TOP_K} by
    exact cosine. This is the standard production ANN stack — the
    re-rank recovers most quantization misrankings for a candidate
    fetch that is |queries| x R point lookups, never a corpus scan.
    Fully hash-checked end-to-end: the oracle replays the shared
    IVF-PQ CTE chain, takes the same shortlist, and rescores with the
    same 6dp-rounded exact cosine."""
    from ..operators.similarity import ivfpq_topk, rerank_exact

    emb = load(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % CENTROID_MOD == 0)
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    shortlist = ivfpq_topk(
        emb, queries, centroids, centroids,
        dim=EMBED_DIM, n_sub=PQ_SUB, k=RERANK_R, nprobe=NPROBE,
    )
    return rerank_exact(emb, queries, shortlist, k=TOP_K)

KNN_K = 5
KNN_QUERY_MOD = 10  # evaluation sample: every 10th vector


@register(
    "knn_label_accuracy",
    oracle=f"""
WITH c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM {EMB}),
q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv FROM c
      WHERE vec_id % {KNN_QUERY_MOD} = 0),
nn AS (
    SELECT query_id, qlabel, clabel FROM (
        SELECT q.query_id, q.qlabel, c.label AS clabel,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                   ROUND(list_inner_product(q.qv, c.v) /
                         (sqrt(list_inner_product(q.qv, q.qv)) *
                          sqrt(list_inner_product(c.v, c.v))), 6) DESC,
                   c.vec_id) AS rn
        FROM c CROSS JOIN q WHERE c.vec_id <> q.query_id
    ) WHERE rn <= {KNN_K}),
votes AS (
    SELECT query_id, qlabel, clabel, COUNT(*) AS cnt
    FROM nn GROUP BY 1, 2, 3),
pred AS (
    SELECT query_id, qlabel, clabel AS predicted FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cnt DESC, clabel) AS rn
        FROM votes) WHERE rn = 1)
SELECT qlabel AS label,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(COUNT(*) FILTER (predicted = qlabel) AS BIGINT) AS n_correct,
       ROUND(COUNT(*) FILTER (predicted = qlabel) * 1.0 / COUNT(*), 6) AS accuracy
FROM pred GROUP BY qlabel ORDER BY qlabel
""",
)
def knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality probe: k-NN label agreement — for every
    {KNN_QUERY_MOD}-th vector, the majority label among its {KNN_K}
    nearest neighbors (deterministic tiebreak: vote count desc, label
    asc) versus its own label, reported per label class. THE standard
    cheap evaluation of an embedding table before it drives semantic
    dedup or retrieval mining — if k-NN can't recover labels, cosine
    structure is noise and SemDeDup/ANN decisions built on it are too.

    Scale shape: broadcast evaluation sample, corpus never shuffles
    (brute_force_topk posture — swap in IVF/LSH candidates at scale);
    the vote and accuracy folds run on the k-rows-per-query relation.
    """
    from ..operators.similarity import brute_force_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % KNN_QUERY_MOD == 0)
    nn = brute_force_topk(emb, queries, k=KNN_K).select("query_id", "neighbor_id")
    labels = emb.select("vec_id", "label")
    nn_lab = (
        nn.join(
            labels.select(
                F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
            ),
            "query_id",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"), F.col("label").alias("clabel")
            ),
            "neighbor_id",
        )
    )
    votes = nn_lab.groupBy("query_id", "qlabel", "clabel").agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cnt").desc(), F.col("clabel"))
    pred = (
        votes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("query_id", "qlabel", F.col("clabel").alias("predicted"))
    )
    return (
        pred.groupBy(F.col("qlabel").alias("label"))
        .agg(
            F.count("*").alias("n_queries"),
            F.count(F.when(F.col("predicted") == F.col("qlabel"), 1)).alias(
                "n_correct"
            ),
        )
        .withColumn(
            "accuracy", F.round(F.col("n_correct") / F.col("n_queries"), 6)
        )
        .orderBy("label")
    )



# --- Lexical retrieval (BM25) + MMR diversity selection ---------------------

from ..operators.retrieval import (  # noqa: E402
    BM25_B,
    BM25_K1,
    bm25_topk,
    mmr_select,
    mmr_select_scaled,
)

# Fixed keyword queries over the fixture vocabulary. The terms are
# ordinary corpus words — zero-match terms would simply contribute no
# postings (the adversarial fixture exercises that path).
BM25_QUERIES: dict[str, tuple[str, ...]] = {
    "q1": ("spark", "table"),
    "q2": ("window", "merge", "stream"),
    "q3": ("customer", "value", "scan"),
}
BM25_TOP = 10

_BM25_VALUES = ", ".join(
    f"('{qid}', '{t}')" for qid, ts in BM25_QUERIES.items() for t in ts
)

_BM25_ORACLE = f"""
WITH d AS (
    SELECT doc_id, {TK} AS toks FROM documents WHERE text IS NOT NULL
),
dl AS (SELECT doc_id, toks, len(toks) AS dl FROM d),
s AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
qt(query_id, term) AS (VALUES {_BM25_VALUES}),
terms AS (SELECT DISTINCT term FROM qt),
tf AS (
    SELECT doc_id, dl, term,
           len(list_filter(toks, x -> x = term)) AS tf
    FROM dl CROSS JOIN terms
),
tfp AS (SELECT * FROM tf WHERE tf > 0),
dfq AS (SELECT term, COUNT(*) AS df FROM tfp GROUP BY term),
sc AS (
    SELECT q.query_id, t.doc_id,
           ROUND(SUM(
               ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
               * (t.tf * ({BM25_K1} + 1.0))
               / (t.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * t.dl / s.avgdl))
           ), 6) AS score
    FROM tfp t JOIN dfq f USING (term) JOIN qt q USING (term) CROSS JOIN s
    GROUP BY q.query_id, t.doc_id
)
SELECT query_id, CAST(rnk AS INT) AS "rank", doc_id, score
FROM (SELECT query_id, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rnk
      FROM sc)
WHERE rnk <= {BM25_TOP}
ORDER BY query_id, "rank"
"""


@register("bm25_topk", oracle=_BM25_ORACLE)
def bm25_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword search, Lucene's non-negative IDF form, over the
    documents table (operators/retrieval.py::bm25_topk). The inverted-
    index shape re-expressed relationally: tokens intersect the
    broadcast query-term set BEFORE the explode, document frequencies /
    IDF ride back as a vocab-bounded broadcast, top-k is a
    WindowGroupLimit — one small shuffle, scan-bound at 100 TB."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_topk(docs, BM25_QUERIES, k=BM25_TOP)


MMR_K = 8
MMR_LAMBDA = 0.7
MMR_SHORTLIST = 32

_MMR_COS_ST = (
    "ROUND(list_inner_product(s.v, t.v) / "
    "(sqrt(list_inner_product(s.v, s.v)) * sqrt(list_inner_product(t.v, t.v))), 6)"
)


def _mmr_oracle() -> str:
    """Unrolled greedy chain: sel_i picks the argmax of
    round6(lam*rel - (1-lam)*max round6(cos to selected)) among
    shortlist rows not yet selected — the same contract
    operators/retrieval.py::mmr_select pins step by step.

    ``short`` / ``selu_i`` are AS MATERIALIZED: each selu is referenced
    2-3 times (penalty subquery, NOT IN, next union) and DuckDB inlines
    non-materialized CTEs per reference site, re-evaluating the chain
    exponentially (~3^k corpus scans — the sf0.01 oracle took minutes;
    materialized, 0.1s)."""
    lam, mu = MMR_LAMBDA, 1.0 - MMR_LAMBDA
    parts = [
        f"""c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {EMB}),
mn AS (SELECT MIN(vec_id) AS qid FROM c),
q AS (SELECT c.v AS qv FROM c, mn WHERE c.vec_id = mn.qid),
cand AS (
    SELECT c.vec_id, c.v,
           ROUND(list_inner_product(q.qv, c.v) /
                 (sqrt(list_inner_product(q.qv, q.qv)) *
                  sqrt(list_inner_product(c.v, c.v))), 6) AS rel
    FROM c CROSS JOIN q CROSS JOIN mn WHERE c.vec_id <> mn.qid),
short AS MATERIALIZED (SELECT * FROM cand ORDER BY rel DESC, vec_id LIMIT {MMR_SHORTLIST}),
sel1 AS (
    SELECT vec_id, v, sc FROM (
        SELECT vec_id, v, ROUND({lam} * rel, 6) + 0 AS sc FROM short)
    ORDER BY sc DESC, vec_id LIMIT 1),
selu1 AS MATERIALIZED (SELECT vec_id, v FROM sel1)"""
    ]
    for i in range(2, MMR_K + 1):
        parts.append(
            f"""sel{i} AS (
    SELECT vec_id, v, sc FROM (
        SELECT s.vec_id, s.v,
               ROUND({lam} * s.rel - {mu} *
                     (SELECT MAX({_MMR_COS_ST}) FROM selu{i - 1} t), 6) + 0 AS sc
        FROM short s
        WHERE s.vec_id NOT IN (SELECT vec_id FROM selu{i - 1}))
    ORDER BY sc DESC, vec_id LIMIT 1),
selu{i} AS MATERIALIZED (SELECT * FROM selu{i - 1} UNION ALL SELECT vec_id, v FROM sel{i})"""
        )
    union = "\nUNION ALL ".join(
        f'SELECT {i} AS "rank", vec_id, sc AS mmr_score FROM sel{i}'
        for i in range(1, MMR_K + 1)
    )
    return "WITH " + ",\n".join(parts) + f"\n{union}\nORDER BY \"rank\""


MMR_SWEEP = (8, 16, 32)
# The reachable-band sizing rule's width (r10 verdict item 5) — the
# sweep's shortlist=0 sentinel row and the mmr_select_scaled oracle
# both parameterize on this exact double (repr-embedded).
from ..operators.retrieval import mmr_reach_band  # noqa: E402

MMR_BAND = mmr_reach_band(MMR_LAMBDA)


def _mmr_chain(tag: str, limit: int | None, band: float | None = None) -> str:
    """The unrolled greedy-MMR CTE chain with ``tag``-prefixed names and
    a parameterized shortlist cap (``None`` = full candidate set) —
    shares the c/mn/q/cand prelude emitted once by the caller. Same
    step contract as _mmr_oracle; AS MATERIALIZED for the same
    exponential-inlining reason.

    ``band`` switches the shortlist to the REACHABLE-BAND rule
    (operators/retrieval.py::mmr_reach_band — r10 verdict item 5):
    keep every candidate within ``band`` relevance units of the k-th
    highest, the pool the band theorem proves reproduces the
    full-candidate greedy exactly. The literal is repr()'d from the
    same Python float the Spark side subtracts, so both engines
    compute the identical IEEE threshold."""
    lam, mu = MMR_LAMBDA, 1.0 - MMR_LAMBDA
    if band is not None:
        sh = (
            f"sh{tag} AS MATERIALIZED (SELECT * FROM cand WHERE rel >= "
            f"(SELECT MIN(rel) FROM (SELECT rel FROM cand "
            f"ORDER BY rel DESC, vec_id LIMIT {MMR_K})) - {band!r})"
        )
    else:
        lim = f" LIMIT {limit}" if limit is not None else ""
        sh = f"sh{tag} AS MATERIALIZED (SELECT * FROM cand ORDER BY rel DESC, vec_id{lim})"
    parts = [
        f"""{sh},
sel{tag}1 AS (
    SELECT vec_id, v, sc FROM (
        SELECT vec_id, v, ROUND({lam} * rel, 6) + 0 AS sc FROM sh{tag})
    ORDER BY sc DESC, vec_id LIMIT 1),
selu{tag}1 AS MATERIALIZED (SELECT vec_id, v FROM sel{tag}1)"""
    ]
    for i in range(2, MMR_K + 1):
        parts.append(
            f"""sel{tag}{i} AS (
    SELECT vec_id, v, sc FROM (
        SELECT s.vec_id, s.v,
               ROUND({lam} * s.rel - {mu} *
                     (SELECT MAX({_MMR_COS_ST}) FROM selu{tag}{i - 1} t), 6) + 0 AS sc
        FROM sh{tag} s
        WHERE s.vec_id NOT IN (SELECT vec_id FROM selu{tag}{i - 1}))
    ORDER BY sc DESC, vec_id LIMIT 1),
selu{tag}{i} AS MATERIALIZED (SELECT * FROM selu{tag}{i - 1} UNION ALL SELECT vec_id, v FROM sel{tag}{i})"""
        )
    return ",\n".join(parts)


_MMR_PRELUDE = f"""c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {EMB}),
mn AS (SELECT MIN(vec_id) AS qid FROM c),
q AS (SELECT c.v AS qv FROM c, mn WHERE c.vec_id = mn.qid),
cand AS MATERIALIZED (
    SELECT c.vec_id, c.v,
           ROUND(list_inner_product(q.qv, c.v) /
                 (sqrt(list_inner_product(q.qv, q.qv)) *
                  sqrt(list_inner_product(c.v, c.v))), 6) AS rel
    FROM c CROSS JOIN q CROSS JOIN mn WHERE c.vec_id <> mn.qid)"""


def _mmr_recall_oracle() -> str:
    """Four greedy chains over one shared candidate prelude — the full
    set (the exact reference) and the three sweep shortlists — then the
    per-shortlist overlap with the exact selection."""
    prelude = _MMR_PRELUDE
    chains = (
        [_mmr_chain("f", None)]
        + [_mmr_chain(f"s{s}", s) for s in MMR_SWEEP]
        + [_mmr_chain("s0", None, band=MMR_BAND)]
    )
    sweep = "\nUNION ALL ".join(
        f"SELECT {s} AS shortlist, vec_id FROM selus{s}{MMR_K}"
        for s in (*MMR_SWEEP, 0)
    )
    return (
        "WITH "
        + ",\n".join([prelude] + chains)
        + f""",
exact AS (SELECT vec_id FROM seluf{MMR_K}),
sweep AS ({sweep})
SELECT shortlist,
       CAST(COUNT(*) AS BIGINT) AS n_selected,
       CAST(SUM(CASE WHEN vec_id IN (SELECT vec_id FROM exact)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
       ROUND(SUM(CASE WHEN vec_id IN (SELECT vec_id FROM exact)
                      THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS overlap_frac
FROM sweep GROUP BY shortlist ORDER BY shortlist"""
    )


@register("mmr_recall_check", oracle=_mmr_recall_oracle())
def mmr_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MMR shortlist knob's recall gate (r9 verdict item 4): the
    32-row shortlist was the one quantization knob without measured
    evidence — this sweeps shortlist ∈ {MMR_SWEEP} against the EXACT
    greedy MMR over the full candidate set (shortlist cap beyond any
    fixture's candidate count) and reports, per shortlist, how much of
    the exact diverse selection the shortlist-bounded production form
    recovers. Same ann_recall_check posture: both sides deterministic,
    so even the approximate path's QUALITY is hash-checked, and the
    driver record carries the knob's recall curve instead of an argued
    default. Scale note: the exact reference is fixture-only evidence —
    at corpus scale the full-set greedy is exactly what the shortlist
    exists to avoid; the gate's point is measuring what the shortlist
    gives up (operators/retrieval.py::mmr_select docstring carries the
    sizing rule).

    Shared-relevance shape: the corpus relevance pass runs ONCE
    (mmr_relevance, cached); the exact greedy runs over that cached
    candidate set directly, and the three sweep pools are prefixes of
    one TakeOrdered(max shortlist) 32-row cache — 1 corpus scan total
    where the naive per-variant form paid 4 (plus a corpus-wide
    sort-limit materialization on the exact side)."""
    from decimal import ROUND_HALF_UP, Decimal

    from ..operators.retrieval import mmr_greedy_multi, mmr_relevance

    emb = load(spark, sf_dir, "embeddings")
    cand = mmr_relevance(emb).cache()
    pool = cand.orderBy(F.desc("rel"), "vec_id").limit(max(MMR_SWEEP)).cache()
    try:
        # ONE collect materializes both caches (pool's build realizes
        # cand) AND yields rel_k: the k-th highest relevance of the
        # 32-row pool read in Python is value-identical to the pre-r12
        # `limit(k).agg(min(rel))` job (ties at the boundary share the
        # value), minus one Spark job.
        rels = sorted((r["rel"] for r in pool.collect()), reverse=True)
        rk = (
            rels[MMR_K - 1]
            if len(rels) >= MMR_K
            else (rels[-1] if rels else None)
        )

        # The five greedy chains (exact, three fixed shortlists, the
        # band sentinel) are mutually independent — round 12 folds
        # them into ONE Spark job per greedy step
        # (operators/retrieval.py::mmr_greedy_multi, r11 verdict item
        # 5): each step scores every chain's candidates in a single
        # tagged-union scan (selected sets ride a one-row-per-chain
        # broadcast) and takes the per-chain argmax with one max_by
        # partial aggregate, so the gate pays MMR_K jobs total instead
        # of ~5*MMR_K driver-blocking rounds (the pre-r12
        # concurrent-thread form was job-overhead-bound AND
        # high-variance under scheduler contention; same-session A/B
        # in SCALE.md §22). The picks are identical by construction
        # and by the unchanged oracle hash.
        # The shortlist=0 sentinel: the reachable-band sizing rule
        # (r10 verdict item 5). The band pool is a filter over the
        # cached cand, so its greedy scans hit the same cache. Its
        # overlap is 1.0 BY THE BAND THEOREM (mmr_reach_band) — the
        # sweep row is the hash-checked proof that the auto-sized
        # depth dominates every fixed one.
        band_pool = (
            cand.filter(F.col("rel") >= rk - MMR_BAND) if rk is not None else cand
        )
        pools = {"exact": cand}
        for s in MMR_SWEEP:
            pools[f"s{s}"] = pool.orderBy(F.desc("rel"), "vec_id").limit(s)
        pools["s0"] = band_pool
        picks = mmr_greedy_multi(pools, k=MMR_K, lam=MMR_LAMBDA)

        # Final sweep relation composed driver-side from the (already
        # Spark-computed, <= k-row) pick lists — the pre-r12 Spark
        # join/groupBy over five createDataFrame frames was ~1-2s of
        # pure small-job overhead. overlap_frac matches both engines'
        # round(x, 6) (HALF_UP; with n_selected = k = 8 every ratio is
        # exact binary so no rounding even occurs — Decimal HALF_UP
        # covers the pool-exhausted n < 8 edge).
        exact_ids = {vec_id for _, vec_id, _ in picks["exact"]}
        rows = []
        for s in (*MMR_SWEEP, 0):
            sel = [vec_id for _, vec_id, _ in picks[f"s{s}"]]
            n_sel = len(sel)
            if n_sel == 0:
                # empty-corpus contract: a chain that selected nothing
                # contributes NO sweep row — exactly the pre-r12
                # groupBy semantics and the oracle's empty GROUP BY
                # (the r12 empty-fixture gate caught the 0/0 edge)
                continue
            n_ov = sum(1 for v in sel if v in exact_ids)
            frac = float(
                (Decimal(n_ov) / Decimal(n_sel)).quantize(
                    Decimal("0.000001"), ROUND_HALF_UP
                )
            )
            rows.append((s, n_sel, n_ov, frac))
        return spark.createDataFrame(
            sorted(rows),
            "shortlist int, n_selected long, n_overlap long, overlap_frac double",
        )
    finally:
        pool.unpersist()
        cand.unpersist()


@register("mmr_select", oracle=_mmr_oracle())
def mmr_select_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy MMR diverse top-k (Carbonell & Goldstein 1998) against
    the min-id query vector (operators/retrieval.py::mmr_select).
    Distributed stage = the broadcast-query relevance shortlist (corpus
    never shuffles, TakeOrdered {MMR_SHORTLIST} rows); the inherently
    sequential greedy loop runs over the shortlist only, with every
    score computed IN SPARK so the rounding is the engine's on both
    sides. The oracle unrolls the same {MMR_K} steps as a CTE chain."""
    emb = load(spark, sf_dir, "embeddings")
    return mmr_select(emb, k=MMR_K, lam=MMR_LAMBDA, shortlist=MMR_SHORTLIST)


def _mmr_scaled_oracle() -> str:
    """The band-parameterized greedy chain standalone: prelude + the
    reachable-band shortlist + the same unrolled steps, returning the
    (rank, vec_id, mmr_score) contract of _mmr_oracle."""
    prelude = _MMR_PRELUDE
    union = "\nUNION ALL ".join(
        f'SELECT {i} AS "rank", vec_id, sc AS mmr_score FROM selb{i}'
        for i in range(1, MMR_K + 1)
    )
    return (
        "WITH "
        + ",\n".join([prelude, _mmr_chain("b", None, band=MMR_BAND)])
        + f"\n{union}\nORDER BY \"rank\""
    )


@register("mmr_select_scaled", oracle=_mmr_scaled_oracle())
def mmr_select_scaled_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy MMR with the shortlist sized from the measured decay
    curve's own rule (r10 verdict item 5): depth = the candidates
    within mmr_reach_band(lam) = {MMR_BAND!r} relevance units of the
    k-th highest — the pool the band theorem proves reproduces the
    FULL-candidate greedy exactly, where the fixed-32 form measured
    overlap 0.75/0.50 at 60k/200k vectors. The oracle is the
    identically-band-parameterized full chain, so a green hash row IS
    the parity proof at that scale (operators/retrieval.py::
    mmr_select_scaled carries the cost-honesty note: on diffuse
    fixtures the band covers most of the corpus — exact parity is
    inherently near-linear — while concentrated production relevance
    distributions yield small pools from the same rule)."""
    emb = load(spark, sf_dir, "embeddings")
    return mmr_select_scaled(emb, k=MMR_K, lam=MMR_LAMBDA)

N_CENTROIDS = 8
KMEANS_ITERS = 2


def _micro_md5(col: Column) -> Column:
    """md5 over comma-joined micro-unit integer codes of a double array
    — the cross-engine-stable way to value-check a float vector."""
    return F.md5(
        F.array_join(
            F.transform(col, lambda x: F.round(x * 1e6).cast("bigint").cast("string")),
            ",",
        )
    )


_MICRO_SQL = "array_to_string(list_transform({v}, x -> CAST(ROUND(x * 1000000) AS BIGINT)), ',')"


@register(
    "embed_normalize",
    oracle=f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {EMB}),
n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e)
SELECT vec_id,
       ROUND(nrm, 6) AS l2_norm,
       CASE WHEN nrm > 0 THEN
         md5({_MICRO_SQL.format(v="list_transform(v, x -> x / nrm)")})
       END AS unit_md5
FROM n
""",
)
def embed_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization as a pure projection — norm plus an md5 over the
    micro-unit codes of the full unit vector, so all 64 components are
    value-checked (operators/embeddings.py)."""
    emb = load(spark, sf_dir, "embeddings")
    out = l2_normalize(emb)
    return out.select(
        "vec_id",
        F.round("l2_norm", 6).alias("l2_norm"),
        _micro_md5(F.col("unit")).alias("unit_md5"),
    )


@register(
    "embed_quantize",
    oracle=f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {EMB}),
s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
q AS (SELECT vec_id, v, scale,
             list_transform(v, x -> CAST(ROUND(x / scale) AS INT)) AS qv
      FROM s WHERE scale > 0)
SELECT vec_id,
       ROUND(scale, 9) AS q_scale,
       md5(array_to_string(qv, ',')) AS q_md5,
       ROUND(list_sum(list_transform(generate_series(1, len(v)),
                                     i -> pow(v[i] - qv[i] * scale, 2)))
             / len(v), 9) AS q_mse
FROM q
""",
)
def embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization: integer codes hashed exactly, scale
    and reconstruction MSE rounded (operators/embeddings.py). Codes are
    bit-stable across engines, so this checks the quantizer itself, not
    a float shadow of it."""
    emb = load(spark, sf_dir, "embeddings")
    out = quantize_int8(emb).filter(F.col("q_scale") > 0)
    return out.select(
        "vec_id",
        F.round("q_scale", 9).alias("q_scale"),
        F.md5(
            F.array_join(F.transform("q_vec", lambda q: q.cast("string")), ",")
        ).alias("q_md5"),
        F.round("q_mse", 9).alias("q_mse"),
    )


def _km_dist(a: str, b: str) -> str:
    return (
        f"list_inner_product({a}, {a}) - 2 * list_inner_product({a}, {b})"
        f" + list_inner_product({b}, {b})"
    )


def _km_assign_cte(cents: str, out: str) -> str:
    d = _km_dist("e.v", "c.cv")
    return f"""{out} AS (
    SELECT vec_id, v, centroid_id, dist FROM (
        SELECT e.vec_id, e.v, c.centroid_id, {d} AS dist,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {d}, c.centroid_id) AS rn
        FROM e CROSS JOIN {cents} c) WHERE rn = 1)"""


def _km_update_cte(assigned: str, out: str) -> str:
    return f"""{out} AS (
    SELECT centroid_id, list(m ORDER BY dim) AS cv FROM (
        SELECT centroid_id, dim, ROUND(AVG(v[dim]), 6) AS m
        FROM {assigned}, unnest(generate_series(1, {EMBED_DIM})) AS t(dim)
        GROUP BY centroid_id, dim) GROUP BY centroid_id)"""


def _kmeans_oracle(iters: int) -> str:
    ctes = [
        f"e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {EMB})",
        f"c0 AS (SELECT CAST(vec_id AS INT) AS centroid_id, v AS cv FROM e "
        f"WHERE vec_id < {N_CENTROIDS})",
    ]
    for i in range(iters):
        ctes.append(_km_assign_cte(f"c{i}", f"a{i}"))
        ctes.append(_km_update_cte(f"a{i}", f"c{i + 1}"))
    ctes.append(_km_assign_cte(f"c{iters}", "af"))
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT vec_id, centroid_id, ROUND(dist, 6) AS sq_dist FROM af"
    )


@register("kmeans_clusters", oracle=_kmeans_oracle(KMEANS_ITERS))
def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (deterministic seeding, 6dp-rounded centroid
    updates so the iterate is bit-stable) — the iterative-algorithm
    pattern on Spark: broadcast argmin assign + explode-by-dimension
    mean per round, only the k x dim centroid frame crosses rounds
    (operators/embeddings.py::kmeans_iterate). Oracle: the same
    iterations unrolled as chained CTEs."""
    emb = load(spark, sf_dir, "embeddings")
    return kmeans_iterate(emb, k=N_CENTROIDS, iters=KMEANS_ITERS)


@register(
    "centroid_assign",
    oracle=f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {EMB}),
c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < {N_CENTROIDS}),
d AS (
    SELECT e.vec_id, c.centroid_id,
           list_inner_product(e.v, e.v) - 2 * list_inner_product(e.v, c.cv)
             + list_inner_product(c.cv, c.cv) AS dist
    FROM e CROSS JOIN c
)
SELECT vec_id, centroid_id, ROUND(dist, 6) AS sq_dist
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
      FROM d)
WHERE rn = 1
""",
)
def centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment (the k-means / IVF-training inner
    step): broadcast K centroids, argmin of K codegen'd distances per
    row, deterministic tiebreak (operators/embeddings.py). The corpus
    side never shuffles for the join."""
    emb = load(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )
    return assign_centroids(emb, centroids)


# --- Johnson-Lindenstrauss random projection -------------------------------

from ..operators.embeddings import jl_project, jl_signs  # noqa: E402
from ..operators.similarity import as_double, norm  # noqa: E402

JL_OUT = 16
JL_SEED = 9000


def _jl_oracle() -> str:
    """The same ±1 sign matrix as literals; proj components y_i are
    named CTE columns so the norm sum references each exactly once, and
    the squared sum parenthesizes left-to-right to match Spark's
    aggregate fold."""
    scale = JL_OUT ** 0.5
    ys = ", ".join(
        f"list_inner_product(v, {signs}) / {scale!r} AS y{i}"
        for i, signs in enumerate(jl_signs(EMBED_DIM, JL_OUT, JL_SEED))
    )
    sq = ""
    for i in range(JL_OUT):
        sq = f"({sq} + y{i} * y{i})" if sq else f"(0.0 + y0 * y0)"
    return f"""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {EMB}),
proj AS (SELECT vec_id, v, {ys} FROM c)
SELECT vec_id,
       ROUND(sqrt(list_inner_product(v, v)), 6) AS orig_norm,
       ROUND(sqrt({sq}), 6) AS proj_norm,
       ROUND(sqrt({sq}) / sqrt(list_inner_product(v, v)), 6) AS norm_ratio
FROM proj
ORDER BY vec_id
"""


@register("jl_project_norms", oracle=_jl_oracle())
def jl_project_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection dimensionality reduction (Johnson-Lindenstrauss
    with Achlioptas ±1 signs, operators/embeddings.py::jl_project) —
    the pre-ANN shrink step (64 -> 16 here; 1024 -> 64 in production).
    Per-vector norm preservation is the checked signal: orig/projected
    norms and their ratio, 6dp. Pure codegen projection, no shuffle —
    parquet-scan-bound at any corpus size; the sign matrix is literals
    on both engines."""
    emb = load(spark, sf_dir, "embeddings")
    proj = jl_project(
        emb, vec_col="embedding", dim=EMBED_DIM, out_dim=JL_OUT, seed=JL_SEED
    )
    v = as_double("embedding")
    onorm = norm(v)
    pnorm = norm(F.col("projected"))
    return proj.select(
        "vec_id",
        F.round(onorm, 6).alias("orig_norm"),
        F.round(pnorm, 6).alias("proj_norm"),
        F.round(pnorm / onorm, 6).alias("norm_ratio"),
    ).orderBy("vec_id")
# The fixture vectors have max pairwise cosine ~0.51 (sf0.01) / ~0.60
# (sf0.1); 0.45 yields a small non-empty pair set at both SFs so the
# operator's output is actually exercised, not vacuously empty.
NEAR_DUP_THRESHOLD = 0.45

_COS = (
    "ROUND(list_inner_product(q.v, c.v) / "
    "(sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v))), 6)"
)


@register(
    "cosine_topk",
    oracle=f"""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {EMB}),
q AS (SELECT vec_id, v FROM c WHERE vec_id % {QUERY_MOD} = 0)
SELECT query_id, neighbor_id, cos, rn FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_COS} AS cos,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY {_COS} DESC, c.vec_id) AS rn
    FROM c CROSS JOIN q
    WHERE q.vec_id <> c.vec_id
) WHERE rn <= {TOP_K}
""",
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k: broadcast query set, corpus never
    shuffles for the join, WindowGroupLimit keeps O(k) state per query
    (operators/similarity.py)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    return brute_force_topk(emb, queries, k=TOP_K)


def _lsh_band_sql(source: str) -> str:
    """UNION ALL of (id, band_id, band_val) rows — DuckDB's equivalent of
    the band explode in ``dedup.band_join``."""
    selects = [
        f"SELECT vec_id, {b} AS band_id, (sig >> {b * LSH_BAND_BITS}) & {_LSH_MASK} AS band_val FROM {source}"
        for b in range(_LSH_BANDS)
    ]
    return " UNION ALL ".join(selects)


@register(
    "embedding_near_dups",
    oracle=f"""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {EMB}),
sigs AS (SELECT vec_id, v, {_lsh_sig_sql("v")} AS sig FROM c),
bands AS ({_lsh_band_sql("sigs")}),
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.vec_id < b.vec_id
)
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
def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs at scale: hyperplane-LSH band candidates
    + exact-cosine verify on candidates only (operators/similarity.py::
    banded_near_dup_pairs, bands sliced from one contiguous signature:
    plane_stride = band width). Shuffle volume is docs×bands, never
    docs² — the quadratic ``cosine_pairs_above`` form is demoted to the
    test-only recall baseline. The oracle reproduces the deterministic
    LCG hyperplanes as SQL literals, so this approximate operator is
    still hash-checked end-to-end."""
    emb = load(spark, sf_dir, "embeddings")
    return banded_near_dup_pairs(
        emb, dim=EMBED_DIM, threshold=NEAR_DUP_THRESHOLD,
        band_bits=LSH_BAND_BITS, n_bands=_LSH_BANDS, plane_stride=LSH_BAND_BITS,
    )


@register(
    "ann_topk_lsh",
    oracle=f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {EMB}),
sigs AS (SELECT vec_id, v, {_lsh_sig_sql("v")} AS sig FROM e),
q AS (SELECT * FROM sigs WHERE vec_id % {QUERY_MOD} = 0)
SELECT query_id, neighbor_id, cos, rn FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_QCOS} AS cos,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY {_QCOS} DESC, c.vec_id) AS rn
    FROM sigs c JOIN q
      ON ({_ANN_BAND_MATCH}) AND q.vec_id <> c.vec_id
) WHERE rn <= {TOP_K}
""",
)
def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH band candidates +
    exact re-rank (operators/similarity.py::ann_topk). Hash-checked: the
    deterministic LCG hyperplanes reproduce as literal matrices in the
    oracle, making even the approximate path value-verified; recall vs
    the exact ``cosine_topk`` baseline is asserted in tests."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    return ann_topk(emb, queries, dim=EMBED_DIM, k=TOP_K, n_bits=LSH_BITS, band_bits=LSH_BAND_BITS)
_RCOS = (
    "ROUND(list_inner_product(qv, v) / "
    "(sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(v, v))), 6)"
)


@register(
    "ivf_ann_topk",
    oracle=f"""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {EMB}),
cent AS (SELECT vec_id AS cid, v AS cv FROM c WHERE vec_id % {CENTROID_MOD} = 0),
asg AS (
    SELECT vec_id, v, cid FROM (
        SELECT c.vec_id, c.v, cent.cid,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                                  ORDER BY {_CCOS_C} DESC, cent.cid) AS rn
        FROM c CROSS JOIN cent) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id % {QUERY_MOD} = 0),
probe AS (
    SELECT query_id, qv, cid FROM (
        SELECT q.query_id, q.qv, cent.cid,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {_CCOS_Q} DESC, cent.cid) AS rn
        FROM q CROSS JOIN cent) WHERE rn <= {NPROBE})
SELECT query_id, neighbor_id, cos, rn FROM (
    SELECT p.query_id, a.vec_id AS neighbor_id, {_RCOS} AS cos,
           ROW_NUMBER() OVER (PARTITION BY p.query_id
                              ORDER BY {_RCOS} DESC, a.vec_id) AS rn
    FROM probe p JOIN asg a ON a.cid = p.cid
    WHERE a.vec_id <> p.query_id
) WHERE rn <= {TOP_K}
""",
)
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN: deterministic coarse codebook (every
    ``CENTROID_MOD``-th vector), corpus inverted into cells, queries
    probe their NPROBE nearest cells, exact re-rank inside cells only
    (operators/similarity.py::ivf_topk). Unlike the hyperplane-LSH
    path this one is fully deterministic, hence oracle-checked; recall
    vs the exact baseline is asserted in tests."""
    emb = load(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % CENTROID_MOD == 0)
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    return ivf_topk(emb, queries, centroids, k=TOP_K, nprobe=NPROBE)
_PQ_DIST = (
    "ROUND(list_sum([ (s.sv[i] - cent.cv[i]) * (s.sv[i] - cent.cv[i]) "
    f"for i in generate_series(1, {_PQ_LEN}) ]), 6)"
)


@register(
    "pq_codes",
    oracle=f"""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {EMB}),
m AS (SELECT unnest(generate_series(1, {PQ_SUB})) AS m),
sub AS (
    SELECT vec_id, m, list_slice(v, (m - 1) * {_PQ_LEN} + 1, m * {_PQ_LEN}) AS sv
    FROM c, m
),
cent AS (
    SELECT vec_id AS code, m, list_slice(v, (m - 1) * {_PQ_LEN} + 1, m * {_PQ_LEN}) AS cv
    FROM c, m WHERE vec_id % {CENTROID_MOD} = 0
)
SELECT vec_id, CAST(subspace AS BIGINT) AS subspace, code, dist FROM (
    SELECT s.vec_id, s.m AS subspace, cent.code, {_PQ_DIST} AS dist,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {_PQ_DIST} ASC, cent.code) AS rn
    FROM sub s JOIN cent ON s.m = cent.m
) WHERE rn = 1
""",
)
def pq_codes_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes: every vector compressed to PQ_SUB
    nearest-sub-centroid ids (operators/similarity.py::pq_codes;
    deterministic codebook = every CENTROID_MOD-th vector, as IVF).
    Hash-checked end-to-end including the per-slice L2 distances."""
    emb = load(spark, sf_dir, "embeddings")
    codebook = emb.filter(F.col("vec_id") % CENTROID_MOD == 0)
    return pq_codes(emb, codebook, dim=EMBED_DIM, n_sub=PQ_SUB)


_PQ_QPART = (
    "list_sum([ (q.qv[i] - cent.cv[i]) * (q.qv[i] - cent.cv[i]) "
    f"for i in generate_series(1, {_PQ_LEN}) ])"
)


@register(
    "pq_ann_topk",
    oracle=f"""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {EMB}),
m AS (SELECT unnest(generate_series(1, {PQ_SUB})) AS m),
sub AS (
    SELECT vec_id, m, list_slice(v, (m - 1) * {_PQ_LEN} + 1, m * {_PQ_LEN}) AS sv
    FROM c, m
),
cent AS (
    SELECT vec_id AS code, m, list_slice(v, (m - 1) * {_PQ_LEN} + 1, m * {_PQ_LEN}) AS cv
    FROM c, m WHERE vec_id % {CENTROID_MOD} = 0
),
codes AS (
    SELECT vec_id, m, code FROM (
        SELECT s.vec_id, s.m, cent.code,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                                  ORDER BY {_PQ_DIST} ASC, cent.code) AS rn
        FROM sub s JOIN cent ON s.m = cent.m
    ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, m, sv AS qv FROM sub WHERE vec_id % {QUERY_MOD} = 0),
tbl AS (
    SELECT q.query_id, q.m, cent.code, {_PQ_QPART} AS part
    FROM q JOIN cent ON q.m = cent.m
),
summed AS (
    SELECT t.query_id, k.vec_id AS neighbor_id, ROUND(SUM(t.part), 6) AS adist
    FROM codes k JOIN tbl t ON k.m = t.m AND k.code = t.code
    WHERE k.vec_id <> t.query_id
    GROUP BY t.query_id, k.vec_id
)
SELECT query_id, neighbor_id, adist, rn FROM (
    SELECT query_id, neighbor_id, adist,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY adist ASC, neighbor_id) AS rn
    FROM summed
) WHERE rn <= {TOP_K}
""",
)
def pq_ann_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k (operators/similarity.py::
    pq_ann_topk): queries stay full-precision, the corpus is searched
    purely through its PQ codes via a broadcast distance table — the
    billion-scale ADC scan. Deterministic codebook -> fully
    hash-checked, like ivf_ann_topk."""
    emb = load(spark, sf_dir, "embeddings")
    codebook = emb.filter(F.col("vec_id") % CENTROID_MOD == 0)
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    return pq_ann_topk(emb, queries, codebook, dim=EMBED_DIM, n_sub=PQ_SUB, k=TOP_K)
