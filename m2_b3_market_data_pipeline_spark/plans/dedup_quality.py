"""Near-duplicate and semantic-dedup quality queries: banded-LSH
recall evidence, SemDeDup (batch + incremental delta-vs-corpus),
duplicated-span coverage and removal.

- ``semdedup_prune``: SemDeDup (Abbas et al. 2023) — k-means cluster the
  embedding space, prune vectors cosine-close to a lower-id cluster-mate
  WITHIN their cluster only (pairs are n²/k, never n²). The oracle
  unrolls the same deterministic k-means iterations as
  ``kmeans_clusters`` and replays the in-cluster prune rule.
- ``incremental_semdedup``: the delta-vs-corpus form behind the
  streaming sink (streaming/semdedup_sink.py) — deterministic fixed
  coarse codebook, so even the "streaming" semantics hash-check.
- ``dup_ngram_spans`` / ``dup_span_removal``: cross-document
  duplicated-span coverage and the removal transform at n-gram
  granularity (the Lee et al. 2022 exact-substring-dedup pair).
- ``lsh_recall_check``: recall of MinHash+LSH near-dedup against the
  EXACT n-gram Jaccard ground truth at the same threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import dup_ngram_coverage
from ..operators.embeddings import assign_with_vector, semdedup, semdedup_incremental
from .lexical_dedup import minhash_pairs_sql
from .retrieval_quality import KMEANS_ITERS, N_CENTROIDS, _km_assign_cte, _km_update_cte
from .registry import load, register
from .sql_fragments import EMB, TK

# Fixture max pairwise cosine is ~0.51 (sf0.01) / ~0.60 (sf0.1) — same
# rationale as retrieval_quality.NEAR_DUP_THRESHOLD: a small
# non-empty prune set at both SFs, so the operator is exercised. Shared
# by the batch SemDeDup prune and the incremental delta-vs-corpus form.
SEM_THRESHOLD = 0.45
DUP_NGRAM_N = 5
DUP_NGRAM_MIN_DF = 2
DELTA_MOD = 4  # delta = every 4th vector; corpus = the rest
SEM_CENTROID_MOD = 50  # deterministic coarse codebook: every 50th vector

_SEMCOS = (
    "ROUND(list_inner_product(a.v, b.v) / "
    "(sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 6)"
)
_SEM_DIST = (
    "list_inner_product({a}, {a}) - 2 * list_inner_product({a}, {b})"
    " + list_inner_product({b}, {b})"
)
_SEM_COS = (
    "ROUND(list_inner_product({a}, {b}) / "
    "(sqrt(list_inner_product({a}, {a})) * sqrt(list_inner_product({b}, {b}))), 6)"
)

def _semdedup_oracle() -> str:
    """The kmeans_clusters CTE chain (same deterministic seeding and
    6dp-rounded updates) + the in-cluster lower-id prune rule."""
    ctes = [
        f"e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {EMB})",
        f"c0 AS (SELECT CAST(vec_id AS INT) AS centroid_id, v AS cv FROM e "
        f"WHERE vec_id < {N_CENTROIDS})",
    ]
    for i in range(KMEANS_ITERS):
        ctes.append(_km_assign_cte(f"c{i}", f"a{i}"))
        ctes.append(_km_update_cte(f"a{i}", f"c{i + 1}"))
    ctes.append(_km_assign_cte(f"c{KMEANS_ITERS}", "af"))
    ctes.append(
        f"""pr AS (
    SELECT b.vec_id, TRUE AS pruned
    FROM af a JOIN af b
      ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
    WHERE {_SEMCOS} >= {SEM_THRESHOLD}
    GROUP BY b.vec_id)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT w.vec_id, w.centroid_id, COALESCE(p.pruned, FALSE) AS pruned
FROM af w LEFT JOIN pr p ON p.vec_id = w.vec_id
ORDER BY w.vec_id"""
    )


@register("semdedup_prune", oracle=_semdedup_oracle())
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup): k-means clusters bound the pairwise
    cosine to n²/k in-cluster pairs; a vector is pruned iff a lower-id
    cluster-mate is cosine >= {τ} to it (deterministic representative
    rule). Composes the oracle-checked ``kmeans_clusters`` iterate with
    an in-cluster self-join on centroid_id
    (operators/embeddings.py::semdedup)."""
    emb = load(spark, sf_dir, "embeddings")
    return semdedup(
        emb, k=N_CENTROIDS, iters=KMEANS_ITERS, threshold=SEM_THRESHOLD
    )


_K = DUP_NGRAM_N


@register(
    "dup_ngram_spans",
    oracle=f"""
WITH t AS (SELECT doc_id, {TK} AS tk FROM documents),
base AS (SELECT doc_id, CAST(COALESCE(len(tk), 0) AS BIGINT) AS n_tok, tk FROM t),
g AS (
    SELECT doc_id, pos,
           array_to_string(list_slice(tk, pos, pos + {_K - 1}), ' ') AS gram
    FROM (SELECT doc_id, tk,
                 unnest(generate_series(1, CAST(len(tk) - {_K - 1} AS INT))) AS pos
          FROM base WHERE n_tok >= {_K})),
dup AS (
    SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
    GROUP BY gram HAVING COUNT(*) >= {DUP_NGRAM_MIN_DF}),
occ AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
cov AS (
    SELECT doc_id,
           CAST(COUNT(DISTINCT pos) AS BIGINT) AS dup_positions,
           CAST(COUNT(DISTINCT idx) AS BIGINT) AS covered_tokens
    FROM (SELECT doc_id, pos,
                 unnest(generate_series(pos, pos + {_K - 1})) AS idx
          FROM occ)
    GROUP BY doc_id)
SELECT b.doc_id, b.n_tok,
       COALESCE(c.dup_positions, 0) AS dup_positions,
       COALESCE(c.covered_tokens, 0) AS covered_tokens,
       CASE WHEN b.n_tok > 0
            THEN ROUND(COALESCE(c.covered_tokens, 0) * 1.0 / b.n_tok, 6)
            ELSE 0.0 END AS dup_frac
FROM base b LEFT JOIN cov c ON c.doc_id = b.doc_id
ORDER BY b.doc_id
""",
)
def dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span coverage per document: {_K}-token grams repeated
    verbatim across >= {DUP_NGRAM_MIN_DF} docs, with the covered token
    indices interval-unioned (overlapping windows count once) — the
    position-aware dedup signal of Lee et al. 2022
    (operators/dedup.py::dup_ngram_coverage)."""
    docs = load(spark, sf_dir, "documents")
    return dup_ngram_coverage(docs, n=DUP_NGRAM_N, min_df=DUP_NGRAM_MIN_DF)
@register(
    "incremental_semdedup",
    oracle=f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {EMB}),
cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % {SEM_CENTROID_MOD} = 0),
corp AS (SELECT vec_id, v FROM e WHERE vec_id % {DELTA_MOD} <> 0),
delta AS (SELECT vec_id, v FROM e WHERE vec_id % {DELTA_MOD} = 0),
casg AS (
    SELECT vec_id, v, cid FROM (
        SELECT c.vec_id, c.v, cent.cid,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                   ORDER BY {_SEM_DIST.format(a="c.v", b="cent.cv")}, cent.cid) AS rn
        FROM corp c CROSS JOIN cent) WHERE rn = 1),
dasg AS (
    SELECT vec_id, v, cid FROM (
        SELECT d.vec_id, d.v, cent.cid,
               ROW_NUMBER() OVER (PARTITION BY d.vec_id
                   ORDER BY {_SEM_DIST.format(a="d.v", b="cent.cv")}, cent.cid) AS rn
        FROM delta d CROSS JOIN cent) WHERE rn = 1),
hits AS (
    SELECT DISTINCT d.vec_id
    FROM dasg d JOIN casg c ON c.cid = d.cid AND c.vec_id <> d.vec_id
    WHERE {_SEM_COS.format(a="d.v", b="c.v")} >= {SEM_THRESHOLD})
SELECT d.vec_id, d.cid AS centroid_id, (h.vec_id IS NOT NULL) AS pruned
FROM dasg d LEFT JOIN hits h ON h.vec_id = d.vec_id
ORDER BY d.vec_id
""",
)
def incremental_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-vs-corpus semantic dedup (operators/embeddings.py::
    semdedup_incremental): every {DELTA_MOD}-th vector arrives as the
    delta and is pruned iff cosine-similar (>= {SEM_THRESHOLD}) to an
    already-admitted corpus vector in its coarse cell. The fixed
    every-{SEM_CENTROID_MOD}-th-vector codebook keeps the whole path
    deterministic, hence hash-checked — unlike trained k-means. Corpus
    never pairs with itself; the verify join is cell-local."""
    emb = load(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % SEM_CENTROID_MOD == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )
    corpus = assign_with_vector(
        emb.filter(F.col("vec_id") % DELTA_MOD != 0), centroids
    )
    delta = emb.filter(F.col("vec_id") % DELTA_MOD == 0)
    # no cosmetic final orderBy (r15, guide §2.4): the driver hash is
    # order-insensitive; the oracle keeps its DuckDB-side ORDER BY
    return semdedup_incremental(delta, corpus, centroids, threshold=SEM_THRESHOLD)

_DN = DUP_NGRAM_N


@register(
    "dup_span_removal",
    oracle=f"""
WITH t AS (SELECT doc_id, {TK} AS tk FROM documents),
base AS (SELECT doc_id, CAST(COALESCE(len(tk), 0) AS BIGINT) AS n_tok, tk FROM t),
g AS (
    SELECT doc_id, pos,
           array_to_string(list_slice(tk, pos, pos + {_DN - 1}), ' ') AS gram
    FROM (SELECT doc_id, tk,
                 unnest(generate_series(1, CAST(len(tk) - {_DN - 1} AS INT))) AS pos
          FROM base WHERE n_tok >= {_DN})),
dup AS (
    SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
    GROUP BY gram HAVING COUNT(*) >= {DUP_NGRAM_MIN_DF}),
occ AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
cov AS (
    SELECT DISTINCT doc_id, idx
    FROM (SELECT doc_id, unnest(generate_series(pos, pos + {_DN - 1})) AS idx
          FROM occ)),
toks AS (
    SELECT b.doc_id, p, b.tk[p] AS tok
    FROM base b, unnest(generate_series(1, CAST(b.n_tok AS INT))) AS s(p)),
kept AS (
    SELECT tk2.doc_id, tk2.p, tk2.tok
    FROM toks tk2 LEFT JOIN cov c ON c.doc_id = tk2.doc_id AND c.idx = tk2.p
    WHERE c.idx IS NULL),
agg AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
           string_agg(tok, ' ' ORDER BY p) AS txt
    FROM kept GROUP BY doc_id)
SELECT b.doc_id, b.n_tok,
       COALESCE(a.kept_tokens, CAST(0 AS BIGINT)) AS kept_tokens,
       COALESCE(a.txt, '') AS clean_text
FROM base b LEFT JOIN agg a ON a.doc_id = b.doc_id
ORDER BY b.doc_id
""",
)
def dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup, removal form (operators/dedup.py::
    remove_dup_spans): cut every token covered by a {_DN}-gram that
    repeats verbatim across >= {DUP_NGRAM_MIN_DF} docs and emit the
    cleaned token stream — the transform `dup_ngram_spans` only
    measures. Hash-checked INCLUDING the rebuilt clean_text strings,
    so the per-doc covered-index sets and the map-side indexed filter
    must agree with the oracle's positional anti-join token-for-token.
    """
    from ..operators.dedup import remove_dup_spans

    docs = load(spark, sf_dir, "documents")
    return remove_dup_spans(docs, n=DUP_NGRAM_N, min_df=DUP_NGRAM_MIN_DF)

LSH_RECALL_THRESHOLD = 0.5


@register(
    "lsh_recall_check",
    oracle=f"""
WITH {minhash_pairs_sql(threshold=LSH_RECALL_THRESHOLD)},
exact_ex AS (
    SELECT doc_id, len(sh) AS set_size, unnest(sh) AS shingle FROM sigs),
exact_inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           a.set_size AS size_a, b.set_size AS size_b, COUNT(*) AS inter
    FROM exact_ex a JOIN exact_ex b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2, 3, 4),
exact_pairs AS (
    SELECT id_a, id_b FROM exact_inter
    WHERE ROUND(CAST(inter AS DOUBLE) / CAST(size_a + size_b - inter AS DOUBLE), 6)
          >= {LSH_RECALL_THRESHOLD})
SELECT CAST((SELECT COUNT(*) FROM exact_pairs) AS BIGINT) AS n_true_pairs,
       CAST((SELECT COUNT(*) FROM mh_pairs) AS BIGINT) AS n_found_pairs,
       -- recall over ZERO true pairs is undefined -> NULL on both
       -- engines (empty-input gate; ANSI division would throw)
       CASE WHEN (SELECT COUNT(*) FROM exact_pairs) > 0 THEN
            ROUND((SELECT COUNT(*) FROM mh_pairs) * 1.0 /
                  (SELECT COUNT(*) FROM exact_pairs), 6) END AS recall
""",
)
def lsh_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of MinHash+LSH near-dedup against the EXACT n-gram
    Jaccard ground truth at the same threshold — the dedup-family twin
    of ``ann_recall_check``. The LSH path's Jaccard verify is exact on
    candidates, so found pairs are a subset of the truth set and the
    single recall number is the banding's candidate-recall. Both sides
    are deterministic, so the TRUE recall hash-checks against DuckDB —
    banded-LSH quality evidence in the driver's correctness record, not
    just pytest. The shingle sets are computed once (the signature
    chain's own sh CTE feeds the exact side too)."""
    from ..operators.dedup import ngram_jaccard_pairs

    docs = load(spark, sf_dir, "documents")
    found = minhash_dedup_pairs_shared(docs)
    truth = ngram_jaccard_pairs(docs, threshold=LSH_RECALL_THRESHOLD)
    f_cnt = found.agg(F.count("*").alias("n_found_pairs"))
    t_cnt = truth.agg(F.count("*").alias("n_true_pairs"))
    out = t_cnt.crossJoin(F.broadcast(f_cnt)).select(
        "n_true_pairs",
        "n_found_pairs",
        # recall over zero true pairs is undefined -> NULL (the
        # empty-input gate: ANSI division on the empty corpus threw)
        F.when(
            F.col("n_true_pairs") > 0,
            F.round(F.col("n_found_pairs") / F.col("n_true_pairs"), 6),
        ).alias("recall"),
    )
    out._cached_frames = getattr(found, "_cached_frames", [])
    return out


def minhash_dedup_pairs_shared(docs: DataFrame) -> DataFrame:
    """minhash_dedup_pairs at the recall threshold, cache handles
    propagated (see operators/dedup.py cache-scoping contract)."""
    from ..operators.dedup import minhash_dedup_pairs

    return minhash_dedup_pairs(docs, threshold=LSH_RECALL_THRESHOLD)

