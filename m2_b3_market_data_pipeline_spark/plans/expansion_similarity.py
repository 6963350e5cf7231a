"""Similarity-search and multimodal expansion queries.

Embedding queries run on the ``embeddings`` fixture (64-dim float
vectors). Exact paths are oracle-checked against DuckDB
``list_inner_product`` over DOUBLE[] (both engines sum left-to-right in
double precision; results rounded to 6dp). Approximate (LSH) and
mapInPandas paths are rows-only by nature — their exact counterparts are
the oracle-checked baselines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import fan_out
from ..operators.multimodal import attach_binary, extract_features, sample_frames
from ..operators.similarity import (
    _hyperplane,
    ann_topk,
    banded_near_dup_pairs,
    brute_force_topk,
    ivf_topk,
    pq_ann_topk,
    pq_codes,
)
from .registry import load, register
from .sql_fragments import EMB

QUERY_MOD = 100  # queries = vec_id % 100 == 0
TOP_K = 5
# The fixture vectors have max pairwise cosine ~0.51 (sf0.01) / ~0.60
# (sf0.1); 0.45 yields a small non-empty pair set at both SFs so the
# operator's output is actually exercised, not vacuously empty.
NEAR_DUP_THRESHOLD = 0.45
EMBED_DIM = 64

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


LSH_BITS = 16
LSH_BAND_BITS = 4
_LSH_BANDS = LSH_BITS // LSH_BAND_BITS
_LSH_MASK = (1 << LSH_BAND_BITS) - 1


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


_QCOS = (
    "ROUND(list_inner_product(q.v, c.v) / "
    "(sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v))), 6)"
)
_ANN_BAND_MATCH = " OR ".join(
    f"((c.sig >> {b * LSH_BAND_BITS}) & {_LSH_MASK}) = ((q.sig >> {b * LSH_BAND_BITS}) & {_LSH_MASK})"
    for b in range(_LSH_BANDS)
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


@register(
    "multimodal_meta",
    oracle="""
SELECT doc_id,
       CAST(strlen(text) AS INT)  AS byte_len,
       md5(text)                  AS content_md5,
       sha256(text)               AS content_sha256,
       CASE WHEN strlen(text) > 300 THEN 'large' ELSE 'small' END AS size_class
FROM documents
""",
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: payload as opaque bytes + typed metadata
    (byte length, content hashes, size class). The fixture payload is
    utf-8 text; the schema is the one real images/audio would use
    (operators/multimodal.py)."""
    docs = load(spark, sf_dir, "documents")
    wrapped = attach_binary(docs)
    return wrapped.select(
        "doc_id",
        F.col("meta.byte_len").alias("byte_len"),
        F.col("meta.content_md5").alias("content_md5"),
        F.sha2(F.col("content"), 256).alias("content_sha256"),
        F.when(F.col("meta.byte_len") > 300, F.lit("large")).otherwise(F.lit("small")).alias("size_class"),
    )


def _bin_count_sql(bin_idx: int) -> str:
    """COUNT FILTER for bytes in histogram bin ``bin_idx`` (16 bins over
    0-255) over the per-byte relation ``v(doc_id, val)`` — true byte
    domain via hex pairs, exact for any input including multi-byte
    codepoints (previously a regex char-class count with an ASCII-only
    caveat)."""
    return f"COUNT(*) FILTER (val // 16 = {bin_idx})"


@register(
    "multimodal_features",
    oracle=f"""
WITH src AS (
    SELECT doc_id, text, hex(encode(text)) AS h,
           CAST(octet_length(encode(text)) AS BIGINT) AS L
    FROM documents WHERE text IS NOT NULL
),
v AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, CAST(L AS INT)),
                  i -> CAST(('0x' || substr(h, 2 * i - 1, 2)) AS BIGINT))) AS val
    FROM src
),
c AS (
    SELECT doc_id,
           {_bin_count_sql(2)} AS c2,
           {_bin_count_sql(6)} AS c6,
           {_bin_count_sql(7)} AS c7
    FROM v GROUP BY doc_id
)
SELECT s.doc_id,
       CAST(s.L AS INT) AS byte_len,
       md5(s.text)      AS content_md5,
       CASE WHEN s.L = 0 THEN 0.0 ELSE ROUND(COALESCE(c.c2, 0) * 1.0 / s.L, 6) END AS f2,
       CASE WHEN s.L = 0 THEN 0.0 ELSE ROUND(COALESCE(c.c6, 0) * 1.0 / s.L, 6) END AS f6,
       CASE WHEN s.L = 0 THEN 0.0 ELSE ROUND(COALESCE(c.c7, 0) * 1.0 / s.L, 6) END AS f7,
       16               AS feature_dim
FROM src s LEFT JOIN c USING (doc_id)
""",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched byte-level feature extraction via mapInPandas — the
    decode/featurize stage shape for real media, with the deterministic
    byte-histogram standing in for the (stubbed) image decode
    (operators/multimodal.py). Hash-checked: the oracle reproduces the
    histogram in the TRUE byte domain (hex pairs of the utf-8
    encoding), exact for any input including multi-byte codepoints;
    bins 2/6/7 are the ASCII-populated ones (space/punct and letters).
    NULL payloads are excluded by the decode contract (can't featurize
    nothing); an empty payload yields the all-zero histogram."""
    docs = load(spark, sf_dir, "documents")
    wrapped = attach_binary(docs)
    feats = extract_features(wrapped)
    return feats.select(
        "doc_id",
        "byte_len",
        "content_md5",
        F.round(F.element_at("feature", 3), 6).alias("f2"),
        F.round(F.element_at("feature", 7), 6).alias("f6"),
        F.round(F.element_at("feature", 8), 6).alias("f7"),
        F.size("feature").alias("feature_dim"),
    )


# Shared frame-sampling CTE chain (ends in ``fr``): the byte-window
# stand-in for the stubbed codec decode (4 evenly-spaced 16-byte
# frames, payloads >= 64 bytes). ONE definition — the frame_dedup
# oracle (plans/dedup_quality.py) folds the same relation, so the
# sampling stand-in cannot drift between the two checks.
# Byte-domain: offsets/strides are BYTE offsets over hex(encode(text))
# (2 hex chars per byte), and frame_hash is md5 of the frame's hex —
# matching operators/multimodal.py::sample_frames exactly for ANY
# input, multi-byte codepoints included (no ASCII caveat).
FRAMES_CTE_SQL = """sized AS (
    SELECT doc_id, hex(encode(text)) AS h,
           CAST(octet_length(encode(text)) AS BIGINT) AS len
    FROM documents WHERE octet_length(encode(text)) >= 64
),
f AS (SELECT doc_id, len, h, unnest([0, 1, 2, 3]) AS frame_idx FROM sized),
fr AS (
    SELECT doc_id, frame_idx,
           md5(substring(h, frame_idx * ((len - 16) // 3) * 2 + 1, 32)) AS frame_hash
    FROM f)"""


@register(
    "multimodal_frames",
    oracle=f"""
WITH {FRAMES_CTE_SQL}
SELECT doc_id, frame_idx, frame_hash FROM fr
""",
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads: 1 row → 4 evenly-spaced
    fixed-size frames via Arrow-batched mapInPandas, the video
    frame-extraction pipeline shape (operators/multimodal.py::
    sample_frames; the codec decode is stubbed, the byte-window slice is
    the deterministic stand-in). fan_out spreads the narrow scan before
    the per-row Python work. The frame digest is md5 over the frame's
    hex encoding (portable-digest form, like the portable-hash Bloom),
    so the DuckDB oracle slices hex(encode(text)) and is byte-exact for
    any input — multi-byte codepoints included, no ASCII caveat."""
    docs = load(spark, sf_dir, "documents")
    return sample_frames(fan_out(attach_binary(docs)), n_frames=4, frame_bytes=16)


PQ_SUB = 4  # subspaces; 64-dim -> 4 slices of 16 dims
_PQ_LEN = EMBED_DIM // PQ_SUB
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
