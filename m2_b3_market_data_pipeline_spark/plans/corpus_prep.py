"""Training-corpus preparation: PII scrub, document chunking, sequence
packing, train/eval decontamination, the source-mixture table, the
training-shard manifest, and the composed filter -> dedup -> near-dedup
pipeline (operators/corpus.py).

Every query is hash-checked; the composed pipeline's oracle chains the
SAME CTE building blocks the stage-level oracles use (quality formula,
fingerprint, MinHash pair SQL), so the composition is verified
end-to-end, not just per stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.corpus import (
    EMAIL_RE,
    PHONE_RE,
    chunk_documents,
    contamination_overlap,
    pack_sequences,
    prepare_corpus,
    scrub_pii,
)
from ..operators.text import ENGLISH_STOPWORDS
from .lexical_dedup import minhash_pairs_sql
from .registry import load, register
from .sql_fragments import NTOK, token_in_count
from .sql_fragments import TK as _TK


# The fixture corpus contains no real PII, so the query synthesizes a
# deterministic contact string per document from fixture columns — the
# scrub regexes are exercised on every row, and the oracle rebuilds the
# same string.
_CONTACT = (
    "' reach ' || source || CAST(doc_id AS VARCHAR) || '@example.org'"
    " || ' or +55-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-555'"
)


@register(
    "pii_scrub",
    oracle=f"""
WITH t AS (SELECT doc_id, text || {_CONTACT} AS raw FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(raw, '{EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(raw, '{PHONE_RE}')) AS INT) AS n_phones,
       md5(regexp_replace(regexp_replace(raw, '{EMAIL_RE}', '<EMAIL>', 'g'),
                          '{PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_md5
FROM t
""",
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails, phone numbers) as one codegen'd
    regexp_replace chain — counts found + md5 of the scrubbed text so
    the full redacted output is value-checked (operators/corpus.py)."""
    docs = load(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" reach "),
            F.col("source"),
            F.col("doc_id").cast("string"),
            F.lit("@example.org"),
            F.lit(" or +55-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-555"),
        ).alias("raw"),
    )
    scrubbed = scrub_pii(raw, text_col="raw", out_col="scrubbed")
    return scrubbed.select(
        "doc_id",
        F.regexp_count("raw", F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count("raw", F.lit(PHONE_RE)).alias("n_phones"),
        F.md5(F.col("scrubbed")).alias("scrubbed_md5"),
    )


PACK_BUDGET = 512


@register(
    "token_pack",
    oracle=f"""
WITH t AS (SELECT doc_id, source, CAST(len({_TK}) AS BIGINT) AS n_tokens FROM documents),
c AS (
    SELECT *,
           COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
    FROM t
)
SELECT doc_id, source, n_tokens,
       CAST(cum_before // {PACK_BUDGET} AS BIGINT) AS shard_id,
       CAST(cum_before % {PACK_BUDGET} AS BIGINT) AS shard_offset
FROM c
""",
)
def token_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing per source: deterministic doc order,
    integer cumulative sums, shard = the training pack the document's
    first token lands in (operators/corpus.py). One window per pack
    key — the key bounds window state at scale."""
    docs = load(spark, sf_dir, "documents")
    return pack_sequences(docs, budget=PACK_BUDGET)


CORPUS_MIN_QUALITY = 0.55
CORPUS_NEAR_DUP = 0.5

_QUALITY_SQL = f"""
ROUND(
  (CASE WHEN n_tok >= 10 AND n_tok <= 1000 THEN 1.0 ELSE 0.5 END)
  * (0.5 + 0.5 * least((n_stop / greatest(n_tok, 1.0)) * 2, 1.0))
  * (1.0 - least((n_punct / greatest(n_char, 1.0)) * 4, 0.8)),
6)"""


@register(
    "corpus_pipeline",
    oracle=f"""
WITH q0 AS (
  SELECT doc_id, source, text,
         CAST(len({_TK}) AS DOUBLE)                                  AS n_tok,
         CAST(length(text) AS DOUBLE)                                AS n_char,
         CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)  AS n_punct,
         CAST({token_in_count(ENGLISH_STOPWORDS)} AS DOUBLE)                 AS n_stop
  FROM documents
),
scored AS (SELECT doc_id, source, text, {_QUALITY_SQL} AS quality_score FROM q0),
kept AS (SELECT * FROM scored WHERE quality_score >= {CORPUS_MIN_QUALITY}),
ded AS (
  SELECT doc_id, source, text, quality_score
  FROM (SELECT *, md5(array_to_string({_TK}, ' ')) AS fp_md5 FROM kept)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY fp_md5 ORDER BY doc_id) = 1
),
{minhash_pairs_sql(source="ded", threshold=CORPUS_NEAR_DUP)},
losers AS (SELECT DISTINCT id_b FROM mh_pairs)
SELECT d.doc_id, d.source,
       CAST(len({_TK.replace("text", "d.text")}) AS BIGINT) AS n_tokens,
       d.quality_score
FROM ded d LEFT JOIN losers l ON d.doc_id = l.id_b
WHERE l.id_b IS NULL
""",
)
def corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-corpus pipeline: quality gate -> exact
    dedup on normalized fingerprint -> MinHash near-dedup among the
    survivors -> kept docs with token counts (operators/corpus.py::
    prepare_corpus). The oracle chains the same CTE blocks the
    stage-level oracles use, verifying the composition end-to-end."""
    docs = load(spark, sf_dir, "documents")
    return prepare_corpus(
        docs,
        min_quality=CORPUS_MIN_QUALITY,
        near_dup_threshold=CORPUS_NEAR_DUP,
    )

CHUNK_TOKENS = 16
CHUNK_STRIDE = 8
DECONTAM_NGRAM = 3
BENCH_MOD = 97  # doc_id % 97 == 0 plays the "benchmark/eval set" role


@register(
    "doc_chunks",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TK} AS tk FROM documents),
s AS (
    SELECT doc_id, tk,
           unnest(generate_series(1, greatest(len(tk), 1), {CHUNK_STRIDE})) AS start
    FROM t
),
p AS (
    SELECT doc_id,
           CAST((start - 1) // {CHUNK_STRIDE} AS INT) AS chunk_id,
           CAST(start AS BIGINT) AS start_token,
           list_slice(tk, start, start + {CHUNK_TOKENS} - 1) AS piece
    FROM s
)
SELECT doc_id, chunk_id, start_token,
       CAST(len(piece) AS BIGINT) AS chunk_len,
       -- Spark's array_join: NULL array -> NULL, empty array -> '';
       -- DuckDB's array_to_string returns NULL for both, so mirror the
       -- empty-array case explicitly (an empty-token doc still emits
       -- one empty chunk whose md5 is hash('')).
       CASE WHEN piece IS NOT NULL
            THEN md5(COALESCE(array_to_string(piece, ' '), '')) END AS chunk_md5
FROM p
""",
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (context-window sharding):
    generate-and-explode inside codegen, 1->N multiplier with no shuffle
    (operators/corpus.py::chunk_documents). Chunk text value-checked via
    md5."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(
        docs, chunk_tokens=CHUNK_TOKENS, stride=CHUNK_STRIDE
    )


_GRAMS = (
    "list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] "
    "for i in generate_series(1, len(tk) - 2)])"
)


@register(
    "decontaminate",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TK} AS tk FROM documents),
g AS (SELECT doc_id, unnest({_GRAMS}) AS gram FROM t),
bench AS (SELECT doc_id AS bench_id, gram FROM g WHERE doc_id % {BENCH_MOD} = 0),
train AS (SELECT doc_id AS train_id, gram FROM g WHERE doc_id % {BENCH_MOD} <> 0),
hits AS (
    SELECT train_id,
           COUNT(DISTINCT tr.gram) AS n_overlap_grams,
           COUNT(DISTINCT bench_id) AS n_bench_docs
    FROM train tr JOIN bench b ON tr.gram = b.gram
    GROUP BY train_id
)
SELECT d.doc_id,
       CAST(COALESCE(n_overlap_grams, 0) AS BIGINT) AS n_overlap_grams,
       CAST(COALESCE(n_bench_docs, 0) AS BIGINT) AS n_bench_docs,
       COALESCE(n_overlap_grams, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.train_id
WHERE d.doc_id % {BENCH_MOD} <> 0
""",
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: flag training docs sharing an n-gram
    with the (broadcast) benchmark set — the GPT-3/Llama overlap rule
    (operators/corpus.py::contamination_overlap). The 100 TB train side
    never shuffles; unmatched n-grams drop at the broadcast hash probe."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % BENCH_MOD == 0)
    train = docs.filter(F.col("doc_id") % BENCH_MOD != 0)
    return contamination_overlap(train, bench, ngram=DECONTAM_NGRAM)


# --- Training-delivery shard manifest ---------------------------------------

from ..operators.layout import training_shards  # noqa: E402

SHARD_N = 16
SHARD_SEED = 777

_SHARD_KEY = f"md5('{SHARD_SEED}|' || CAST(doc_id AS VARCHAR))"
_SHARD_H = f"CAST(('0x' || substr({_SHARD_KEY}, 1, 15)) AS BIGINT)"

_SHARDS_ORACLE = f"""
WITH staged AS (
    SELECT doc_id, {_SHARD_H} AS h, {NTOK} AS nt
    FROM documents WHERE text IS NOT NULL
)
SELECT CAST(h % {SHARD_N} AS INT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS n_tokens,
       bit_xor(h) AS id_checksum,
       arg_min(doc_id, h) AS first_doc_id,
       arg_max(doc_id, h) AS last_doc_id
FROM staged
GROUP BY 1
ORDER BY 1
"""


@register("training_shards", oracle=_SHARDS_ORACLE)
def training_shards_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-delivery manifest
    (operators/layout.py::training_shards): every usable doc lands in a
    keyed-md5 shard; per shard the manifest reports docs, tokens, an
    order-insensitive bit_xor checksum of member key hashes, and the
    first/last doc in epoch read order. One shuffle, every aggregate a
    fixed-width codegen buffer — the manifest a trainer validates its
    input against without listing members."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return training_shards(docs, n_shards=SHARD_N, seed=SHARD_SEED)


@register(
    "corpus_mixture",
    oracle=f"""
WITH t AS (
    SELECT source, lang,
           {NTOK} AS n_tok
    FROM documents
),
g AS (
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM t GROUP BY source, lang
)
SELECT source, lang, n_docs, n_tokens,
       ROUND(CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER (), 6) AS token_share
FROM g
""",
)
def corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-mixture table every training run is configured from:
    per (source, lang) document and token counts plus each cell's share
    of the total token budget. One codegen'd projection (token count per
    doc), one aggregate, and the share is a window over the TINY
    (sources x langs) mixture table — the corpus is scanned once."""
    from ..functions.textfns import token_count
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    t = d.select("source", "lang", token_count(F.col("text")).alias("n_tok"))
    g = t.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    )
    return g.select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double")
            / F.sum("n_tokens").over(Window.partitionBy()),
            6,
        ).alias("token_share"),
    )
