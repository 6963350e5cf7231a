"""Text-analysis queries over the ``documents`` fixture: text stats,
language id, quality scores, fingerprints, canonicalization, TF-IDF,
vocabulary stats, BPE token counts, and per-label embedding centroids
and vector normalization.

Oracle portability: the DuckDB SQL strings below are generated from the
same constants (marker word sets, stopword list, score formula) as the
Spark operators in operators/text.py — tokenization, regex counts, and
arithmetic are defined once and rendered for both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.textfns import tokens
from ..operators.text import (
    ENGLISH_STOPWORDS,
    LANG_MARKERS,
    quality_score,
    with_fingerprint,
    with_text_stats,
)
from .registry import load, register
from .sql_fragments import EMB, token_in_count
from .sql_fragments import TK as _TK

# oracle twin of operators/text.py::stopword_count (exact token
# membership — see the LANG_MARKERS portability note there)
_NSTOP = token_in_count(ENGLISH_STOPWORDS)


@register(
    "text_stats",
    oracle=f"""
WITH t AS (SELECT doc_id, text, {_TK} AS tk FROM documents)
SELECT doc_id,
       len(tk)                                                   AS n_tokens,
       CAST(length(text) AS INT)                                 AS n_chars_m,
       CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS INT)   AS n_punct,
       CAST(len(regexp_extract_all(text, '[0-9]')) AS INT)       AS n_digits,
       CASE WHEN len(tk) > 0 THEN
         ROUND(CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
               / CAST(len(tk) AS DOUBLE), 6) END                 AS avg_token_len,
       CAST({_NSTOP} AS INT)                                     AS n_stopwords
FROM t
""",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality-signal statistics: one codegen'd
    projection per document, no shuffle (operators/text.py)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    out = with_text_stats(docs)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_chars_m",
        "n_punct",
        "n_digits",
        "avg_token_len",
        "n_stopwords",
    )


def lang_vote_sql(prefix: str = "s_") -> tuple[str, str]:
    """(greatest_expr, when_chain) of the marker-vote argmax — the SQL
    twin of ``operators/text.py::vote_argmax``, defined ONCE and shared
    with the ``lang_segments`` oracle (corpus_quality.py) so the
    vote contract cannot drift between queries."""
    greatest = "greatest(" + ", ".join(f"{prefix}{lang}" for lang in LANG_MARKERS) + ")"
    whens = " ".join(
        f"WHEN {prefix}{lang} = best AND best > 0 THEN '{lang}'"
        for lang in LANG_MARKERS
    )
    return greatest, whens


def _lang_case_sql() -> str:
    score_cols = ", ".join(
        f"CAST({token_in_count(words)} AS INT) AS s_{lang}"
        for lang, words in LANG_MARKERS.items()
    )
    greatest, whens = lang_vote_sql()
    return f"""
WITH s AS (SELECT doc_id, lang, {score_cols} FROM documents),
b AS (SELECT *, {greatest} AS best FROM s)
SELECT doc_id, lang AS labeled_lang,
       CASE {whens} ELSE 'und' END AS predicted_lang,
       {", ".join(f"s_{lang}" for lang in LANG_MARKERS)}
FROM b
"""


@register("lang_id", oracle=_lang_case_sql())
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: vectorized marker-token voting with a
    deterministic argmax (operators/text.py). The fixture's ``lang``
    column is random, so this demonstrates the operator, not accuracy.

    Staged in three projections so the token array is built ONCE per
    row and the vote reads materialized score COLUMNS: HOF lambdas are
    CodegenFallback, so an inline vote expression re-evaluates the
    tokenization per reference (~35x/row, measured 3x wall). Catalyst
    keeps the stages separate — CollapseProject declines to inline a
    non-cheap alias referenced more than once."""
    from ..operators.text import marker_count_tokens, vote_argmax
    from ..functions.textfns import tokens

    docs = load(spark, sf_dir, "documents")
    toked = docs.select("doc_id", "lang", tokens("text").alias("__tk"))
    scored = toked.select(
        "doc_id",
        "lang",
        *[
            marker_count_tokens(F.col("__tk"), words).alias(f"s_{lang}")
            for lang, words in LANG_MARKERS.items()
        ],
    )
    return scored.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        vote_argmax({lang: F.col(f"s_{lang}") for lang in LANG_MARKERS}).alias(
            "predicted_lang"
        ),
        *[F.col(f"s_{lang}") for lang in LANG_MARKERS],
    )


@register(
    "quality_score",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         CAST(len({_TK}) AS DOUBLE)                               AS n_tok,
         CAST(length(text) AS DOUBLE)                             AS n_char,
         CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)  AS n_punct,
         CAST({_NSTOP} AS DOUBLE)                                 AS n_stop
  FROM documents
)
SELECT doc_id,
       ROUND(
         (CASE WHEN n_tok >= 10 AND n_tok <= 1000 THEN 1.0 ELSE 0.5 END)
         * (0.5 + 0.5 * least((n_stop / greatest(n_tok, 1.0)) * 2, 1.0))
         * (1.0 - least((n_punct / greatest(n_char, 1.0)) * 4, 0.8)),
       6) AS quality_score
FROM t
""",
)
def quality_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document quality score (length/stopword/punctuation
    signals), pure column arithmetic (operators/text.py)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return quality_score(docs).select("doc_id", "quality_score")


@register(
    "doc_fingerprint",
    oracle=f"""
WITH t AS (SELECT doc_id,
                  COALESCE(array_to_string({_TK}, ' '), '') AS norm
           FROM documents)
SELECT doc_id, md5(norm) AS fp_md5, sha256(norm) AS fp_sha256
FROM t
""",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprinting over whitespace-normalized text — the
    exact-dedup / provenance primitive (operators/text.py).

    NULL contract: ``concat_ws`` never returns NULL, so a NULL/empty/
    whitespace-only document fingerprints as hash('') — all content-free
    docs land in one dedup bucket by design. DuckDB's
    ``array_to_string`` returns NULL for both NULL and empty lists, so
    the oracle coalesces to '' to mirror the engine."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return with_fingerprint(docs).select("doc_id", "fp_md5", "fp_sha256")


@register(
    "text_canonicalize",
    oracle="""
SELECT doc_id,
       lower(trim(regexp_replace(regexp_replace(text, '[[:punct:]]', ' ', 'g'),
                                 '\\s+', ' ', 'g'))) AS canon_text,
       md5(lower(trim(regexp_replace(regexp_replace(text, '[[:punct:]]', ' ', 'g'),
                                     '\\s+', ' ', 'g')))) AS canon_key
FROM documents
""",
)
def text_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text form for exact-dup keying — the standard step
    BEFORE hashing/dedup so trivially-reformatted copies (casing,
    punctuation, whitespace) collapse to one key: strip ASCII
    punctuation, squeeze whitespace, trim, lowercase, plus the md5
    canon_key a dedup keyed on canonical content would group by. Pure
    codegen projection (regexp_replace chains JVM-side), zero shuffles
    — scan-bound at any corpus size. Java's \\p{Punct} and RE2's
    [[:punct:]] name the same ASCII set, so the engines agree
    byte-for-byte; DuckDB needs the 'g' flag to match Spark's
    replace-all default."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    canon = F.lower(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.col("text"), r"\p{Punct}", " "), r"\s+", " "
            )
        )
    )
    return docs.select(
        "doc_id", canon.alias("canon_text"), F.md5(canon).alias("canon_key")
    )


@register(
    "tfidf_top_terms",
    oracle=f"""
WITH tk AS (SELECT doc_id, unnest({_TK}) AS token FROM documents),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tk GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.token,
           ROUND(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
    FROM tf JOIN df USING (token) CROSS JOIN n
)
SELECT doc_id, token, tfidf FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn
    FROM scored
) WHERE rn <= 3
""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF with smoothed IDF (ln((N+1)/(df+1))+1), top-3 terms per
    document. Pure DataFrame ops: explode -> two aggregations -> join
    (df side is |vocabulary|-sized, broadcast) -> WindowGroupLimit
    top-k. The HashingTF/Pandas-UDF-free formulation scales as two
    shuffles over the token table.

    ``floor=False``: the chain's first wide dependency (the tf groupBy)
    arrives within the first stage, so the shuffle itself supplies
    parallelism and the floor's repartition is a pure extra exchange —
    round-7 same-window A/B measured 1.21s floored vs 0.82s unfloored
    (BASELINE.md adjudication)."""
    docs = load(spark, sf_dir, "documents", floor=False).select("doc_id", "text")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.count()
    scored = tf.join(df_, "token").select(
        "doc_id",
        "token",
        F.round(
            F.col("tf") * (F.log((n_docs + 1.0) / (F.col("df") + 1.0)) + 1.0), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "tfidf")
    )


@register(
    "vocabulary_stats",
    oracle=f"""
WITH tk AS (SELECT doc_id, unnest({_TK}) AS token FROM documents)
SELECT token,
       COUNT(*)                     AS occurrences,
       COUNT(DISTINCT doc_id)       AS doc_freq,
       CAST(MIN(length(token)) AS INT) AS token_len
FROM tk
GROUP BY token
""",
)
def vocabulary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary extraction: term + document frequencies."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    return tok.groupBy("token").agg(
        F.count("*").alias("occurrences"),
        F.countDistinct("doc_id").alias("doc_freq"),
        F.min(F.length("token")).alias("token_len"),
    )


@register(
    "label_centroids",
    oracle=f"""
SELECT label, i AS pos,
       ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS centroid_component,
       COUNT(*) AS n_vectors
FROM {EMB}, generate_series(1, 64) AS t(i)
GROUP BY label, i
""",
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding cloud, as (label, pos,
    component) rows: posexplode -> one hash aggregation. The row form
    (not array_agg) keeps the shuffle key (label, pos) fine-grained —
    at 100 TB the aggregation parallelizes across dim × labels, and no
    task ever materializes a whole centroid."""
    e = load(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode(F.transform("embedding", lambda x: x.cast("double"))))
        .select("label", (F.col("pos") + 1).alias("pos"), F.col("col").alias("v"))
        .groupBy("label", "pos")
        .agg(
            F.round(F.avg("v"), 6).alias("centroid_component"),
            F.count("*").alias("n_vectors"),
        )
    )


# BPE-ish pre-tokenizer: letter runs, digit runs, or single
# non-alphanumeric marks — the coarse split real BPE tokenizers apply
# before merges. Pure character classes, so Java regex (Spark) and RE2
# (DuckDB) agree.
BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


@register(
    "token_count_bpe",
    oracle=f"""
WITH t AS (SELECT doc_id, text,
                  regexp_extract_all(text, '{BPE_PATTERN}') AS bpe,
                  {_TK} AS ws
           FROM documents)
SELECT doc_id,
       CAST(len(bpe) AS INT)            AS n_bpe_tokens,
       CAST(len(ws) AS INT)             AS n_ws_tokens,
       CASE WHEN len(bpe) > 0 THEN
         ROUND(CAST(length(text) AS DOUBLE) / CAST(len(bpe) AS DOUBLE), 6)
       END                              AS chars_per_bpe_token
FROM t
""",
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting for LLM-pipeline budgeting: whitespace tokens AND a
    BPE-ish regex pre-tokenization (letter/digit runs + punctuation
    marks), plus the chars-per-token compression ratio. One codegen'd
    projection, no shuffle, no UDF."""
    from ..functions.textfns import tokens

    docs = load(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), 0)
    n_bpe = F.size(bpe)
    return docs.select(
        "doc_id",
        n_bpe.alias("n_bpe_tokens"),
        F.size(tokens("text")).alias("n_ws_tokens"),
        F.when(
            n_bpe > 0, F.round(F.length("text").cast("double") / n_bpe.cast("double"), 6)
        ).alias("chars_per_bpe_token"),
    )


@register(
    "normalized_vectors",
    oracle=f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM {EMB})
SELECT vec_id,
       ROUND(sqrt(list_inner_product(ve, ve)), 6)                       AS l2_norm,
       ROUND(ve[1] / sqrt(list_inner_product(ve, ve)), 6)               AS unit_first,
       ROUND(ve[64] / sqrt(list_inner_product(ve, ve)), 6)              AS unit_last
FROM v
""",
)
def normalized_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization surface: norms + unit-vector components (the
    preprocessing step before cosine retrieval; full unit vectors are a
    transform() away, scalar components keep the oracle comparable)."""
    from ..operators.similarity import as_double, norm

    e = load(spark, sf_dir, "embeddings")
    v = as_double("embedding")
    n = norm(v)
    return e.select(
        "vec_id",
        F.round(n, 6).alias("l2_norm"),
        F.round(F.element_at(v, 1) / n, 6).alias("unit_first"),
        F.round(F.element_at(v, 64) / n, 6).alias("unit_last"),
    )
