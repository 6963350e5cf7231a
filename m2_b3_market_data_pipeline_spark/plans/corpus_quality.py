"""Corpus-quality curation queries: mixture enforcement, boilerplate
detection, repetition and character-entropy signals, tokenizer
fertility, quality funnels, DSIR importance weights, char-trigram LM
scoring and LM-score bucketing, PMI collocations, cross-source near-dup
provenance, and code-switch segmentation.

- ``mixture_rebalance``: token-budget enforcement — cap every source at
  an equal share of a corpus-wide token budget by admitting docs in
  keyed-md5 order until the source's running token total crosses its
  waterline. The comparison stays in exact integer arithmetic
  (cum * n_sources * 2 <= total), so no float-boundary doc can differ
  between engines. The admission complement of ``corpus_mixture``
  (which only reports shares) and ``balanced_sample`` (doc-count, not
  token-count, balancing).
- ``boilerplate_frac``: corpus-level boilerplate detection — 3-token
  shingles appearing in >= BP_MIN_DF distinct docs are 'boilerplate';
  each doc reports the fraction of its distinct shingles that are
  boilerplate (the MassiveText/CCNet-style repeated-template signal).
- ``dsir_weights``: DSIR hashed-n-gram importance weights (Xie et al.
  2023) — broadcast-sized smoothed multinomials, per-doc log2
  likelihood-ratio sums.
- ``trigram_lm_score``: char-trigram LM quality scoring (perplexity
  proxy) with a broadcast-bounded model (operators/text.py);
  ``trigram_lm_hashed`` folds grams to seeded-hash buckets first.
- ``lm_quality_buckets``: CCNet-style LM-score deciles via ONE exact-
  percentile aggregate + broadcast boundaries (no global sort/NTILE).
- ``bigram_pmi``: PMI collocation mining (BPE-merge candidates).
- ``source_overlap_matrix``: pairwise cross-source near-dup provenance
  over the banded MinHash pair set.
- ``lang_segments``: code-switch detection — fixed token segments vote
  through the predict_lang marker contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.textfns import shingles, token_count, tokens
from ..operators.corpus import (
    GATE_COLS,
    N_GATE_STAGES,
    top_bigram_fraction,
    with_char_entropy,
    with_repetition_stats,
)
from ..operators.dedup import fan_out
from ..operators.text import PRE_HASH_SEED, TRI_HASH_SEED, trigram_lm_scores
from .lexical_dedup import minhash_pairs_sql
from .registry import load, register
from .sql_fragments import NTOK, TK

# Fraction of the corpus token total admitted by mixture_rebalance,
# expressed as a ratio of integers so the waterline comparison is exact.
BUDGET_NUM, BUDGET_DEN = 1, 2  # admit ~50% of total tokens
BP_MIN_DF = 5  # shingle document-frequency threshold for 'boilerplate'

_NTOK = NTOK  # shared SQL-side tokenizer contract (sql_fragments.py)

@register(
    "mixture_rebalance",
    oracle=f"""
WITH t AS (SELECT doc_id, source, {_NTOK} AS n_tok FROM documents),
tot AS (
    -- NULL source is its own stratum and gets a budget share (the
    -- engine's groupBy(source).count() semantics); COUNT(DISTINCT
    -- source) would drop it and shift every waterline.
    SELECT CAST(SUM(n_tok) AS BIGINT) AS total_tok,
           CAST((SELECT COUNT(*) FROM (SELECT DISTINCT source FROM t))
                AS BIGINT) AS n_src
    FROM t),
ranked AS (
    SELECT doc_id, source, n_tok,
           SUM(n_tok) OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ':mix'), doc_id
               ROWS UNBOUNDED PRECEDING) AS cum_tok
    FROM t)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS docs_kept,
       CAST(SUM(n_tok) AS BIGINT) AS tokens_kept
FROM ranked CROSS JOIN tot
WHERE cum_tok * n_src * {BUDGET_DEN} <= total_tok * {BUDGET_NUM}
GROUP BY source
ORDER BY source
""",
)
def mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture enforcement: every source gets an equal
    share of a {BUDGET_NUM}/{BUDGET_DEN}-of-corpus token budget; docs
    are admitted in keyed-md5 order until the source's running token
    total crosses the waterline. Sources under their cap keep
    everything; dominant sources are truncated deterministically
    (reproducible across engines, partitionings, retries — unlike
    rand()-based sampling). One window shuffle on source ranks the
    corpus; the (total, n_sources) pair rides along as a broadcast
    1-row aggregate; the admission test is exact integer arithmetic so
    no float-boundary doc flips between engines."""
    return mixture_rebalance_df(load(spark, sf_dir, "documents"))


def mixture_rebalance_df(docs: DataFrame) -> DataFrame:
    """DataFrame form of ``mixture_rebalance`` (docs needs doc_id,
    source, text), so tests can run it on planted corpora.

    Shuffle accounting: the corpus crosses the wire ONCE, for the
    running-sum window on source. The (total, n_sources) pair comes
    from a per-source SUM aggregate whose exchange moves only map-side
    partials (n_partitions x n_sources rows — metadata-sized at any
    scale; a countDistinct formulation would instead expand and shuffle
    twice), folded to one broadcast row. The per-source fold after the
    waterline filter reuses the window's partitioning — no third
    exchange on source. Pinned in test_plan_quality.py."""
    d = docs.select("doc_id", "source", token_count(F.col("text")).alias("n_tok"))
    src_tot = d.groupBy("source").agg(F.sum("n_tok").alias("src_tok"))
    tot = src_tot.agg(
        F.sum("src_tok").alias("total_tok"),
        F.count("*").alias("n_src"),
    )
    order_key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":mix")))
    w = (
        Window.partitionBy("source")
        .orderBy(order_key, "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = d.withColumn("cum_tok", F.sum("n_tok").over(w))
    return (
        ranked.crossJoin(F.broadcast(tot))
        .filter(
            F.col("cum_tok") * F.col("n_src") * BUDGET_DEN
            <= F.col("total_tok") * BUDGET_NUM
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("docs_kept"),
            F.sum("n_tok").alias("tokens_kept"),
        )
        .orderBy("source")
    )

_TK = TK  # shared SQL-side tokenizer contract (sql_fragments.py)
_SH3 = (
    "list_distinct(list_transform(range(len(tk) - 2), "
    "i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))"
)


@register(
    "boilerplate_frac",
    oracle=f"""
WITH tk AS (SELECT doc_id, {_TK} AS tk FROM documents),
sh AS (SELECT doc_id, {_SH3} AS shl FROM tk WHERE len(tk) >= 3),
ex AS (SELECT doc_id, len(shl) AS n_shingles, unnest(shl) AS shingle FROM sh),
bp AS (
    SELECT shingle FROM ex GROUP BY shingle
    HAVING COUNT(*) >= {BP_MIN_DF})
SELECT e.doc_id,
       CAST(MIN(e.n_shingles) AS BIGINT) AS n_shingles,
       ROUND(COUNT(b.shingle) * 1.0 / MIN(e.n_shingles), 6) AS bp_frac
FROM ex e
LEFT JOIN bp b ON b.shingle = e.shingle
GROUP BY e.doc_id
ORDER BY e.doc_id
""",
)
def boilerplate_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate signal: 3-token shingles present in
    >= {BP_MIN_DF} distinct docs are 'boilerplate' (shingles are
    distinct per doc, so a plain count IS document frequency); each doc
    reports the fraction of its distinct shingles that are boilerplate
    — the repeated-template/navigation-chrome score quality filters
    threshold on.

    Scale shape: one explode + one shuffle builds the shingle
    document-frequency table; the boilerplate subset (df >= threshold)
    is corpus-chrome-sized — orders smaller than the shingle table — so
    it BROADCASTS back onto the exploded shingles; the per-doc fold is
    the second and final shuffle. No self-join of the corpus."""
    return boilerplate_frac_df(load(spark, sf_dir, "documents"))


def boilerplate_frac_df(docs: DataFrame, *, min_df: int = BP_MIN_DF) -> DataFrame:
    """DataFrame form of ``boilerplate_frac`` (docs needs doc_id, text),
    so tests can plant template phrases and assert they score.

    The exploded shingle stream feeds TWO consumers (the df table and
    the membership join), so it is persisted for the life of this plan
    — without it Spark re-runs the tokenize+shingle+explode subtree per
    consumer (measured ~1.7x at sf0.1). Same cache-scoping contract as
    the minhash pipeline: the frame rides on the result as
    ``_cached_frames``; loops must call ``release_cached``. At 100 TB
    the same role is played by materializing the shingle table once."""
    sh = docs.select(
        "doc_id", F.array_distinct(shingles(tokens("text"), 3)).alias("shl")
    ).filter(F.size("shl") >= 1)
    ex = sh.select(
        "doc_id",
        F.size("shl").alias("n_shingles"),
        F.explode("shl").alias("shingle"),
    ).persist()
    bp = (
        ex.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= min_df)
        .select("shingle", F.lit(1).alias("is_bp"))
    )
    out = (
        ex.join(F.broadcast(bp), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.min("n_shingles").alias("n_shingles"),
            F.round(
                F.sum(F.coalesce(F.col("is_bp"), F.lit(0))) / F.min("n_shingles"), 6
            ).alias("bp_frac"),
        )
        .orderBy("doc_id")
    )
    out._cached_frames = [ex]  # type: ignore[attr-defined]
    return out

@register(
    "token_fertility",
    oracle=f"""
WITH t AS (
    SELECT lang, n_chars, {_NTOK} AS n_tok FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(AVG(CAST(n_chars AS DOUBLE) / n_tok), 6) AS chars_per_token,
       ROUND(AVG(CAST(n_tok AS DOUBLE)), 6) AS tokens_per_doc
FROM t
WHERE n_tok >= 1
GROUP BY lang
ORDER BY lang
""",
)
def token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility: chars per (whitespace) token and
    tokens per doc — the standard multilingual curation signal for
    weighting sources by how expensive their text is to tokenize (a
    language averaging 2x chars/token consumes 2x context per
    information unit under a byte-level tokenizer). One scan, one
    metadata-sized aggregate."""
    d = load(spark, sf_dir, "documents").select(
        "lang", "n_chars", token_count(F.col("text")).alias("n_tok")
    )
    return (
        d.filter(F.col("n_tok") >= 1)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.avg(F.col("n_chars").cast("double") / F.col("n_tok")), 6
            ).alias("chars_per_token"),
            F.round(F.avg(F.col("n_tok").cast("double")), 6).alias("tokens_per_doc"),
        )
        .orderBy("lang")
    )


# The stage fan-out of the funnel derives from GATE_COLS on BOTH
# engines — adding a gate to quality_gate_stats (and its SQL twin in
# the `gated` CTE below, which IS the gate semantics and must be edited
# in lockstep) automatically grows the report, the stack, and the
# oracle's union by one stage.
_FUNNEL_STAGES_SQL = "\nUNION ALL\n".join(
    [
        "SELECT 0 AS stage, CAST(COUNT(*) AS BIGINT) AS docs,\n"
        "       CAST(SUM(n_tok) AS BIGINT) AS tokens FROM gated"
    ]
    + [
        f"SELECT {i}, CAST(COUNT(*) FILTER ({g}) AS BIGINT),\n"
        f"       CAST(COALESCE(SUM(n_tok) FILTER ({g}), 0) AS BIGINT) FROM gated"
        for i, g in enumerate(GATE_COLS, start=1)
    ]
)


@register(
    "quality_gate_funnel",
    oracle=f"""
WITH t AS (
    SELECT doc_id, {_TK} AS tk FROM documents
),
-- COALESCE keeps zero-token and NULL-text docs in stage 0 with
-- n_tok = 0 (they then fail every gate) instead of dropping them.
per_doc AS (
    SELECT doc_id, COALESCE(len(tk), 0) AS n_tok,
           COALESCE((SELECT MAX(cnt) FROM (
               SELECT COUNT(*) AS cnt FROM unnest(tk) AS u(tok) GROUP BY tok)), 0)
           AS top_tok_cnt,
           COALESCE(len(list_filter(tk, x -> len(x) BETWEEN 2 AND 12)), 0)
           AS ok_len_toks
    FROM t
),
gated AS (
    SELECT n_tok,
           n_tok >= 20 AS g1,
           n_tok >= 20 AND ok_len_toks * 10 >= n_tok * 9 AS g2,
           n_tok >= 20 AND ok_len_toks * 10 >= n_tok * 9
               AND top_tok_cnt * 5 <= n_tok AS g3
    FROM per_doc
)
{_FUNNEL_STAGES_SQL}
ORDER BY stage
""",
)
def quality_gate_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation funnel report: how many docs (and tokens) survive each
    successive quality gate — (1) length >= 20 tokens, (2) >= 90% of
    tokens with sane length 2-12 chars, (3) most-frequent token <= 20%
    of the doc (repetition gate). The table a curation run publishes so
    mixture decisions see what each filter costs. All thresholds
    compare in exact integer arithmetic (cross-multiplied), so no
    float-boundary doc flips between engines. One explode + one per-doc
    fold + one metadata-sized aggregate; gates are CUMULATIVE, matching
    how real filter chains compose.

    Zero-token and NULL-text docs MUST still count in stage 0 (they
    fail every gate, but a funnel whose input row count is wrong is
    useless): explode drops empty arrays, so those docs re-enter via
    the union branch with all-zero stats.

    The per-doc gate computation is the SHARED
    ``operators/corpus.py::quality_gate_stats`` — the streaming funnel
    sink (streaming/funnel_sink.py) gates through the same code, so the
    continuously-maintained funnel cannot drift from this oracle-checked
    batch form."""
    from ..operators.corpus import quality_gate_stats

    gated = quality_gate_stats(load(spark, sf_dir, "documents")).select(
        "n_tok", *GATE_COLS
    )
    aggs = [F.count("*").alias("d0"), F.sum("n_tok").alias("t0")]
    for i, g in enumerate(GATE_COLS, start=1):
        aggs.append(F.count(F.when(F.col(g), 1)).alias(f"d{i}"))
        aggs.append(
            F.coalesce(F.sum(F.when(F.col(g), F.col("n_tok"))), F.lit(0)).alias(
                f"t{i}"
            )
        )
    agg = gated.agg(*aggs)
    stack_args = ", ".join(f"{i}L, d{i}, t{i}" for i in range(N_GATE_STAGES))
    return agg.selectExpr(
        f"stack({N_GATE_STAGES}, {stack_args}) AS (stage, docs, tokens)"
    ).orderBy("stage")

from ..operators.corpus import DSIR_SEED  # noqa: E402  (oracle must hash with the operator's seed)

DSIR_BUCKETS = 256


@register(
    "dsir_weights",
    oracle=f"""
WITH t AS (SELECT doc_id, lang = 'en' AS is_t, {TK} AS tk FROM documents),
f AS (
    SELECT doc_id, is_t,
           unnest(tk || list_transform(range(len(tk) - 1),
                  i -> tk[i+1] || ' ' || tk[i+2])) AS feat
    FROM t),
fb AS (
    SELECT doc_id, is_t,
           CAST(('0x' || substr(md5('{DSIR_SEED}|' || feat), 1, 15)) AS BIGINT)
             % {DSIR_BUCKETS} AS b
    FROM f),
bk AS (
    SELECT b, SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS nt, COUNT(*) AS nr
    FROM fb GROUP BY b),
tot AS (SELECT CAST(SUM(nt) AS BIGINT) AS tt, CAST(SUM(nr) AS BIGINT) AS tr FROM bk),
m AS (
    SELECT b, log2((nt + 1.0) / (tt + {DSIR_BUCKETS}))
            - log2((nr + 1.0) / (tr + {DSIR_BUCKETS})) AS lr
    FROM bk CROSS JOIN tot)
SELECT fb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
       ROUND(SUM(m.lr), 6) + 0 AS log_weight
FROM fb JOIN m USING (b)
GROUP BY fb.doc_id
ORDER BY fb.doc_id
""",
)
def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023) with lang='en' as the
    target distribution: hashed unigram+bigram multinomials
    (Laplace-smoothed, {DSIR_BUCKETS} buckets — the hashing trick that
    keeps the model broadcast-sized at any corpus scale), per-doc
    summed log2 likelihood ratio. Exact integer counts; the only
    floats are the final log2s, rounded at the edge
    (operators/corpus.py::dsir_log_weights)."""
    from ..operators.corpus import dsir_log_weights

    docs = load(spark, sf_dir, "documents")
    return dsir_log_weights(
        docs, target=F.col("lang") == "en", n_buckets=DSIR_BUCKETS
    )

# Decile boundaries as exact interpolated percentiles of the ROUNDED
# score: rounding first makes the multiset engine-identical (the
# trigram_lm_score hash-match is the proof), so the boundaries agree.
LM_DECILES = [round(0.1 * i, 1) for i in range(1, 10)]


@register(
    "trigram_lm_score",
    oracle="""
WITH t AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
g AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, greatest(length(s) - 2, 0)),
                                 i -> substr(s, i, 3))) AS gram
    FROM t
),
c3 AS (SELECT gram, COUNT(*) AS n3 FROM g GROUP BY gram),
c2 AS (SELECT substr(gram, 1, 2) AS pre, COUNT(*) AS n2 FROM g GROUP BY 1),
model AS (
    SELECT gram, log2(CAST(n3 AS DOUBLE) / CAST(n2 AS DOUBLE)) AS logp
    FROM c3 JOIN c2 ON substr(c3.gram, 1, 2) = c2.pre
)
SELECT g.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_trigrams,
       ROUND(AVG(logp), 6) AS avg_logp
FROM g JOIN model ON g.gram = model.gram
GROUP BY g.doc_id
""",
)
def trigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained char-trigram LM scoring (operators/text.py). The
    model is bounded by |charset|^3 so it broadcasts; the corpus side
    never shuffles on model keys — the KenLM-style quality filter at
    100 TB."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return trigram_lm_scores(docs)


def _trigram_oracle() -> str:
    from .registry import ORACLES

    return ORACLES["trigram_lm_score"]


@register(
    "lm_quality_buckets",
    oracle=f"""
WITH sc AS ({_trigram_oracle()}),
b AS (SELECT quantile_cont(avg_logp, {LM_DECILES}) AS bs FROM sc),
a AS (
    SELECT sc.doc_id, sc.n_trigrams, sc.avg_logp,
           CAST(len(list_filter(b.bs, x -> sc.avg_logp > x)) AS BIGINT) AS bucket
    FROM sc CROSS JOIN b)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(AVG(avg_logp), 6) AS avg_score,
       ROUND(MIN(avg_logp), 6) AS min_score,
       ROUND(MAX(avg_logp), 6) AS max_score,
       CAST(SUM(n_trigrams) AS BIGINT) AS total_trigrams
FROM a GROUP BY bucket ORDER BY bucket
""",
)
def lm_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: split the corpus into deciles
    of the char-trigram LM score (head/middle/tail quality tiers a
    curation run keeps, down-weights, or drops). Scale-honest global
    quantiles: decile boundaries come from ONE exact-percentile
    aggregate (the TypedImperativeAggregate sketch family — at 100 TB
    swap in approx_percentile, same shape), broadcast back as 9 values;
    bucket assignment is a codegen'd fold per row — NO global sort, NO
    single-partition NTILE window. Spark ``percentile`` interpolates
    identically to DuckDB ``quantile_cont`` (exact_percentiles is the
    standing proof)."""
    from ..operators.text import trigram_lm_scores

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # The scores frame feeds TWO consumers (the percentile bounds and
    # the bucket assignment); without its own persist the broadcast-
    # model scoring join and per-doc fold replay per consumer (the
    # semdedup lesson) — only the gram explode inside trigram_lm_scores
    # is persisted by the operator itself.
    scores = trigram_lm_scores(docs).persist()
    qs = ", ".join(str(q) for q in LM_DECILES)
    bounds = scores.agg(
        F.expr(f"percentile(avg_logp, array({qs}))").alias("bs")
    )
    assigned = scores.crossJoin(F.broadcast(bounds)).withColumn(
        "bucket",
        F.expr(
            "CAST(aggregate(bs, 0, (acc, x) -> acc + "
            "CASE WHEN avg_logp > x THEN 1 ELSE 0 END) AS BIGINT)"
        ),
    )
    out = (
        assigned.groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("avg_logp"), 6).alias("avg_score"),
            F.round(F.min("avg_logp"), 6).alias("min_score"),
            F.round(F.max("avg_logp"), 6).alias("max_score"),
            F.sum("n_trigrams").alias("total_trigrams"),
        )
        .orderBy("bucket")
    )
    out._cached_frames = [scores, *getattr(scores, "_cached_frames", [])]
    return out


PMI_MIN_COUNT = 5
PMI_TOP_K = 50


@register(
    "bigram_pmi",
    oracle=f"""
WITH t AS (SELECT {TK} AS tk FROM documents),
uni AS (SELECT tok AS w, COUNT(*) AS n_w
        FROM (SELECT unnest(tk) AS tok FROM t) GROUP BY tok),
bic AS (SELECT bg, COUNT(*) AS n_pair FROM (
            SELECT unnest(list_transform(range(len(tk) - 1),
                          i -> tk[i+1] || ' ' || tk[i+2])) AS bg
            FROM t) GROUP BY bg),
tot AS (SELECT (SELECT SUM(n_w) FROM uni) AS n_tok,
               (SELECT SUM(n_pair) FROM bic) AS n_bi),
scored AS (
    SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
           CAST(n_pair AS BIGINT) AS n_pair,
           ROUND(log2(n_pair * 1.0 / n_bi)
                 - log2(u1.n_w * 1.0 / n_tok)
                 - log2(u2.n_w * 1.0 / n_tok), 6) AS pmi
    FROM bic CROSS JOIN tot
    JOIN uni u1 ON u1.w = split_part(bg, ' ', 1)
    JOIN uni u2 ON u2.w = split_part(bg, ' ', 2)
    WHERE n_pair >= {PMI_MIN_COUNT})
SELECT w1, w2, n_pair, pmi FROM scored
ORDER BY pmi DESC, w1, w2 LIMIT {PMI_TOP_K}
""",
)
def bigram_pmi_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PMI_TOP_K} collocations by pointwise mutual information —
    multi-word-expression / BPE-merge-candidate mining over the corpus
    (operators/corpus.py::bigram_pmi). Marginal lookups are equi-joins
    on the token (vocabulary scales with the corpus; never broadcast),
    totals are 1-row broadcasts, top-k compiles to
    TakeOrderedAndProject."""
    from ..operators.corpus import bigram_pmi

    docs = load(spark, sf_dir, "documents")
    return bigram_pmi(docs, min_count=PMI_MIN_COUNT, k=PMI_TOP_K)

@register(
    "source_overlap_matrix",
    oracle=f"""
WITH {minhash_pairs_sql()}
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(AVG(p.jaccard), 6) AS avg_jaccard
FROM mh_pairs p
JOIN documents da ON da.doc_id = p.id_a
JOIN documents db ON db.doc_id = p.id_b
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-dup provenance matrix: verified MinHash+LSH
    pairs folded by (source, source) with canonical ordering — the
    table that answers 'which crawls/feeds duplicate each other', the
    input to licensing and mixture decisions. Complements
    ``dedup_rate_by_source`` (per-source rate) with the PAIRWISE view.
    Costs two corpus-keyed equi-joins (doc -> source lookup) over the
    already-banded pair set plus a source²-bounded fold — nothing
    quadratic in docs."""
    docs = load(spark, sf_dir, "documents")
    from ..operators.dedup import minhash_dedup_pairs

    pairs = minhash_dedup_pairs(docs)
    src = docs.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("__sa"))
    sb = src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("__sb"))
    out = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .groupBy(
            F.least("__sa", "__sb").alias("source_a"),
            F.greatest("__sa", "__sb").alias("source_b"),
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )
    out._cached_frames = getattr(pairs, "_cached_frames", [])
    return out


from ..operators.text import LANG_MARKERS, LANG_SEG_TOKENS  # noqa: E402


def _lang_segments_oracle(seg_tokens: int = LANG_SEG_TOKENS) -> str:
    """The segment-voting chain rendered from the SAME marker constants
    as operators/text.py::lang_segments (one definition, two engines —
    the text_queries.py::_lang_case_sql pattern)."""
    from .text_queries import lang_vote_sql

    from .sql_fragments import sql_word_set

    sums = ", ".join(
        f"CAST(SUM(CASE WHEN tok IN {sql_word_set(words)} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS s_{lang}"
        for lang, words in LANG_MARKERS.items()
    )
    greatest, whens = lang_vote_sql()
    return f"""
WITH t AS (SELECT doc_id, {TK} AS tk FROM documents),
p AS (
    SELECT doc_id, pos, tk[pos] AS tok
    FROM (SELECT doc_id, tk,
                 unnest(generate_series(1, CAST(len(tk) AS INT))) AS pos
          FROM t WHERE len(tk) >= 1)),
v AS (SELECT doc_id, (pos - 1) // {seg_tokens} AS seg, {sums}
      FROM p GROUP BY doc_id, seg),
b AS (SELECT *, {greatest} AS best FROM v),
sl AS (SELECT doc_id, seg, CASE {whens} ELSE 'und' END AS lang FROM b),
sw AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN prev IS NOT NULL AND prev <> lang
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_switches
    FROM (SELECT doc_id, lang,
                 LAG(lang) OVER (PARTITION BY doc_id ORDER BY seg) AS prev
          FROM sl)
    GROUP BY doc_id),
mc AS (SELECT doc_id, lang, COUNT(*) AS cnt FROM sl GROUP BY 1, 2),
mj AS (
    SELECT doc_id, lang AS majority_lang, cnt FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY cnt DESC, lang) AS rn
        FROM mc) WHERE rn = 1)
SELECT s.doc_id, s.n_segments, m.majority_lang,
       ROUND(m.cnt * 1.0 / s.n_segments, 6) AS agree_frac, s.n_switches
FROM sw s JOIN mj m ON m.doc_id = s.doc_id
ORDER BY s.doc_id
"""


@register("lang_segments", oracle=_lang_segments_oracle())
def lang_segments_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-switching detection: {LANG_SEG_TOKENS}-token segments each
    vote a language through the predict_lang marker contract; docs
    report segment count, majority language, agreement fraction, and
    adjacent-segment switch count — the mixed-language curation signal
    per-doc lang-ID cannot see (operators/text.py::lang_segments)."""
    from ..operators.text import lang_segments

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return lang_segments(docs)



from ..operators.corpus import (  # noqa: E402
    GOPHER_BULLETS,
    GOPHER_MAX_BULLET_LINE_FRAC,
    GOPHER_MAX_ELLIPSIS_LINE_FRAC,
    GOPHER_MAX_MEAN_LEN,
    GOPHER_MAX_SYMBOL_RATIO,
    GOPHER_MAX_WORDS,
    GOPHER_MIN_ALPHA_WORD_FRAC,
    GOPHER_MIN_MEAN_LEN,
    GOPHER_MIN_STOPWORDS,
    GOPHER_MIN_WORDS,
    gopher_quality_rules,
)
from ..operators.text import ENGLISH_STOPWORDS  # noqa: E402
from .sql_fragments import sql_word_set  # noqa: E402


def _gopher_oracle() -> str:
    """The Gopher rule bundle rendered from the SAME constants as
    operators/corpus.py::gopher_quality_rules (one definition, two
    engines). NULL-text docs fail every rule (FALSE, never NULL)."""
    bullets = sql_word_set(GOPHER_BULLETS)
    stopset = sql_word_set(ENGLISH_STOPWORDS)
    return f"""
WITH staged AS (
    SELECT doc_id,
           {TK} AS tk,
           string_split(text, chr(10)) AS ln,
           (length(text) - length(replace(text, '#', '')))
             + len(regexp_extract_all(text, '\\.\\.\\.'))
             + (length(text) - length(replace(text, '…', ''))) AS n_sym
    FROM documents
),
m AS (
    SELECT doc_id,
           CAST(COALESCE(len(tk), 0) AS BIGINT)  AS n_words,
           CAST(COALESCE(len(ln), 0) AS BIGINT)  AS n_lines,
           n_sym,
           COALESCE(list_sum(list_transform(tk, x -> length(x))), 0) AS tok_chars,
           len(list_filter(tk, x -> regexp_matches(x, '[a-z]')))     AS n_alpha,
           len(list_distinct(list_filter(tk, x -> x IN {stopset})))  AS n_stop,
           len(list_filter(ln, x -> rtrim(x) LIKE '%...' OR rtrim(x) LIKE '%…'))
                                                                     AS n_ell,
           len(list_filter(ln, x -> substr(ltrim(x), 1, 1) IN {bullets}))
                                                                     AS n_bul
    FROM staged
),
r AS (
    SELECT doc_id, n_words,
           n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
               AS r_word_count,
           CASE WHEN n_words > 0 THEN
                tok_chars >= {GOPHER_MIN_MEAN_LEN} * n_words
                AND tok_chars <= {GOPHER_MAX_MEAN_LEN} * n_words
           ELSE FALSE END AS r_mean_word_len,
           CASE WHEN n_words > 0 THEN n_sym <= {GOPHER_MAX_SYMBOL_RATIO} * n_words
           ELSE FALSE END AS r_symbol_ratio,
           CASE WHEN n_lines > 0 THEN
                n_ell <= {GOPHER_MAX_ELLIPSIS_LINE_FRAC} * n_lines
           ELSE FALSE END AS r_ellipsis_lines,
           CASE WHEN n_lines > 0 THEN
                n_bul <= {GOPHER_MAX_BULLET_LINE_FRAC} * n_lines
           ELSE FALSE END AS r_bullet_lines,
           CASE WHEN n_words > 0 THEN
                n_alpha >= {GOPHER_MIN_ALPHA_WORD_FRAC} * n_words
           ELSE FALSE END AS r_alpha_words,
           COALESCE(n_stop, 0) >= {GOPHER_MIN_STOPWORDS} AS r_stopwords
    FROM m
)
SELECT doc_id, n_words, r_word_count, r_mean_word_len, r_symbol_ratio,
       r_ellipsis_lines, r_bullet_lines, r_alpha_words, r_stopwords,
       r_word_count AND r_mean_word_len AND r_symbol_ratio
           AND r_ellipsis_lines AND r_bullet_lines AND r_alpha_words
           AND r_stopwords AS pass_gopher
FROM r
"""


@register("gopher_rules", oracle=_gopher_oracle())
def gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher/MassiveText per-document quality rules (Rae et al.
    2021, Table A1): word-count and mean-word-length bounds, symbol-to-
    word ratio, ellipsis/bullet line fractions, alphabetic-word
    fraction, distinct-stopword presence, and their conjunction
    (operators/corpus.py::gopher_quality_rules). Three stacked
    projections, zero shuffles — at 100 TB this is parquet-scan-bound,
    the correct shape for a pre-training quality gate."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return gopher_quality_rules(docs)


# Source re-weighting temperature is alpha = 0.5 (multilingual-style
# alpha sampling; alpha = 1 is proportional, alpha -> 0 is uniform),
# rendered as sqrt on BOTH engines so the arithmetic is bit-identical.
@register(
    "source_temperature_weights",
    oracle=f"""
WITH t AS (SELECT source, {NTOK} AS n_tok FROM documents),
s AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS n_tok FROM t GROUP BY source),
tot AS (SELECT CAST(SUM(n_tok) AS DOUBLE) AS total FROM s),
w AS (
    SELECT source, n_tok,
           n_tok / total                         AS p,
           sqrt(n_tok / total)                   AS pa
    FROM s CROSS JOIN tot
),
z AS (SELECT SUM(pa) AS z FROM w)
SELECT source, n_tok,
       ROUND(p, 6)              AS p_tok,
       ROUND(pa / z, 6)         AS w_alpha,
       ROUND((pa / z) / p, 6)   AS upsample
FROM w CROSS JOIN z
""",
)
def source_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source sampling weights (the multilingual
    alpha-sampling rule, alpha = 0.5): per source, its true token share
    p, the renormalized p^alpha sampling weight, and the implied
    up/down-sampling factor. The policy complement of
    ``mixture_rebalance`` (hard cap) — temperature sampling SOFTENS
    dominance instead of truncating it.

    Scale shape: ONE corpus shuffle (map-side-combined token sums per
    source); everything after is arithmetic over the sources-sized
    relation with the two scalar totals riding broadcast one-row
    cross joins. NULL source is its own stratum, as in
    mixture_rebalance."""
    docs = load(spark, sf_dir, "documents")
    d = docs.select("source", token_count(F.col("text")).alias("n_tok"))
    s = d.groupBy("source").agg(F.sum("n_tok").cast("bigint").alias("n_tok"))
    tot = s.agg(F.sum("n_tok").cast("double").alias("total"))
    w = s.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tok",
        (F.col("n_tok") / F.col("total")).alias("p"),
        F.sqrt(F.col("n_tok") / F.col("total")).alias("pa"),
    )
    z = w.agg(F.sum("pa").alias("z"))
    return w.crossJoin(F.broadcast(z)).select(
        "source",
        "n_tok",
        F.round(F.col("p"), 6).alias("p_tok"),
        F.round(F.col("pa") / F.col("z"), 6).alias("w_alpha"),
        F.round((F.col("pa") / F.col("z")) / F.col("p"), 6).alias("upsample"),
    )


from ..operators.corpus import (  # noqa: E402
    C4_BANNED_LITERAL,
    C4_BANNED_SUBSTRINGS,
    C4_MIN_LINE_WORDS,
    C4_TERMINAL_PUNCT,
    c4_line_filters,
)


def _c4_oracle() -> str:
    """C4 line rules rendered from the SAME constants as
    operators/corpus.py::c4_line_filters."""
    punct = sql_word_set(C4_TERMINAL_PUNCT)
    banned = " AND ".join(
        f"instr(lower(x), '{b}') = 0" for b in C4_BANNED_SUBSTRINGS
    )
    keep = (
        f"right(rtrim(x), 1) IN {punct}"
        f" AND len(list_filter(regexp_split_to_array(x, '\\s+'), w -> w <> ''))"
        f" >= {C4_MIN_LINE_WORDS}"
        f" AND {banned} AND instr(x, '{C4_BANNED_LITERAL}') = 0"
    )
    return f"""
WITH staged AS (
    SELECT doc_id, string_split(text, chr(10)) AS ln FROM documents
),
k AS (
    SELECT doc_id, ln, list_filter(ln, x -> {keep}) AS kept FROM staged
)
SELECT doc_id,
       CAST(COALESCE(len(ln), 0) AS BIGINT)   AS n_lines,
       CAST(COALESCE(len(kept), 0) AS BIGINT) AS n_kept,
       CASE WHEN ln IS NOT NULL
            THEN md5(COALESCE(array_to_string(kept, chr(10)), '')) END
                                              AS clean_md5
FROM k
"""


@register("c4_line_filters", oracle=_c4_oracle())
def c4_line_filters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 line-level cleaning rules (Raffel et al. 2020 §2.2): keep
    lines ending in terminal punctuation with >= 5 words and no banned
    substring; per-doc line accounting plus the md5 of the rebuilt
    cleaned text (operators/corpus.py::c4_line_filters). Two stacked
    shuffle-free projections — parquet-scan-bound at 100 TB."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return c4_line_filters(docs)


# --- Counting-trained corpus classifier + mixture KL diagnostic -------------

from ..operators.text import NB_HASH_SEED, nb_lang_scores, source_unigram_kl  # noqa: E402


def _nb_oracle_sql(toks_sql: str) -> str:
    """The NB train-and-score chain over any token expression — the
    dense-vocab form passes the raw tokenizer, the hashed-feature form
    passes the bucket mapping, and everything downstream (counts,
    smoothing, priors, argmax) is ONE definition that cannot drift
    between the two registered variants."""
    return f"""
WITH base AS (
    SELECT doc_id, lang AS actual, {toks_sql} AS toks
    FROM documents WHERE text IS NOT NULL
),
train AS (SELECT * FROM base WHERE actual IS NOT NULL),
ex AS (SELECT actual AS label, unnest(toks) AS tok FROM train),
lt AS (SELECT label, tok, COUNT(*) AS c FROM ex GROUP BY label, tok),
vocab AS (SELECT DISTINCT tok FROM lt),
vs AS (SELECT COUNT(*) AS v FROM vocab),
pri AS (
    SELECT actual AS label,
           ln(COUNT(*) * 1.0 / (SELECT COUNT(*) FROM train)) AS lprior
    FROM train GROUP BY actual
),
-- label universe from the TRAINING DOCS (pri), not from lt: a label
-- whose training docs are all empty-text has tot = 0 but a real prior
-- (mirrors operators/text.py::nb_lang_scores; golden-found defect)
ltot AS (
    SELECT p.label, COALESCE(SUM(lt.c), 0) AS tot
    FROM pri p LEFT JOIN lt ON lt.label = p.label
    GROUP BY p.label
),
model AS (
    SELECT v.tok, l.label,
           ln((COALESCE(lt.c, 0) + 1.0) / (l.tot + vs.v)) AS lp
    FROM vocab v CROSS JOIN ltot l CROSS JOIN vs
    LEFT JOIN lt ON lt.tok = v.tok AND lt.label = l.label
),
dt AS (SELECT doc_id, actual, unnest(toks) AS tok FROM base),
dtc AS (SELECT doc_id, actual, tok, COUNT(*) AS n
        FROM dt GROUP BY doc_id, actual, tok),
pl AS (
    SELECT d.doc_id, d.actual, m.label, SUM(d.n * m.lp) AS ll
    FROM dtc d JOIN model m USING (tok) GROUP BY d.doc_id, d.actual, m.label
),
post AS (
    SELECT pl.doc_id, pl.actual, pl.label,
           ROUND(p.lprior + pl.ll, 6) + 0 AS post
    FROM pl JOIN pri p ON p.label = pl.label
)
SELECT doc_id, actual AS lang, label AS pred_lang, post AS log_post,
       CAST(actual = label AS INT) AS correct
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY post DESC, label) AS rn
      FROM post)
WHERE rn = 1
ORDER BY doc_id
"""


_NB_ORACLE = _nb_oracle_sql(TK)

# Hashed-feature variant: every token maps to a seeded-md5 bucket
# BEFORE any counting (operators/text.py::nb_lang_scores n_buckets).
# 16 buckets over the ~31-token fixture vocabulary forces real
# collisions, so the differential gate exercises the fold, not an
# accidentally-injective mapping.
NB_BUCKETS = 16
_NB_HASHED_ORACLE = _nb_oracle_sql(
    f"list_transform({TK}, t -> "
    f"CAST(('0x' || substr(md5('{NB_HASH_SEED}|' || t), 1, 15)) AS BIGINT)"
    f" % {NB_BUCKETS})"
)


@register("nb_lang_classifier", oracle=_NB_ORACLE)
def nb_lang_classifier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes corpus classifier, trained by counting
    (the fastText/CCNet quality-classifier shape with a closed-form,
    hash-checkable trainer): alpha=1 token likelihoods + doc priors
    from the labeled docs, 6dp-rounded log-posterior argmax per doc
    (operators/text.py::nb_lang_scores). Model = |V| x |labels|
    broadcast relation; scoring = one doc-token-count shuffle — no
    corpus self-join, linear at 100 TB."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return nb_lang_scores(docs)


@register("nb_hashed", oracle=_NB_HASHED_ORACLE)
def nb_hashed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature Naive Bayes (r9 verdict item 2): the same
    counting trainer with tokens folded into {NB_BUCKETS} seeded-hash
    buckets (the DSIR hashing-trick posture,
    operators/corpus.py::dsir_log_weights), so the broadcast model is
    AT MOST n_buckets x |labels| rows regardless of corpus vocabulary —
    the open-web-scale form of nb_lang_classifier, whose dense
    |V| x |labels| grid grows with corpus content and stays registered
    as the judged baseline. Scale shape otherwise identical: one
    doc-bucket-count shuffle, no corpus self-join."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return nb_lang_scores(docs, n_buckets=NB_BUCKETS)


_KL_ORACLE = f"""
WITH st AS (
    SELECT source, unnest({TK}) AS tok
    FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
),
sc AS (SELECT source, tok, COUNT(*) AS c FROM st GROUP BY source, tok),
stot AS (SELECT source, SUM(c) AS stot FROM sc GROUP BY source),
ct AS (SELECT tok, SUM(c) AS cc FROM sc GROUP BY tok),
ctot AS (SELECT SUM(cc) AS ctot FROM ct)
SELECT sc.source,
       CAST(MAX(stot.stot) AS BIGINT) AS n_tokens,
       ROUND(SUM((sc.c * 1.0 / stot.stot)
                 * ln((sc.c * 1.0 / stot.stot)
                      / (ct.cc * 1.0 / ctot.ctot))), 6) + 0 AS kl_divergence
FROM sc
JOIN stot USING (source)
JOIN ct USING (tok)
CROSS JOIN ctot
GROUP BY sc.source
ORDER BY sc.source
"""


@register("source_kl_divergence", oracle=_KL_ORACLE)
def source_kl_divergence_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(p_source || p_corpus) over unigram token distributions — the
    mixture diagnostic temperature sampling / DSIR act on
    (operators/text.py::source_unigram_kl). One (source, token)
    shuffle; the corpus marginal is a vocab-bounded broadcast."""
    docs = load(spark, sf_dir, "documents").select("source", "text")
    return source_unigram_kl(docs)

_BG = "[tk[i] || ' ' || tk[i+1] for i in generate_series(1, len(tk) - 1)]"


@register(
    "repetition_stats",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TK} AS tk FROM documents),
b AS (SELECT doc_id, tk, {_BG} AS bg FROM t)
SELECT doc_id,
       CAST(len(tk) AS BIGINT) AS n_tokens,
       CASE WHEN len(tk) > 0 THEN
         ROUND(1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE), 6)
       END AS dup_token_frac,
       CASE WHEN len(bg) > 0 THEN
         ROUND(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / CAST(len(bg) AS DOUBLE), 6)
       END AS dup_bigram_frac
FROM b
""",
)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition fractions (duplicate tokens / bigrams per
    document) as pure projections — no shuffle (operators/corpus.py)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return with_repetition_stats(docs).select(
        "doc_id", "n_tokens", "dup_token_frac", "dup_bigram_frac"
    )


@register(
    "top_bigram_frac",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TK} AS tk FROM documents),
b AS (SELECT doc_id, unnest({_BG}) AS bg FROM t),
c AS (SELECT doc_id, bg, COUNT(*) AS cnt FROM b GROUP BY 1, 2)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
       ROUND(CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 6) AS top_bigram_frac
FROM c GROUP BY doc_id
""",
)
def top_bigram_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-frequent-bigram share per document (the Gopher top-2-gram
    filter): explode + two-level aggregation with map-side partials
    (operators/corpus.py)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return top_bigram_fraction(docs)


@register(
    "char_entropy",
    oracle="""
WITH t AS (
    SELECT doc_id,
           list_transform(generate_series(1, length(text)), i -> substr(text, i, 1)) AS cs
    FROM documents
)
SELECT doc_id,
       CASE WHEN len(cs) > 0 THEN
         ROUND(-list_sum(list_transform(list_distinct(cs),
             d -> (CAST(len(list_filter(cs, c -> c = d)) AS DOUBLE)
                   / CAST(len(cs) AS DOUBLE))
                  * log2(CAST(len(list_filter(cs, c -> c = d)) AS DOUBLE)
                         / CAST(len(cs) AS DOUBLE)))), 6)
       END AS char_entropy
FROM t
""",
)
def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the per-document character distribution — a
    gibberish/compressibility quality signal, computed as one
    higher-order-function projection per row, no explode, no shuffle
    (operators/corpus.py::with_char_entropy)."""
    docs = fan_out(load(spark, sf_dir, "documents").select("doc_id", "text"))
    return with_char_entropy(docs).select("doc_id", "char_entropy")


# Hashed-bucket twin (r10 verdict item 3): grams and prefixes fold to
# seeded-hash buckets BEFORE both count passes. 64 buckets over the
# fixture's ~2-4k observed trigrams forces real collisions, so the
# differential gate exercises the fold itself (the nb_hashed posture).
TRI_BUCKETS = 64


@register(
    "trigram_lm_hashed",
    oracle=f"""
WITH t AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
g AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, greatest(length(s) - 2, 0)),
                                 i -> substr(s, i, 3))) AS gram
    FROM t
),
h AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5('{TRI_HASH_SEED}|' || gram), 1, 15)) AS BIGINT)
               % {TRI_BUCKETS} AS tb,
           CAST(('0x' || substr(md5('{PRE_HASH_SEED}|' || substr(gram, 1, 2)), 1, 15)) AS BIGINT)
               % {TRI_BUCKETS} AS pb
    FROM g
),
c3 AS (SELECT tb, COUNT(*) AS n3 FROM h GROUP BY tb),
c2 AS (SELECT pb, COUNT(*) AS n2 FROM h GROUP BY pb)
SELECT h.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_trigrams,
       ROUND(AVG(log2(CAST(n3 AS DOUBLE) / CAST(n2 AS DOUBLE))), 6) AS avg_logp
FROM h JOIN c3 USING (tb) JOIN c2 USING (pb)
GROUP BY h.doc_id
""",
)
def trigram_lm_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-bucket trigram LM scoring — the scale-safe twin of
    ``trigram_lm_score`` for OPEN charsets (SCALE.md §19.3): both
    model tables are <= {TRI_BUCKETS} rows BY CONTRACT (a knob, not
    the |charset|^3 alphabet assumption a CJK-bearing corpus breaks at
    ~1e8 observed trigrams), the same seeded-hash fold nb_hashed and
    dsir_log_weights ship, applied AT the explode projection so train
    and score cannot drift. The dense form stays registered as the
    judged baseline (operators/text.py::trigram_lm_scores)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return trigram_lm_scores(docs, n_buckets=TRI_BUCKETS)
