"""Training-corpus preparation operators for LLM data pipelines.

The operations that sit between "raw crawl" and "tokenizer input" at
100 TB (BASELINE.json north star): repetition-based quality signals
(Gopher-style), PII scrubbing, token-budget sequence packing, and the
composed filter -> dedup -> near-dedup pipeline. Everything is built-in
Spark SQL expressions — codegen'd projections and ordinary shuffles, no
Python in the hot path — and every operator has a DuckDB oracle twin in
plans/corpus_quality.py and plans/corpus_prep.py.

Scale notes per operator:
- repetition stats: the distinct-ratio signals are pure projections
  (array ops per row, no shuffle); the top-bigram signal is the
  standard explode + two-level aggregation — shuffle volume is
  docs x bigrams rows, partial-aggregated map-side.
- PII scrub: one regexp_replace chain per row, zero shuffle.
- sequence packing: one window per pack key. Packing is per-key by
  construction (a global greedy pack would serialize the cluster);
  choose the key so one key's documents fit one executor's window —
  at 100 TB that is a (source, date-bucket) style key.
- corpus pipeline: composition of already-audited stages; the minhash
  near-dup join runs on the filtered survivor set, so its docs x bands
  shuffle shrinks with the quality gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.textfns import shingles, token_count, tokens
from .dedup import fan_out, minhash_dedup_pairs
from .text import quality_score

# Conservative patterns valid in both Java regex (Spark) and RE2 (DuckDB).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{3,4}"


def _bigrams(toks: Column) -> Column:
    """Adjacent token pairs as 'a b' strings (non-distinct — repetition
    signals need multiplicity). Empty for docs with < 2 tokens."""
    n = F.size(toks)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda x, y: F.concat_ws(" ", x, y),
        ),
    ).otherwise(F.array().cast("array<string>"))


def with_repetition_stats(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals as pure projections: the fraction
    of duplicate tokens and duplicate bigrams per document (1 - distinct
    ratio). High values flag boilerplate/keyword-stuffed documents."""
    toks = tokens(text_col)
    bg = _bigrams(toks)
    n_tok = F.size(toks).cast("double")
    n_bg = F.size(bg).cast("double")
    return (
        df.withColumn("n_tokens", F.size(toks).cast("bigint"))
        .withColumn(
            "dup_token_frac",
            F.when(
                n_tok > 0,
                F.round(1.0 - F.size(F.array_distinct(toks)).cast("double") / n_tok, 6),
            ),
        )
        .withColumn(
            "dup_bigram_frac",
            F.when(
                n_bg > 0,
                F.round(1.0 - F.size(F.array_distinct(bg)).cast("double") / n_bg, 6),
            ),
        )
    )


def top_bigram_fraction(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Fraction of all bigram occurrences taken by the single most
    frequent bigram (the Gopher top-2-gram filter signal). Explode +
    two-level aggregation: per-(doc,bigram) counts partial-aggregate
    map-side, then one row per doc. Docs with < 2 tokens drop out (no
    bigrams), matching the oracle."""
    ex = fan_out(df.select(id_col, text_col)).select(
        id_col, F.explode(_bigrams(tokens(text_col))).alias("bg")
    )
    per_bg = ex.groupBy(id_col, "bg").agg(F.count("*").alias("cnt"))
    return per_bg.groupBy(id_col).agg(
        F.sum("cnt").alias("n_bigrams"),
        F.round(F.max("cnt").cast("double") / F.sum("cnt").cast("double"), 6).alias(
            "top_bigram_frac"
        ),
    )


def scrub_pii(
    df: DataFrame, *, text_col: str, out_col: str = "scrubbed"
) -> DataFrame:
    """Redact email addresses and phone numbers with typed placeholders.
    One codegen'd regexp_replace chain per row — no shuffle, no UDF."""
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col(text_col), EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return df.withColumn(out_col, scrubbed)


def pack_sequences(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    key_col: str = "source",
    text_col: str = "text",
    budget: int = 512,
) -> DataFrame:
    """Token-budget sequence packing: within each pack key, documents
    are laid end-to-end in deterministic ``id_col`` order and assigned
    the training shard their first token lands in (GPT-style contiguous
    packing — a document may straddle a shard boundary).

    One window per key; integer arithmetic only, so the assignment is
    bit-stable across engines. The pack key bounds window state — pick
    it so a single key fits one executor (see module docstring)."""
    n_tok = token_count(F.col(text_col)).cast("bigint")
    w = (
        Window.partitionBy(key_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_tok = df.select(id_col, key_col, n_tok.alias("n_tokens"))
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("bigint"))
    return with_tok.select(
        id_col,
        key_col,
        "n_tokens",
        F.floor(cum_before / budget).cast("bigint").alias("shard_id"),
        (cum_before % budget).alias("shard_offset"),
    )


def prepare_corpus(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.55,
    near_dup_threshold: float = 0.5,
) -> DataFrame:
    """The composed training-corpus preparation pipeline:

    1. quality gate   — keep documents scoring >= ``min_quality``;
    2. exact dedup    — keep the lowest ``id_col`` per normalized-text
                        fingerprint (row_number + WindowGroupLimit);
    3. near dedup     — MinHash+LSH pairs at >= ``near_dup_threshold``
                        among the survivors; every pair's higher id is
                        dropped (left-anti join), keeping the canonical
                        lower id.

    Each stage is an already-audited operator; the near-dup join runs on
    the filtered survivor set only. Returns the kept documents with
    their token counts and quality scores."""
    from .text import with_fingerprint

    scored = quality_score(df.select(id_col, "source", text_col))
    kept = scored.filter(F.col("quality_score") >= min_quality)
    fp = with_fingerprint(kept, text_col=text_col)
    w = Window.partitionBy("fp_md5").orderBy(id_col)
    deduped = (
        fp.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "fp_md5", "fp_sha256")
    )
    pairs = minhash_dedup_pairs(
        deduped, id_col=id_col, text_col=text_col, threshold=near_dup_threshold
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    out = deduped.join(losers, id_col, "left_anti").select(
        id_col,
        "source",
        token_count(F.col(text_col)).cast("bigint").alias("n_tokens"),
        "quality_score",
    )
    out._cached_frames = getattr(pairs, "_cached_frames", [])  # type: ignore[attr-defined]
    return out


def chunk_documents(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 16,
    stride: int = 8,
) -> DataFrame:
    """Split documents into overlapping token windows (context-window
    sharding for training/retrieval). Chunk c covers tokens
    [1 + c*stride, 1 + c*stride + chunk_tokens); the last chunk may be
    short; chunks whose start falls past the end are not emitted.

    One generate-and-explode projection per document — the 1->N row
    multiplier happens inside codegen, no shuffle, no Python."""
    toks = tokens(text_col)
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(stride))
    ex = df.select(
        id_col,
        toks.alias("__toks"),
        F.posexplode(starts).alias("chunk_id", "start"),
    )
    piece = F.slice(F.col("__toks"), F.col("start"), F.lit(chunk_tokens))
    return ex.select(
        id_col,
        "chunk_id",
        F.col("start").cast("bigint").alias("start_token"),
        F.size(piece).cast("bigint").alias("chunk_len"),
        F.md5(F.array_join(piece, " ")).alias("chunk_md5"),
    )


def with_char_entropy(
    df: DataFrame, *, text_col: str = "text", out_col: str = "char_entropy"
) -> DataFrame:
    """Shannon entropy (bits) of the character distribution per document
    — a cheap gibberish/compressibility signal (low entropy = repeated
    boilerplate, very high = random noise). Computed entirely with
    array higher-order functions as one projection per row: distinct
    chars x count-within-array, no explode, no shuffle."""
    chars = F.filter(F.split(F.col(text_col), ""), lambda c: c != F.lit(""))
    n = F.size(chars).cast("double")
    per_char = F.transform(
        F.array_distinct(chars),
        lambda d: F.size(F.filter(chars, lambda c: c == d)).cast("double") / n,
    )
    ent = -F.aggregate(
        per_char,
        F.lit(0.0),
        lambda acc, p: acc + p * F.log2(p),
    )
    return df.withColumn(
        out_col, F.when(n > 0, F.round(ent, 6)).otherwise(F.lit(None).cast("double"))
    )


def contamination_overlap(
    train: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 8,
) -> DataFrame:
    """Train/eval decontamination: flag training documents sharing at
    least one ``ngram``-gram with any benchmark document (the GPT-3 /
    Llama decontamination rule). Returns every train doc with its count
    of distinct overlapping n-grams and the matched benchmark doc count.

    Plan shape: explode distinct n-grams on both sides, equi-join on the
    n-gram. Eval suites are tiny relative to the corpus, so the
    benchmark side is broadcast — the 100 TB train side never shuffles
    and unmatched n-grams are dropped at the hash probe. Output grain is
    one row per train doc (left join keeps clean docs with zero
    counts)."""
    def grams(frame: DataFrame, out: str) -> DataFrame:
        return fan_out(frame.select(id_col, text_col)).select(
            F.col(id_col).alias(out),
            F.explode(shingles(tokens(text_col), ngram)).alias("gram"),
        )

    train_grams = grams(train, "train_id")
    bench_grams = grams(benchmark, "bench_id")
    hits = (
        train_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("train_id")
        .agg(
            F.countDistinct("gram").alias("n_overlap_grams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )
    return (
        train.select(F.col(id_col).alias("train_id"))
        .join(hits, "train_id", "left")
        .select(
            F.col("train_id").alias(id_col),
            F.coalesce("n_overlap_grams", F.lit(0)).alias("n_overlap_grams"),
            F.coalesce("n_bench_docs", F.lit(0)).alias("n_bench_docs"),
            (F.coalesce("n_overlap_grams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


DSIR_SEED = 31


def dsir_log_weights(
    df: DataFrame,
    *,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023):
    score every document by how target-like it is under hashed-n-gram
    multinomial models. Features are word unigrams + bigrams hashed
    into ``n_buckets``; the target and raw bucket distributions are
    Laplace-smoothed counts (target = rows where ``target`` is true,
    raw = the whole corpus); each doc's ``log_weight`` is the summed
    log2 likelihood ratio of its feature occurrences — the sampling
    weight importance resampling draws against.

    Scale shape: ONE explode of the feature stream (persisted — it
    feeds the bucket-count aggregate and the scoring join; at 100 TB
    materialize it, or the bucket table, once); both n-gram models
    together are one ``n_buckets``-row table (two counts per bucket in
    a single map-side-combined aggregate — the hashing trick is exactly
    what makes the model broadcastable at any corpus size, vs an
    unbounded vocabulary); totals ride a 1-row broadcast; scoring joins
    the broadcast model back onto the stream. All counts are exact
    integers; the only floats are the final log2s, summed per doc and
    rounded at the edge. Docs with zero features (empty/NULL text) have
    no defined weight and drop out — the caller's funnel accounts for
    them upstream (quality_gate_funnel stage 0).
    """
    from ..functions.textfns import seeded_hash60

    toks = tokens(text_col)
    feats = F.concat(toks, shingles(toks, 2, distinct=False))
    ex = (
        df.select(
            F.col(id_col), target.alias("__is_t"), F.explode(feats).alias("__feat")
        )
        .withColumn("__b", seeded_hash60(F.col("__feat"), DSIR_SEED) % n_buckets)
        .persist()
    )
    buckets = ex.groupBy("__b").agg(
        F.sum(F.when(F.col("__is_t"), 1).otherwise(0)).alias("__nt"),
        F.count("*").alias("__nr"),
    )
    totals = buckets.agg(
        F.sum("__nt").alias("__tt"), F.sum("__nr").alias("__tr")
    )
    model = buckets.crossJoin(F.broadcast(totals)).select(
        "__b",
        (
            F.log2((F.col("__nt") + 1) / (F.col("__tt") + n_buckets))
            - F.log2((F.col("__nr") + 1) / (F.col("__tr") + n_buckets))
        ).alias("__lr"),
    )
    out = (
        ex.join(F.broadcast(model), "__b")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_feats"),
            # + 0.0 folds IEEE -0.0 to +0.0: a doc whose target/raw
            # log-ratios cancel can round to NEGATIVE zero on one
            # engine and positive on the other (observed once in the
            # round-8 sf1 differential sweep) — numerically equal,
            # hash-different. The oracle adds + 0 at the same edge.
            (F.round(F.sum("__lr"), 6) + F.lit(0.0)).alias("log_weight"),
        )
        .orderBy(id_col)
    )
    out._cached_frames = [ex]  # type: ignore[attr-defined]
    return out


def bigram_pmi(
    df: DataFrame,
    *,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Collocation mining via pointwise mutual information: the top-k
    adjacent token pairs whose joint frequency most exceeds what their
    marginals predict — the classic signal for multi-word expressions,
    tokenizer merge candidates (BPE seeds), and template detection.

    PMI(w1,w2) = log2 P(w1 w2) - log2 P(w1) - log2 P(w2), with the pair
    probability under the bigram-occurrence total and the marginals
    under the token-occurrence total; pairs below ``min_count`` are cut
    first (PMI's low-frequency pathology). Computed as separate log2s of
    double ratios — the integer cross-product form would overflow BIGINT
    at corpus scale (N² with N ~ 10^12 tokens at 100 TB).

    Scale shape: one explode each for unigram and bigram occurrence
    counts (both map-side combined); the two totals are 1-row
    broadcasts; the bigram->marginal lookups are shuffle EQUI-JOINS on
    the token (the vocabulary scales with the corpus — broadcast would
    not survive web-scale vocab; the frequency cut shrinks the left
    side first); the top-k compiles to TakeOrderedAndProject. Ordering
    is total: (pmi desc, w1, w2) on the 6dp-rounded score."""
    toks = tokens(text_col)
    # Both count tables feed two consumers each (their total + the
    # scoring join): persist them so each corpus explode runs ONCE.
    # They are vocab-sized (unigram) / pair-vocab-sized (bigram), so
    # the cache cost is bounded by the vocabulary, not the corpus.
    # _cached_frames contract as minhash — release via release_cached.
    uni = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n_w"))
        .persist()
    )
    bi_counts = (
        df.select(F.explode(_bigrams(toks)).alias("bg"))
        .groupBy("bg")
        .agg(F.count("*").alias("n_pair"))
        .persist()
    )
    totals = uni.agg(F.sum("n_w").alias("n_tok")).crossJoin(
        bi_counts.agg(F.sum("n_pair").alias("n_bi"))
    )
    bi = (
        bi_counts.filter(F.col("n_pair") >= min_count)
        .withColumn("w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .withColumn("w2", F.split_part(F.col("bg"), F.lit(" "), F.lit(2)))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_w1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_w2"))
    scored = (
        bi.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(
                F.log2(F.col("n_pair") / F.col("n_bi"))
                - F.log2(F.col("n_w1") / F.col("n_tok"))
                - F.log2(F.col("n_w2") / F.col("n_tok")),
                6,
            ).alias("pmi"),
        )
    )
    out = scored.orderBy(F.col("pmi").desc(), "w1", "w2").limit(k)
    out._cached_frames = [uni, bi_counts]  # type: ignore[attr-defined]
    return out


# Cumulative gate flags quality_gate_stats emits, in funnel order. THE
# stage-count definition: the batch funnel's aggregate/stack and its
# oracle's stage union (plans/corpus_quality.py), the streaming
# sink's stage fan-out, and read_funnel's zero-fill spine all derive
# from this. Adding a gate means defining its predicate in TWO places —
# quality_gate_stats below and the oracle's `gated` CTE (the SQL twin
# of the semantics) — after which every stage fan-out updates itself.
GATE_COLS = ["g1", "g2", "g3"]
N_GATE_STAGES = len(GATE_COLS) + 1  # + stage 0 (every landed doc)


def quality_gate_stats(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document quality-gate flags — the shared front end of the
    batch funnel (plans/corpus_quality.py::quality_gate_funnel) and
    the streaming funnel sink (streaming/funnel_sink.py), so both
    surfaces gate identically by construction.

    (id, n_tok, g1, g2, g3) with CUMULATIVE gates: (1) length >= 20
    tokens, (2) >= 90% tokens of sane length 2-12 chars, (3) top token
    <= 20% of the doc. Thresholds compare in exact integer arithmetic
    (cross-multiplied). Zero-token and NULL-text docs survive as
    all-False rows (explode drops empty arrays; they re-enter via the
    union branch) — a funnel whose stage-0 count is wrong is useless."""
    tk = df.select(
        F.col(id_col),
        tokens(text_col).alias("__tk"),
    ).select(
        id_col,
        "__tk",
        F.when(F.col("__tk").isNull(), F.lit(0))
        .otherwise(F.size("__tk"))
        .alias("n_tok"),
    )
    per_tok = tk.filter(F.col("n_tok") > 0).select(
        id_col, "n_tok", F.explode("__tk").alias("__tok")
    )
    counts = per_tok.groupBy(id_col, "n_tok", "__tok").agg(
        F.count("*").alias("__cnt")
    )
    per_doc = counts.groupBy(id_col, "n_tok").agg(
        F.max("__cnt").alias("__top_tok_cnt"),
        F.sum(
            F.when(F.length("__tok").between(2, 12), F.col("__cnt")).otherwise(
                F.lit(0)
            )
        ).alias("__ok_len_toks"),
    ).unionByName(
        tk.filter(F.col("n_tok") == 0).select(
            id_col,
            "n_tok",
            F.lit(0).cast("long").alias("__top_tok_cnt"),
            F.lit(0).cast("long").alias("__ok_len_toks"),
        )
    )
    g1 = F.col("n_tok") >= 20
    g2 = g1 & (F.col("__ok_len_toks") * 10 >= F.col("n_tok") * 9)
    g3 = g2 & (F.col("__top_tok_cnt") * 5 <= F.col("n_tok"))
    return per_doc.select(
        id_col, "n_tok", g1.alias("g1"), g2.alias("g2"), g3.alias("g3")
    )


# Gopher document-quality rule constants (Rae et al. 2021, Table A1 —
# the published MassiveText filter; public knowledge). Shared with the
# DuckDB oracle in plans/corpus_quality.py so the two render from one
# definition.
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_MEAN_LEN, GOPHER_MAX_MEAN_LEN = 3.0, 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_ELLIPSIS_LINE_FRAC = 0.3
GOPHER_MAX_BULLET_LINE_FRAC = 0.9
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8
GOPHER_MIN_STOPWORDS = 2
GOPHER_BULLETS = ("-", "*", "•")  # leading bullet glyphs


def gopher_quality_rules(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The Gopher/MassiveText per-document quality rules as one
    projection chain: word-count bounds, mean-word-length bounds,
    symbol-to-word ratio, ellipsis-line and bullet-line fractions,
    alphabetic-word fraction, and distinct-stopword presence — plus the
    AND of all seven (``pass_gopher``).

    Contract notes (adversarial-gate portable):
    - a NULL-text document fails every rule (FALSE, not NULL), so the
      pass column is total;
    - ratio rules are guarded by ``n_words > 0`` / ``n_lines > 0`` —
      never an ANSI division;
    - word matching is exact token membership (see the LANG_MARKERS
      note in operators/text.py), never a \\b regex.

    Scale shape: three stacked projections, zero shuffles. The token
    and line arrays are materialized ONCE as columns and every rule
    reads the column — higher-order functions are CodegenFallback, so
    an inline form would re-split per rule (the lang_id lesson)."""
    from .text import ENGLISH_STOPWORDS

    t = F.col(text_col)
    staged = df.select(
        id_col,
        tokens(text_col).alias("__tk"),
        F.split(t, "\n").alias("__ln"),
        # '#' occurrences + literal '...' runs + unicode ellipsis
        (
            (F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit(""))))
            + F.regexp_count(t, F.lit(r"\.\.\."))
            + (F.length(t) - F.length(F.replace(t, F.lit("…"), F.lit(""))))
        ).alias("__n_sym"),
    )
    tk, ln = F.col("__tk"), F.col("__ln")
    n_w = F.coalesce(F.size(tk), F.lit(0)).cast("bigint")
    n_l = F.coalesce(F.size(ln), F.lit(0)).cast("bigint")
    is_ellipsis = lambda x: F.rtrim(x).endswith("...") | F.rtrim(x).endswith("…")  # noqa: E731
    is_bullet = lambda x: F.substring(F.ltrim(x), 1, 1).isin(*GOPHER_BULLETS)  # noqa: E731
    measured = staged.select(
        id_col,
        n_w.alias("n_words"),
        n_l.alias("__n_lines"),
        F.col("__n_sym").alias("__n_sym2"),
        F.aggregate(
            F.coalesce(tk, F.array().cast("array<string>")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + F.length(x),
        ).alias("__tok_chars"),
        F.size(F.filter(tk, lambda x: x.rlike("[a-z]"))).alias("__n_alpha"),
        F.size(F.array_distinct(F.filter(tk, lambda x: x.isin(*ENGLISH_STOPWORDS)))).alias(
            "__n_stop"
        ),
        F.size(F.filter(ln, is_ellipsis)).alias("__n_ell"),
        F.size(F.filter(ln, is_bullet)).alias("__n_bul"),
    )
    nw = F.col("n_words")
    ruled = measured.select(
        id_col,
        "n_words",
        ((nw >= GOPHER_MIN_WORDS) & (nw <= GOPHER_MAX_WORDS)).alias("r_word_count"),
        F.when(
            nw > 0,
            (F.col("__tok_chars") >= GOPHER_MIN_MEAN_LEN * nw)
            & (F.col("__tok_chars") <= GOPHER_MAX_MEAN_LEN * nw),
        ).otherwise(F.lit(False)).alias("r_mean_word_len"),
        F.when(nw > 0, F.col("__n_sym2") <= GOPHER_MAX_SYMBOL_RATIO * nw)
        .otherwise(F.lit(False))
        .alias("r_symbol_ratio"),
        F.when(
            F.col("__n_lines") > 0,
            F.col("__n_ell") <= GOPHER_MAX_ELLIPSIS_LINE_FRAC * F.col("__n_lines"),
        ).otherwise(F.lit(False)).alias("r_ellipsis_lines"),
        F.when(
            F.col("__n_lines") > 0,
            F.col("__n_bul") <= GOPHER_MAX_BULLET_LINE_FRAC * F.col("__n_lines"),
        ).otherwise(F.lit(False)).alias("r_bullet_lines"),
        F.when(nw > 0, F.col("__n_alpha") >= GOPHER_MIN_ALPHA_WORD_FRAC * nw)
        .otherwise(F.lit(False))
        .alias("r_alpha_words"),
        (F.coalesce(F.col("__n_stop"), F.lit(0)) >= GOPHER_MIN_STOPWORDS).alias(
            "r_stopwords"
        ),
    )
    rules = [
        "r_word_count",
        "r_mean_word_len",
        "r_symbol_ratio",
        "r_ellipsis_lines",
        "r_bullet_lines",
        "r_alpha_words",
        "r_stopwords",
    ]
    out = F.lit(True)
    for r in rules:
        out = out & F.col(r)
    return ruled.select(id_col, "n_words", *rules, out.alias("pass_gopher"))


# C4 line-filter constants (Raffel et al. 2020 §2.2 — the published
# C4 cleaning heuristics; public knowledge). Rendered for both engines
# from these definitions (plans/corpus_quality.py).
C4_TERMINAL_PUNCT = (".", "!", "?", '"')
C4_MIN_LINE_WORDS = 5
C4_BANNED_SUBSTRINGS = ("javascript", "lorem ipsum")  # matched lowercased
C4_BANNED_LITERAL = "{"


def c4_line_filters(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The C4 line-level cleaning rules: keep a line iff it ends in
    terminal punctuation, has >= {C4_MIN_LINE_WORDS} words, and contains
    no banned substring ('javascript', 'lorem ipsum', a curly brace).
    Emits per-doc line accounting plus the md5 of the CLEANED text
    (kept lines rejoined) so the rebuild is value-checked, not just
    counted.

    Contract notes: a NULL-text doc reports 0/0 with a NULL hash; a doc
    whose every line is dropped hashes '' (the total-rebuild twin of
    the doc_fingerprint hash('') convention). Scale shape: two stacked
    projections, zero shuffles — line and kept arrays materialize once
    per row (HOFs are CodegenFallback; see gopher_quality_rules)."""
    t = F.col(text_col)

    def n_words(x: Column) -> Column:
        return F.size(F.filter(F.split(x, r"\s+"), lambda w: w != F.lit("")))

    def keep(x: Column) -> Column:
        kp = F.substring(F.rtrim(x), -1, 1).isin(*C4_TERMINAL_PUNCT)
        kp = kp & (n_words(x) >= C4_MIN_LINE_WORDS)
        for b in C4_BANNED_SUBSTRINGS:
            kp = kp & (F.instr(F.lower(x), b) == 0)
        return kp & (F.instr(x, C4_BANNED_LITERAL) == 0)

    staged = df.select(id_col, F.split(t, "\n").alias("__ln"))
    kept = staged.select(
        id_col,
        "__ln",
        F.filter(F.col("__ln"), keep).alias("__kept"),
    )
    return kept.select(
        id_col,
        F.coalesce(F.size("__ln"), F.lit(0)).cast("bigint").alias("n_lines"),
        F.coalesce(F.size("__kept"), F.lit(0)).cast("bigint").alias("n_kept"),
        F.when(
            F.col("__ln").isNotNull(), F.md5(F.array_join(F.col("__kept"), "\n"))
        ).alias("clean_md5"),
    )
