"""Text-analysis operators for LLM training-data pipelines.

Beyond the reference surface (BASELINE.json north star): language ID,
quality scoring, token counting, and document fingerprinting over the
``documents`` table. All built-in Spark SQL expressions — one codegen'd
projection per document, no shuffle, no UDFs — so throughput at 100 TB is
bounded by parquet scan speed, not Python.

Each operator has a DuckDB oracle twin in plans/text_queries.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.textfns import normalized_text, token_count, tokens

# Marker stopwords per language for the stopword-voting heuristic.
# Deliberately tiny and transparent: the point is the *operator shape*
# (vectorized token counting + deterministic argmax), not model quality.
#
# The contract is EXACT TOKEN MEMBERSHIP over the shared tokens()
# tokenizer, not a \b-delimited regex scan: Java's \b is Unicode-aware
# (ß, é are word chars) while RE2's is ASCII-only, so the regex form
# silently diverges between the engine and the DuckDB oracle on any
# non-ASCII text ("straße" contains a standalone RE2-word 'e' that Java
# never sees — adversarial gate, round 8). Byte-exact string equality
# is the only word-match primitive both engines define identically.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "des"),
    "es": ("el", "la", "los", "las", "y", "es", "un", "una", "de"),
    "pt": ("o", "a", "os", "as", "e", "um", "uma", "não", "de", "que"),
}

ENGLISH_STOPWORDS: tuple[str, ...] = (
    "the", "and", "of", "to", "a", "in", "is", "it",
    "for", "on", "with", "as", "at", "by",
)


def marker_count_tokens(toks: Column, words: tuple[str, ...]) -> Column:
    """Count of tokens in ``toks`` exactly equal to one of ``words``."""
    return F.size(F.filter(toks, lambda x: x.isin(*words)))


def marker_count(text: str | Column, words: tuple[str, ...]) -> Column:
    """Count of whitespace tokens exactly equal to one of ``words``
    (tokens() lowercases, so the match is case-insensitive).

    Embeds the tokenization in the expression — fine for a single
    count. An expression that references MANY marker counts (the
    lang-ID vote) must instead materialize the token array once per row
    and use ``marker_count_tokens`` over the column: higher-order
    functions are CodegenFallback, so Catalyst's subexpression
    elimination does not dedupe the repeated splits (measured 3x on
    lang_id before staging)."""
    return marker_count_tokens(tokens(text), words)


def stopword_count(text: str | Column) -> Column:
    return marker_count(text, ENGLISH_STOPWORDS)


def lang_scores(text: str | Column) -> dict[str, Column]:
    return {lang: marker_count(text, words) for lang, words in LANG_MARKERS.items()}


def vote_argmax(scores: dict[str, Column]) -> Column:
    """THE deterministic marker-vote rule, defined once: first language
    (in dict order) with the strictly-highest vote; 'und' when all votes
    are zero. Integer comparisons only — bit-stable across engines.
    Shared by ``predict_lang`` (whole-doc) and ``lang_segments``
    (per-segment), so the two cannot drift."""
    best = F.greatest(*scores.values())
    expr: Column = F.lit("und")
    for lang in reversed(list(scores)):
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def predict_lang(text: str | Column) -> Column:
    """Deterministic argmax over marker counts (see ``vote_argmax``)."""
    return vote_argmax(lang_scores(text))


def with_text_stats(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Token count, char counts, punctuation/digit/whitespace ratios,
    average token length — the standard quality-signal bundle."""
    t = F.col(text_col)
    toks = tokens(t)
    n_tok = F.size(toks)
    n_char = F.length(t)
    return (
        df.withColumn("n_tokens", n_tok)
        .withColumn("n_chars_m", n_char)
        .withColumn("n_punct", F.regexp_count(t, F.lit(r"[^\w\s]")))
        .withColumn("n_digits", F.regexp_count(t, F.lit(r"[0-9]")))
        .withColumn(
            "avg_token_len",
            F.when(
                n_tok > 0,
                F.round(
                    F.aggregate(
                        toks, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
                    ).cast("double")
                    / n_tok.cast("double"),
                    6,
                ),
            ),
        )
        .withColumn("n_stopwords", stopword_count(t))
    )


def quality_score(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Composite quality score in [0,1]: rewards stopword presence and
    moderate token length, penalizes punctuation/digit noise. The exact
    formula is arbitrary-but-fixed; what matters is that it is pure
    column arithmetic (rounded for cross-engine stability)."""
    t = F.col(text_col)
    n_tok = token_count(t).cast("double")
    n_char = F.length(t).cast("double")
    punct_ratio = F.regexp_count(t, F.lit(r"[^\w\s]")).cast("double") / F.greatest(n_char, F.lit(1.0))
    stop_ratio = stopword_count(t).cast("double") / F.greatest(n_tok, F.lit(1.0))
    length_ok = F.when((n_tok >= 10) & (n_tok <= 1000), F.lit(1.0)).otherwise(F.lit(0.5))
    score = length_ok * (F.lit(0.5) + F.lit(0.5) * F.least(stop_ratio * 2, F.lit(1.0))) * (
        F.lit(1.0) - F.least(punct_ratio * 4, F.lit(0.8))
    )
    return df.withColumn("quality_score", F.round(score, 6))


def with_fingerprint(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Content fingerprints: md5 + sha256 of the whitespace-normalized
    text. The exact-dedup / provenance primitive."""
    norm = normalized_text(text_col)
    return df.withColumn("fp_md5", F.md5(norm)).withColumn("fp_sha256", F.sha2(norm, 256))


def char_trigrams(text: str | Column) -> Column:
    """All overlapping character trigrams of the lowercased/trimmed text
    (duplicates kept — they are separate LM observations). Pure
    higher-order-function projection, no explode yet."""
    col = F.col(text) if isinstance(text, str) else text
    s = F.lower(F.trim(col))
    n = F.length(s) - F.lit(2)
    # sequence(1, n) DESCENDS for n < 1 (it never returns empty), so
    # short texts need an explicit empty-array branch.
    return F.when(
        n >= 1,
        F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(s, i, F.lit(3))),
    ).otherwise(F.array().cast("array<string>"))


# Seeds for the hashed-bucket trigram LM twin (distinct per role so the
# trigram and prefix folds are independent hash families; disjoint from
# NB_HASH_SEED and the minhash seed family).
TRI_HASH_SEED = 53
PRE_HASH_SEED = 59


def trigram_lm_scores(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int | None = None,
) -> DataFrame:
    """Character-trigram language-model scoring — the classic cheap
    perplexity proxy for corpus quality filtering (a KenLM stand-in that
    needs no external model artifact).

    Two-pass, both distributed:
    1. TRAIN: explode trigrams once, aggregate conditional counts
       P(c3 | c1c2) = count(trigram) / count(prefix-bigram). The model is
       bounded by |charset|^3 rows regardless of corpus size, so it
       BROADCASTS — the defining scale property. Boundedness caveat
       (round-10 broadcast audit): |charset| is a property of the
       ALPHABET contract, not the corpus — real for a
       Latin/Cyrillic-script pipeline (<= a few hundred chars), but an
       open multilingual charset (CJK: 20k+ chars) makes |charset|^3
       nominal only and the observed-trigram model can genuinely reach
       1e8 rows. At that point the scale-safe twin is the same
       seeded-hash bucket fold nb_lang_scores(n_buckets=...) and
       dsir_log_weights ship (gram -> hash % n_buckets before both
       count passes); the forced broadcast stays correct here because
       the scoring join MUST be map-side (removing it would shuffle the
       corpus-sized gram stream on model keys, the worse trade in every
       regime where the model fits).
    2. SCORE: re-join the exploded trigrams to the broadcast model and
       average log2 P per document. The 100 TB side never shuffles on
       model keys; the only wide ops are the two bounded-size count
       aggregations.

    Output: (id, n_trigrams, avg_logp) — higher avg_logp = more typical
    text; gibberish scores low. Documents shorter than 3 chars drop out
    (they have no observations).

    ``n_buckets`` switches on the HASHED-BUCKET twin (r10 verdict item
    3 — the same hashing-trick fold nb_lang_scores and dsir_log_weights
    ship): each trigram folds to ``seeded_hash60(gram, TRI_HASH_SEED) %
    n_buckets`` and each prefix bigram to ``seeded_hash60(pre,
    PRE_HASH_SEED) % n_buckets`` AT the explode projection, so train
    and score cannot drift, and BOTH model tables are <= n_buckets rows
    BY CONTRACT — the broadcast bound becomes a knob constant instead
    of the |charset|^3 alphabet assumption, which an open CJK-bearing
    charset can push to ~1e8 observed trigrams (the last
    alphabet-bounded broadcast in the r10 §19 audit). Collisions make
    the score a hashed APPROXIMATION of P(c3|c1c2): counts of colliding
    grams pool, and because the trigram and prefix folds are
    independent families a bucket ratio can exceed 1 (logp > 0) — the
    standard hashing-trick trade, acceptable for a quality-ranking
    proxy and golden-checked against a pure-Python fold in tests. The
    dense form stays the judged baseline where the alphabet contract
    genuinely holds.
    """
    # The exploded gram stream is consumed twice (model counts + the
    # scoring join); persist it so the regex/substring explode pipeline
    # runs once. Lifetime scoped to the result via _cached_frames —
    # callers release with dedup.release_cached (same protocol as the
    # minhash signature cache). At 100 TB the same role is played by
    # writing the gram stream (or the model) to a table once.
    if n_buckets is not None:
        from ..functions.textfns import seeded_hash60

        gram = F.explode(char_trigrams(text_col)).alias("gram")
        grams = (
            df.select(F.col(id_col), gram)
            .select(
                id_col,
                (seeded_hash60(F.col("gram"), TRI_HASH_SEED) % n_buckets).alias("tb"),
                (
                    seeded_hash60(F.substring("gram", 1, 2), PRE_HASH_SEED)
                    % n_buckets
                ).alias("pb"),
            )
            .persist()
        )
        tri_counts = grams.groupBy("tb").agg(F.count("*").alias("n3"))
        pre_counts = grams.groupBy("pb").agg(F.count("*").alias("n2"))
        out = (
            grams.join(F.broadcast(tri_counts), "tb")
            .join(F.broadcast(pre_counts), "pb")
            .groupBy(id_col)
            .agg(
                F.count("*").alias("n_trigrams"),
                F.round(
                    F.avg(
                        F.log2(F.col("n3").cast("double") / F.col("n2").cast("double"))
                    ),
                    6,
                ).alias("avg_logp"),
            )
        )
        out._cached_frames = [grams]  # type: ignore[attr-defined]
        return out
    grams = df.select(
        F.col(id_col), F.explode(char_trigrams(text_col)).alias("gram")
    ).persist()
    tri_counts = grams.groupBy("gram").agg(F.count("*").alias("n3"))
    # Prefix (bigram) counts are the trigram counts re-aggregated by
    # their first two chars — deriving them from tri_counts instead of a
    # second pass over the exploded gram stream saves a full corpus
    # explode + shuffle; the input here is the tiny model table.
    prefix_counts = (
        tri_counts.groupBy(F.substring("gram", 1, 2).alias("pre"))
        .agg(F.sum("n3").alias("n2"))
    )
    model = (
        tri_counts.withColumn("pre", F.substring("gram", 1, 2))
        .join(prefix_counts, "pre")
        .select(
            "gram",
            F.log2(F.col("n3").cast("double") / F.col("n2").cast("double")).alias(
                "logp"
            ),
        )
    )
    out = (
        grams.join(F.broadcast(model), "gram")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_trigrams"),
            F.round(F.avg("logp"), 6).alias("avg_logp"),
        )
    )
    out._cached_frames = [grams]  # type: ignore[attr-defined]
    return out


LANG_SEG_TOKENS = 20


def lang_segments(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = LANG_SEG_TOKENS,
) -> DataFrame:
    """Code-switching / mixed-language detection: the token stream is
    cut into fixed ``seg_tokens`` windows, each window votes a language
    through the SAME marker contract as ``predict_lang`` (deterministic
    argmax, 'und' on zero votes), and each doc reports its segment
    count, majority language, agreement fraction, and the number of
    adjacent-segment language SWITCHES — the signal that separates a
    genuinely multilingual doc (few long runs, few switches) from
    noisy code-switched text (many switches), which per-doc lang-ID
    alone cannot see. Docs with zero tokens have no segments and drop
    out (the funnel accounts for them upstream).

    Scale shape: one token explode with map-side-combined per-(doc,
    segment) marker sums (the segment relation is corpus/seg_tokens
    rows); the argmax is a projection; switches are one lag window and
    the majority vote one row_number window, both partitioned by doc
    over the SEGMENT relation, never the token stream. The segment-
    language frame feeds two consumers (switch aggregate + majority
    count) -> plan-scoped persist
    (release via ``dedup.release_cached``). Integer votes only — no
    float boundary can flip a segment between engines."""
    toks = tokens(text_col)
    per_tok = df.select(
        F.col(id_col), F.posexplode(toks).alias("__pos", "__tok")
    ).withColumn("__seg", F.expr(f"__pos div {seg_tokens}"))
    votes = per_tok.groupBy(id_col, "__seg").agg(
        *[
            F.sum(F.col("__tok").isin(*words).cast("bigint")).alias(f"s_{lang}")
            for lang, words in LANG_MARKERS.items()
        ]
    )
    seg_vote = vote_argmax({lang: F.col(f"s_{lang}") for lang in LANG_MARKERS})
    seg_lang = votes.select(id_col, "__seg", seg_vote.alias("__lang")).persist()
    w = Window.partitionBy(id_col).orderBy("__seg")
    per_doc = (
        seg_lang.withColumn("__prev", F.lag("__lang").over(w))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_segments"),
            F.sum(
                F.when(
                    F.col("__prev").isNotNull()
                    & (F.col("__prev") != F.col("__lang")),
                    1,
                ).otherwise(0)
            ).alias("n_switches"),
        )
    )
    counts = seg_lang.groupBy(id_col, "__lang").agg(F.count("*").alias("__cnt"))
    w2 = Window.partitionBy(id_col).orderBy(
        F.col("__cnt").desc(), F.col("__lang").asc()
    )
    major = (
        counts.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") == 1)
        .select(id_col, F.col("__lang").alias("majority_lang"), "__cnt")
    )
    out = (
        per_doc.join(major, id_col)
        .select(
            id_col,
            "n_segments",
            "majority_lang",
            F.round(F.col("__cnt") / F.col("n_segments"), 6).alias("agree_frac"),
            "n_switches",
        )
        .orderBy(id_col)
    )
    out._cached_frames = [seg_lang]  # type: ignore[attr-defined]
    return out


# Seed for the hashed-feature NB variant's bucket hash (seeded_hash60
# family — the DSIR precedent, operators/corpus.py::DSIR_SEED).
NB_HASH_SEED = 47


def nb_lang_scores(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
    n_buckets: int | None = None,
) -> DataFrame:
    """Multinomial Naive Bayes trained BY COUNTING (closed form — no
    iterations, so the whole train-and-score pass is deterministic and
    hash-checkable): the fastText/CCNet-style corpus classifier shape,
    here predicting the language label from token counts.

    Train: alpha=1 Laplace-smoothed token likelihoods per label over
    docs with a non-NULL label AND non-NULL text; priors from label doc
    counts. Score: a non-NULL-text doc needs no label to be scored —
    it gets log-posterior ln P(l) + sum_t n_t ln P(t|l) per label;
    argmax on the 6dp-ROUNDED posterior, ties broken by label ASC.
    Tokens outside the training vocabulary are skipped (the standard
    vocabulary-restriction convention — smoothing only covers seen
    vocab x label zeros, keeping the model relation at |V| x |labels|);
    consequently a doc whose tokens are ALL out-of-vocabulary —
    including every empty-text doc — produces NO output row (pinned in
    tests/test_retrieval_ops.py::test_nb_out_of_vocab_doc_drops and
    matched by the oracle; a prior-only fallback would be the textbook
    alternative, deliberately not taken so the scored relation is
    exactly "docs with evidence").

    ``n_buckets`` switches on the HASHED-FEATURE variant (the hashing
    trick — exactly the posture dsir_log_weights already ships): every
    token maps to ``seeded_hash60(token, NB_HASH_SEED) % n_buckets``
    before any counting, so the model relation is at most
    ``n_buckets`` x |labels| rows NO MATTER the corpus vocabulary.
    This is the 100 TB form: the dense-vocab model grows with corpus
    CONTENT (|V| is unbounded on open web text — the same fixed-knob
    class SCALE.md §14 retired), while the hashed model is bounded by
    contract and the broadcast can never outgrow an executor.
    Collisions fold distinct tokens into one feature (the standard
    accuracy-for-boundedness trade); "vocabulary" becomes the set of
    OCCUPIED training buckets, and the OOV-drop rule applies to buckets
    the training corpus never occupied.

    The point is the operator SHAPE, not model quality (the fixture's
    texts do not differ by lang — accuracy is chance, like
    knn_label_accuracy's probe): model = vocab x labels broadcast
    relation; scoring = one doc-token-count shuffle + one per-doc
    aggregate. No corpus self-join, no Python in the hot path.

    Returns (doc_id, lang, pred_lang, log_post, correct) per scored doc.
    """
    toks_expr = tokens(text_col)
    if n_buckets is not None:
        from ..functions.textfns import seeded_hash60

        # Hash at the ARRAY level, inside the same tokenize projection,
        # so train and score paths cannot drift and the explode streams
        # bucket ids (8-byte longs), never raw token strings.
        toks_expr = F.transform(
            toks_expr, lambda t: seeded_hash60(t, NB_HASH_SEED) % n_buckets
        )
    base = docs.filter(F.col(text_col).isNotNull()).select(
        id_col, F.col(label_col).alias("__label"), toks_expr.alias("__toks")
    )
    train = base.filter(F.col("__label").isNotNull())

    # r16 (guide §2, the wedge_partitions self-sizing precedent): in
    # the HASHED variant the whole model side is bounded BY CONTRACT —
    # every frame below is <= n_buckets x |labels| rows no matter the
    # corpus — so its reduce stages at the session's shuffle
    # parallelism are pure scheduling overhead at ANY scale (932 tasks
    # per 2 bench runs, most in 32-task stages over <=100-row frames).
    # coalesce() AFTER each aggregate is the hand-rolled AQE coalesce:
    # a narrow merge of reduce partitions that keeps the map-side
    # partial aggregation and the per-key completeness intact (each
    # task just reads several shuffle partitions). The DENSE variant's
    # vocabulary grows with corpus content, so its stages keep the
    # session parallelism — the knob derives from the operator's own
    # boundedness contract, not from the local core count.
    def _bounded(df: DataFrame) -> DataFrame:
        return df.coalesce(1) if n_buckets is not None else df

    # (label, token) occurrence counts — vocab-bounded, and read FOUR
    # times downstream (vocab, |V|, per-label totals, the model grid's
    # left join), so cache it: uncached, each reference re-runs the
    # corpus explode+shuffle (4 corpus passes instead of 1 at 100 TB).
    # Scoped release via result._cached_frames / release_cached.
    lt = _bounded(
        train.select("__label", F.explode("__toks").alias("__tok"))
        .groupBy("__label", "__tok")
        .agg(F.count("*").alias("__c"))
    ).persist()
    vocab = _bounded(lt.groupBy("__tok").agg(F.lit(1).alias("__one")).drop("__one"))
    vsize = vocab.agg(F.count("*").alias("__v"))
    priors = (
        _bounded(train.groupBy("__label").agg(F.count("*").alias("__nd")))
        .crossJoin(F.broadcast(train.agg(F.count("*").alias("__n"))))
        .select(
            "__label", F.log(F.col("__nd") / F.col("__n")).alias("__lprior")
        )
    )
    # Label universe = labels with >= 1 TRAINING DOC (the priors
    # relation), NOT labels with >= 1 token: a label whose training
    # docs are all empty-text has tot = 0 but a real prior, and under
    # Laplace smoothing scores every token at ln(1/V). Deriving the
    # universe from lt silently dropped such labels from the model —
    # found by the pure-Python golden (test_properties.py), invisible
    # to the differential gate because the oracle shared the flaw.
    ltot = (
        priors.select("__label")
        .join(
            _bounded(lt.groupBy("__label").agg(F.sum("__c").alias("__t"))),
            "__label",
            "left",
        )
        .select("__label", F.coalesce(F.col("__t"), F.lit(0)).alias("__tot"))
    )
    # Dense |V| x |labels| grid so zero counts get the smoothed value.
    model = (
        vocab.crossJoin(F.broadcast(ltot))
        .join(lt, ["__tok", "__label"], "left")
        .crossJoin(F.broadcast(vsize))
        .select(
            "__tok",
            "__label",
            F.log(
                (F.coalesce(F.col("__c"), F.lit(0)) + 1.0)
                / (F.col("__tot") + F.col("__v"))
            ).alias("__lp"),
        )
    )
    doc_tok = (
        base.select(
            id_col,
            F.col("__label").alias("__actual"),
            F.explode("__toks").alias("__tok"),
        )
        .groupBy(id_col, "__actual", "__tok")
        .agg(F.count("*").alias("__n"))
    )
    per_label = (
        doc_tok.join(F.broadcast(model), "__tok")
        .groupBy(id_col, "__actual", "__label")
        .agg(F.sum(F.col("__n") * F.col("__lp")).alias("__ll"))
        .join(F.broadcast(priors), "__label")
        .select(
            id_col,
            "__actual",
            "__label",
            # + 0.0 folds IEEE -0.0 (see dsir_weights) before the argmax.
            (F.round(F.col("__lprior") + F.col("__ll"), 6) + F.lit(0.0)).alias(
                "__post"
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("__post"), F.col("__label"))
    out = (
        per_label.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            id_col,
            F.col("__actual").alias("lang"),
            F.col("__label").alias("pred_lang"),
            F.col("__post").alias("log_post"),
            (F.col("__actual") == F.col("__label")).cast("int").alias("correct"),
        )
        .orderBy(id_col)
    )
    out._cached_frames = [lt]  # type: ignore[attr-defined]
    return out


def source_unigram_kl(
    docs: DataFrame,
    *,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """KL(p_source || p_corpus) of unigram token distributions — the
    mixture diagnostic telling a curation run how far each source's
    token distribution sits from the corpus blend (the quantity
    temperature sampling and DSIR reweighting act on). No smoothing
    needed: every source token is by construction in the corpus
    distribution, so q(t) > 0 wherever p(t) > 0.

    One (group, token) shuffle; the corpus marginal re-aggregates the
    same partials. The marginal lookup is a plain token equi-join, NOT
    a forced broadcast (round-10 audit): the marginal is VOCAB-sized,
    and an open web-scale vocabulary grows with corpus content — the
    same unbounded-broadcast class the hashed-NB variant retired; the
    bigram_pmi docstring states the identical rule for its marginals.
    AQE still broadcasts it at runtime whenever it measures small (the
    closed-fixture case), so nothing is lost at bench scale. The 1-row
    grand total stays an explicit broadcast.

    Returns (source, n_tokens, kl_divergence) per non-NULL group (a
    NULL source would silently drop at the totals equi-join anyway —
    filter it explicitly so the contract is visible, not incidental).
    """
    st = (
        docs.filter(F.col(text_col).isNotNull() & F.col(group_col).isNotNull())
        .select(group_col, F.explode(tokens(text_col)).alias("__tok"))
        .groupBy(group_col, "__tok")
        .agg(F.count("*").alias("__c"))
    )
    stot = st.groupBy(group_col).agg(F.sum("__c").alias("__stot"))
    ct = st.groupBy("__tok").agg(F.sum("__c").alias("__cc"))
    ctot = ct.agg(F.sum("__cc").alias("__ctot"))
    return (
        st.join(stot, group_col)
        .join(ct, "__tok")
        .crossJoin(F.broadcast(ctot))
        .groupBy(group_col)
        .agg(
            F.max("__stot").alias("n_tokens"),
            # p*ln(p/q) terms can dip negative; the sum is >= 0 only in
            # exact arithmetic — fold a float -0.0 edge like dsir_weights.
            (
                F.round(
                    F.sum(
                        (F.col("__c") / F.col("__stot"))
                        * F.log(
                            (F.col("__c") / F.col("__stot"))
                            / (F.col("__cc") / F.col("__ctot"))
                        )
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("kl_divergence"),
        )
        .orderBy(group_col)
    )
