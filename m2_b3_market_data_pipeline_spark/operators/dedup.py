"""Deduplication operators for LLM training-data pipelines.

Every near-duplicate operator is a candidate generator over ONE band
join (``band_join``): each side is projected to (id, band-value array,
carried columns), the arrays are posexploded to (band_id, band_val)
rows, the sides equi-join on that key, and each pair is kept only at
its lowest matching band — so a pair surfaces once without a distinct()
shuffle over the candidate set, and the join volume is docs x bands,
never docs². The same split distributed similarity search makes between
bucket-join candidates and exact verification (Time Series Similarity
Search for Streaming Data in Distributed Systems, EDBT 2019):

- **MinHash + LSH**: per-doc signatures (``with_minhash``) banded into
  md5 band hashes; candidates from the band join, verified by exact
  Jaccard (``jaccard_verify``) — the self-join (``minhash_dedup_pairs``)
  and the delta-vs-corpus cross join (``minhash_incremental_pairs*``,
  the streaming sink) share both halves. ``needs_sort_merge`` is the one
  broadcast-vs-sort-merge rule for their corpus-sized joins.
- **SimHash**: 64-bit signature via token-hash bit voting (carried as
  two 32-bit bigint halves so neither engine touches the sign bit);
  the pigeonhole chunks are the band values and the exact Hamming
  distance verifies. 64 bits matter at scale: the chunks are 16 bits
  wide (65k values each), not the 256-value buckets a 32-bit signature
  would give — bucket population stays ~|corpus|/65k.
- Hyperplane LSH over embeddings (``similarity.py``'s
  ``banded_near_dup_pairs`` and ``ann_topk``) runs the same band join.

Exact baselines sit beside them: ``exact_dedup`` (hash-groupBy on a
fingerprint), the n-gram Jaccard and containment joins over a shingle
inverted index, and the positional-gram span operators
(``dup_ngram_coverage``, ``remove_dup_spans``), which share one front
end (``_dup_gram_positions``).

All hashing uses the portable md5 family (functions/textfns.py) so every
operator is oracle-checkable against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.textfns import (
    seeded_hash60,
    shingles,
    tokens,
)

NUM_HASHES = 12
# Above this many signed docs the minhash self-join/verify joins pin to
# sort-merge instead of trusting the size estimator (which
# auto-broadcast corpus-sized relations until they stopped fitting):
# measured boundary — broadcast passed at 438k docs (sf10), died at
# 1.06M (sf30); the threshold sits between with headroom on the safe
# side. See minhash_dedup_pairs.
SHUFFLE_JOIN_MIN_DOCS = 500_000
# Byte-size companion to the doc-count rule (round-11, per the r10
# advisor): the failure mode is BYTES broadcast, not rows — a corpus of
# 100k docs at 50 KB each is as fatal as 1.06M fixture-sized docs. The
# measured boundary restated in bytes: fixture docs carry ~810 B of
# shingle strings each (297 B avg text x ~2.7 shingle blow-up), so the
# 500k-doc rule is equivalently ~400 MB of raw shingle bytes; broadcast
# passed at ~355 MB (sf10's 438k docs) and died at ~860 MB (sf30). The
# switch trips on EITHER bound, so long-document corpora pin to
# sort-merge at the same byte volume fixture-shaped ones do.
SHUFFLE_JOIN_MIN_SH_BYTES = 400 << 20
BAND_SIZE = 4  # 3 bands of 4 => LSH threshold ~ (1/3)^(1/4) ≈ 0.76
SIMHASH_BITS = 64  # as two 32-bit halves (simhash_lo, simhash_hi)
SIMHASH_HALF = SIMHASH_BITS // 2


def fan_out(df: DataFrame) -> DataFrame:
    """Spread a narrow scan across the cluster before CPU-heavy
    per-row work (shingling, per-shingle hashing).

    A small parquet file arrives as one input split, so without this the
    whole hash pipeline runs on a single core (measured 11.3s -> 1.6s
    for minhash at sf0.1 on local[32]). The round-robin shuffle moves
    only the raw rows — cheap relative to the compute it parallelizes.
    At 100 TB inputs already arrive in thousands of splits and
    ``repartition(defaultParallelism)`` is a no-op-sized rebalance;
    results never depend on partitioning."""
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target)


def exact_dedup(
    df: DataFrame,
    *,
    keys: list[str],
    tiebreak: list[str],
) -> DataFrame:
    """Keep exactly one row per ``keys`` — the first under ``tiebreak``
    ordering. Deterministic (unlike bare dropDuplicates, which keeps an
    arbitrary row and is therefore un-oracle-able). One shuffle on keys;
    Catalyst plans row_number + WindowGroupLimit, so per-group state is
    O(1), safe for any group size."""
    w = Window.partitionBy(*keys).orderBy(*tiebreak)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def with_shingles(
    df: DataFrame, *, text_col: str = "text", n: int = 3, out: str = "sh"
) -> DataFrame:
    return df.withColumn(out, shingles(tokens(text_col), n))


def with_minhash(
    df: DataFrame,
    *,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = NUM_HASHES,
    id_col: str = "doc_id",
) -> DataFrame:
    """Append mh0..mh{k-1} columns via explode + ONE hash aggregate with
    k min()s (map-side partial min keeps shuffle volume at one row per
    (doc, k) regardless of shingle count). A per-row projection of k
    ``array_min(transform(...))`` columns would repeat the shingle
    computation per hash column under projection collapse; the
    explode+agg form does the shingling exactly once. Docs with empty
    shingle sets keep NULL signatures via the left join.

    Hashes are NUMERIC (seeded_hash60): min(BIGINT) stays in a codegen'd
    HashAggregate — min over the previous md5 STRINGS planned a
    SortAggregate (var-length buffers aren't hash-updatable), sorting
    the whole shingle stream per partition — and the signature frame
    (including the streaming sink's on-disk state) shrinks ~4x."""
    with_sh = with_shingles(df, text_col=text_col, n=n)
    exploded = with_sh.select(id_col, F.explode("sh").alias("shingle"))
    sig = exploded.groupBy(id_col).agg(
        *[
            F.min(seeded_hash60(F.col("shingle"), i)).alias(f"mh{i}")
            for i in range(num_hashes)
        ]
    )
    return with_sh.join(sig, id_col, "left")


def needs_sort_merge(docs: int, sh_bytes: int = 0) -> bool:
    """THE broadcast-vs-sort-merge rule for the minhash joins, whose
    sides are all corpus-derived: past ``SHUFFLE_JOIN_MIN_DOCS``
    signatures or ``SHUFFLE_JOIN_MIN_SH_BYTES`` of shingle text they pin
    to sort-merge (see ``minhash_dedup_pairs`` for the sf30 finding).
    Callers pass the stats they already have; none is computed here."""
    return docs > SHUFFLE_JOIN_MIN_DOCS or sh_bytes > SHUFFLE_JOIN_MIN_SH_BYTES


def band_join(
    left: DataFrame,
    right: DataFrame,
    *,
    n_bands: int,
    pair: Column | None = None,
    hint: str | None = None,
) -> DataFrame:
    """THE band join of every near-dup candidate generator. Each side is
    (id, ``__bands`` array of ``n_bands`` band values, carried columns),
    its column names distinct from the other side's. The arrays explode
    to (band_id, band_val) rows — a zero-shuffle projection — and the
    sides equi-join on that key, so the join volume is rows x bands and
    never a cross product (a band-match disjunction has no hash key and
    plans as BroadcastNestedLoopJoin).

    ``pair`` is the caller's predicate over the two id columns (``<``
    for a self-join, ``!=`` or None for a cross join); ``hint`` is a
    join hint on the right side (``merge`` pins sort-merge,
    ``broadcast`` the build side). A pair agreeing on m bands would
    surface m times; the FIRST-MATCH filter keeps it only at its lowest
    matching band (every earlier band value differs), which replaces the
    distinct() over the candidate set — at corpus scale a full shuffle
    of every candidate pair (measured 6x at 10x volume, BASELINE.md
    round-7 A/B). Returns both sides' id and carried columns."""
    cols = [c for c in left.columns + right.columns if c != "__bands"]

    def explode(side: DataFrame, arr: str) -> DataFrame:
        # _outer: for a plain posexplode Catalyst infers a
        # size(__bands) > 0 filter and pushes it below the projection,
        # computing every band value twice. The one (NULL, NULL) row an
        # outer explode adds for a NULL or empty array never equi-joins.
        return side.select(
            *[c for c in side.columns if c != "__bands"],
            F.col("__bands").alias(arr),
            F.posexplode_outer("__bands").alias("band_id", "band_val"),
        )

    r = explode(right, "__br")
    if hint:
        r = r.hint(hint)
    keep = F.lit(True) if pair is None else pair
    for e in range(n_bands - 1):
        keep = keep & ((F.col("band_id") <= e) | (F.col("__bl")[e] != F.col("__br")[e]))
    return (
        explode(left, "__bl")
        .join(r, ["band_id", "band_val"])
        .filter(keep)
        .select(*cols)
    )


def _minhash_bands(
    signed: DataFrame,
    *,
    id_col: str,
    as_id: str,
    num_hashes: int = NUM_HASHES,
    band_size: int = BAND_SIZE,
) -> DataFrame:
    """(``as_id``, ``__bands``): the md5 hash of each band of
    ``band_size`` min-hashes — the LSH bucket keys. Docs with empty
    shingle sets (NULL minhash) are dropped so they never collide."""
    return signed.filter(F.col("mh0").isNotNull()).select(
        F.col(id_col).alias(as_id),
        F.array(
            *[
                F.md5(
                    F.concat_ws(
                        "", *[F.col(f"mh{b * band_size + j}") for j in range(band_size)]
                    )
                )
                for b in range(num_hashes // band_size)
            ]
        ).alias("__bands"),
    )


def lsh_candidate_pairs(
    signed: DataFrame,
    *,
    id_col: str = "doc_id",
    num_hashes: int = NUM_HASHES,
    band_size: int = BAND_SIZE,
    force_shuffle: bool = False,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) of a signature frame: its band
    self-join, each pair emitted exactly once.

    ``force_shuffle`` pins the join to sort-merge — see
    minhash_dedup_pairs for the sizing rule and the sf30 finding."""
    sides = [
        _minhash_bands(
            signed, id_col=id_col, as_id=i, num_hashes=num_hashes, band_size=band_size
        )
        for i in ("id_a", "id_b")
    ]
    return band_join(
        *sides,
        n_bands=num_hashes // band_size,
        pair=F.col("id_a") < F.col("id_b"),
        hint="merge" if force_shuffle else None,
    )


def jaccard_verify(
    pairs: DataFrame,
    with_sh: DataFrame,
    other_sh: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    threshold: float,
    force_shuffle: bool = False,
) -> DataFrame:
    """THE exact Jaccard verify of the self and cross minhash paths.
    ``pairs``' two columns name the sides; ``with_sh`` carries
    (``id_col``, sh) for the first, ``other_sh`` for the second (the
    corpus side of a cross join; default ``with_sh``, a self-join).
    Array intersect/union over the (distinct) shingle sets, keeping
    pairs >= threshold. Each set side is joined once — at scale both
    joins shuffle on doc id (``force_shuffle``; sizing rule at
    minhash_dedup_pairs)."""
    ida, idb = pairs.columns[:2]
    sa = with_sh.select(F.col(id_col).alias(ida), F.col("sh").alias("sh_a"))
    sb = (with_sh if other_sh is None else other_sh).select(
        F.col(id_col).alias(idb), F.col("sh").alias("sh_b")
    )
    if force_shuffle:
        sa = sa.hint("merge")
        sb = sb.hint("merge")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        pairs.join(sa, ida)
        .join(sb, idb)
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select(ida, idb, "jaccard")
    )


def minhash_dedup_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Full fuzzy-dedup pipeline: shingle -> minhash -> LSH bands ->
    candidate join -> exact Jaccard verify.

    The signature frame is persisted: it is consumed by three branches
    (band explode, and both sides of the Jaccard verify join) and Spark
    would otherwise re-run the whole shingle+hash pipeline per branch
    (measured ~2x at sf0.1). At 100 TB the same role is played by
    writing signatures to a table once and joining against it.

    Cache lifetime is scoped to the returned plan: the persisted frame
    rides along on the result as ``_cached_frames`` — callers looping
    over many dedup batches in one session MUST call
    ``release_cached(result)`` after their consuming action (asserted
    leak-free in tests). One-shot callers leak at most a single
    CacheManager entry, deduplicated across repeat calls on the same
    input plan.

    Join-strategy sizing rule (round-10 sf30 finding, the
    wedge_partitions precedent): the banded self-join and both Jaccard
    verify joins have CORPUS-derived relations on every side, and
    Catalyst's size estimate for higher-order-function shingle/band
    projections undershoots badly enough that it auto-BROADCAST them —
    fine through sf10 (438k docs), fatal at sf30 (1.06M docs: "Not
    enough memory to build and broadcast"; a shuffled-hash hint merely
    moves the same corpus-sized build to the executors — "Can't
    acquire 256MB to build hash relation"). Past
    ``SHUFFLE_JOIN_MIN_DOCS`` signatures the three joins are pinned to
    SORT-MERGE, which spills gracefully at any partition count; below
    it the estimator's broadcast genuinely wins (same-window A/B at
    sf0.1: broadcast 2.66s vs forced-merge 3.38s for the pair query,
    3.75 vs 7.02 for clustering). The stats are read at plan-build
    time from the persisted signature frame — materializing it early
    costs nothing since every branch consumes it anyway.

    Round 11 (r10 advisor): the switch trips on doc count OR total
    shingle BYTES (``SHUFFLE_JOIN_MIN_SH_BYTES``) — the observed
    failure is byte-sized, so a sub-500k-doc corpus of long documents
    pins to sort-merge at the same broadcast volume fixture-shaped
    corpora do. Both stats come from ONE aggregate job over the frame
    that was going to be materialized anyway."""
    signed = with_minhash(fan_out(df.select(id_col, text_col)), text_col=text_col).persist()
    stats = signed.agg(
        F.count("*").alias("docs"),
        F.sum(
            F.coalesce(
                # octet_length, not length: the threshold is
                # byte-denominated and the corpora this rule targets
                # are the open-charset ones where UTF-8 runs ~3
                # bytes/char (CJK) — a char count would undercount the
                # broadcast build ~3x right where it matters (r11
                # advisor).
                F.aggregate(
                    "sh", F.lit(0).cast("long"), lambda acc, s: acc + F.octet_length(s)
                ),
                F.lit(0).cast("long"),
            )
        ).alias("sh_bytes"),
    ).collect()[0]
    big = needs_sort_merge(stats["docs"], stats["sh_bytes"] or 0)
    pairs = lsh_candidate_pairs(signed, id_col=id_col, force_shuffle=big)
    out = jaccard_verify(
        pairs, signed.select(id_col, "sh"), id_col=id_col, threshold=threshold,
        force_shuffle=big,
    )
    out._cached_frames = [signed]  # type: ignore[attr-defined]
    return out


def release_cached(result: DataFrame) -> None:
    """Unpersist every cached frame scoped to ``result`` (no-op for
    plans that carry none). Call after the consuming action."""
    for frame in getattr(result, "_cached_frames", []):
        frame.unpersist()


def minhash_incremental_pairs(
    delta: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Dedup an incoming DELTA against an existing CORPUS — the
    continuous-crawl curation shape: which new documents are near-copies
    of something already kept?

    Cross-relation LSH: each side is shingled, min-hashed, and banded,
    then candidates come from the band equi-join ACROSS the two
    relations only — corpus×corpus pairs are never formed, so the work
    is |delta ∪ corpus| signature computation plus a join whose volume
    is bands × (delta + corpus) rows, not |corpus|². At 100 TB the
    corpus signature/band table is precomputed and stored (signatures
    are append-only: yesterday's table is today's corpus side), so only
    the delta shingles fresh and the corpus TEXT is never rescanned;
    here both sides compute from text because the fixture has no
    signature store. Exact Jaccard verifies candidates, same as the
    batch path.

    Returns (delta_id, corpus_id, jaccard >= threshold). Caches both
    signature frames on the result — call ``release_cached`` after the
    consuming action.
    """
    d_signed = with_minhash(
        fan_out(delta.select(id_col, text_col)), text_col=text_col, id_col=id_col
    ).persist()
    c_signed = with_minhash(
        fan_out(corpus.select(id_col, text_col)), text_col=text_col, id_col=id_col
    ).persist()
    out = _cross_pairs_from_signed(
        d_signed, c_signed, id_col=id_col, threshold=threshold
    )
    out._cached_frames = [d_signed, c_signed]  # type: ignore[attr-defined]
    return out


def _cross_pairs_from_signed(
    d_signed: DataFrame,
    c_signed: DataFrame,
    *,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    force_shuffle: bool | None = None,
) -> DataFrame:
    """Band join + exact Jaccard verify between two SIGNATURE frames
    (``with_minhash`` output: sh + mh0..mhK), no pair predicate: every
    (delta, corpus) candidate counts. Shared by the from-text and
    stored-signature-table incremental paths and the streaming sink;
    persist lifecycle belongs to the callers.

    ``force_shuffle`` None (default) feeds the two sides' row counts to
    ``needs_sort_merge`` — the INCREMENTAL twin of the
    ``minhash_dedup_pairs`` switch (round 12): at the fifth decade the
    sink's drain died building an auto-broadcast of the corpus-sized
    band/verify sides ("serialized results ... bigger than
    spark.driver.maxResultSize" at 3.05M stored docs — Catalyst's size
    estimate undershoots the exploded band rows and shingle arrays
    exactly as the batch path's sf30 finding recorded). Counts are the
    cheap decisive stat here (the corpus side is typically a
    parquet-backed store; the byte-aware refinement stays on the batch
    path, whose frame was being materialized anyway).

    With ``force_shuffle=None`` those two ``count()`` calls run at
    PLAN-BUILD time — a caller that has not persisted its signature
    frames pays the shingle/minhash computation an extra time per call
    (r12 advice). Persist both inputs first (as
    ``incremental_near_dedup`` and the streaming sink do, and the
    store side is parquet-backed anyway), or pass an explicit
    ``force_shuffle`` derived from counts you already track."""
    if force_shuffle is None:
        force_shuffle = needs_sort_merge(d_signed.count() + c_signed.count())
    cand = band_join(
        _minhash_bands(d_signed, id_col=id_col, as_id="delta_id"),
        _minhash_bands(c_signed, id_col=id_col, as_id="corpus_id"),
        n_bands=NUM_HASHES // BAND_SIZE,
        hint="merge" if force_shuffle else None,
    )
    return jaccard_verify(
        cand, d_signed, c_signed, id_col=id_col, threshold=threshold,
        force_shuffle=force_shuffle,
    )


def require_numeric_minhash(sigs: DataFrame, *, where: str) -> None:
    """Fail LOUDLY on a legacy md5-STRING signature table. This build
    stores numeric 60-bit min-hashes (seeded_hash60); unioning or
    joining a legacy string-typed store against new bigint signatures
    would coerce every legacy value to NULL, drop those docs from LSH
    banding (mh0 IS NOT NULL filter), and rewrite the store with NULL
    signatures — silent, permanent corpus destruction. The store must
    be rebuilt (recompute signatures from corpus text) instead."""
    from pyspark.sql import types as T

    mh_cols = [f for f in sigs.schema.fields if f.name.startswith("mh")]
    bad = [f.name for f in mh_cols if isinstance(f.dataType, T.StringType)]
    if bad:
        raise RuntimeError(
            f"{where}: signature table carries legacy md5-string min-hash "
            f"columns {bad}; this build uses numeric 60-bit hashes "
            "(seeded_hash60). Refusing to merge — rebuild the signature "
            "store from corpus text."
        )


def minhash_incremental_pairs_presigned(
    delta: DataFrame,
    corpus_signatures: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """The production form of ``minhash_incremental_pairs``: the corpus
    side is a STORED signature table (``with_minhash`` output persisted
    by a previous run — sh + mh0..mhK columns), so corpus text is never
    rescanned and only the delta shingles fresh. Signature tables are
    append-only: today's delta signatures become tomorrow's corpus rows.
    Verified equal to the from-text path in tests."""
    require_numeric_minhash(corpus_signatures, where="minhash_incremental_pairs_presigned")
    d_signed = with_minhash(
        fan_out(delta.select(id_col, text_col)), text_col=text_col, id_col=id_col
    ).persist()
    out = _cross_pairs_from_signed(
        d_signed, corpus_signatures, id_col=id_col, threshold=threshold
    )
    out._cached_frames = [d_signed]  # type: ignore[attr-defined]
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.4,
) -> DataFrame:
    """EXACT similarity join: inverted index on shingles (explode +
    self-equi-join on the shingle string + per-pair count = |A∩B|), then
    |A∪B| = |A|+|B|-|A∩B|. Only pairs sharing >= 1 shingle are ever
    materialized — the standard sparse all-pairs strategy. Hot shingles
    are the skew risk at scale; AQE skew-join handles moderate cases and
    a stopword-shingle filter is the documented escape hatch."""
    sh = (
        with_shingles(fan_out(df.select(id_col, text_col)), text_col=text_col, n=n)
        .select(id_col, F.explode("sh").alias("shingle"), F.size("sh").alias("set_size"))
    )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.set_size").alias("size_a"),
            F.col("b.set_size").alias("size_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    jac = F.round(
        F.col("inter").cast("double")
        / (F.col("size_a") + F.col("size_b") - F.col("inter")).cast("double"),
        6,
    )
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_expr(weighted_tokens_grouped: DataFrame, *, id_col: str) -> DataFrame:
    """Per-doc 64-bit simhash from (id, token, cnt) rows, carried as two
    32-bit halves: the low half votes on bits of md5 hex chars 1-8, the
    high half on chars 9-16. Bit j of the signature is 1 iff the signed
    vote ``sum(cnt * (2*bit_j - 1))`` is positive — computed in the
    equivalent form ``2 * sum(cnt * bit_j) > sum(cnt)`` (bit-identical
    including ties, which land on "not positive" either way). Two bigint
    halves keep every shift/mask in non-negative territory in both Spark
    and DuckDB (a single 64-bit value would put bit 63 in the sign bit).

    Shape: the 32 bit positions are EXPLODED into rows and summed per
    (doc, pos), then folded per doc — NARROW plans all the way, so every
    stage stays inside whole-stage codegen. The previous 65-aggregate
    wide form tripped ``spark.sql.codegen.maxFields`` (codegen disabled,
    interpreted aggregation) and ran ~2x slower at sf0.1 even with the
    limit raised; the generated code for a 65-buffer HashAggregate blows
    the JIT method budget either way. The 32x fan-out costs ~2.5 KB/doc
    of extra shuffle but both groupBys partial-aggregate map-side, and a
    codegen'd narrow plan beats an interpreted wide one at any scale."""
    g = weighted_tokens_grouped.select(
        id_col,
        "cnt",
        F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("h_lo"),
        F.conv(F.substring(F.md5(F.col("token")), 9, 8), 16, 10)
        .cast("bigint")
        .alias("h_hi"),
    )
    votes = g.select(
        id_col,
        "cnt",
        "h_lo",
        "h_hi",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_HALF - 1))).alias("pos"),
    ).select(
        id_col,
        "pos",
        "cnt",
        F.expr("cnt * (shiftright(h_lo, pos) & 1)").alias("lo_ones"),
        F.expr("cnt * (shiftright(h_hi, pos) & 1)").alias("hi_ones"),
    )
    # sum(cnt) per (doc, pos) equals the per-doc total (every token row
    # contributes to every pos), so the majority threshold rides along
    # without a separate join.
    per_pos = votes.groupBy(id_col, "pos").agg(
        F.sum("lo_ones").alias("lo_ones"),
        F.sum("hi_ones").alias("hi_ones"),
        F.sum("cnt").alias("tot"),
    )
    bit = "CASE WHEN {src}*2 > tot THEN shiftleft(CAST(1 AS BIGINT), pos) ELSE CAST(0 AS BIGINT) END"
    return per_pos.groupBy(id_col).agg(
        F.sum(F.expr(bit.format(src="lo_ones"))).alias("simhash_lo"),
        F.sum(F.expr(bit.format(src="hi_ones"))).alias("simhash_hi"),
    )


def simhash_signatures(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """doc -> 64-bit simhash (simhash_lo, simhash_hi). One explode + one
    shuffle on doc id."""
    toks = (
        fan_out(df.select(id_col, text_col))
        .select(id_col, F.explode(tokens(text_col)).alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count("*").alias("cnt"))
    )
    return simhash_expr(toks, id_col=id_col)


def simhash_chunks(chunks: int) -> list[tuple[str, int, int]]:
    """Chunk layout for the pigeonhole join: (half_column, shift, mask)
    per chunk. Chunk width must divide the 32-bit half so no chunk
    straddles the lo/hi boundary."""
    chunk_bits = SIMHASH_BITS // chunks
    if SIMHASH_HALF % chunk_bits:
        raise ValueError(
            f"chunk width {chunk_bits} must divide {SIMHASH_HALF}; "
            f"use max_hamming in {{1, 3, 7, 15, 31}}"
        )
    per_half = SIMHASH_HALF // chunk_bits
    mask = (1 << chunk_bits) - 1
    return [
        (
            "simhash_lo" if c < per_half else "simhash_hi",
            (c % per_half) * chunk_bits,
            mask,
        )
        for c in range(chunks)
    ]


def simhash_near_pairs(
    sigs: DataFrame, *, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Pairs within Hamming distance <= max_hamming, using the pigeonhole
    trick: split the 64-bit signature into (max_hamming+1) chunks; any
    pair within distance d must agree exactly on >= 1 chunk, so the
    chunks are the band values of a ``band_join`` instead of a cross
    join. bit_count over both halves verifies exactly. At the default
    max_hamming=3 the chunks are 16 bits wide (the Manku et al. WWW'07
    layout): 65k bucket values per chunk keeps bucket population
    ~|corpus|/65k."""
    chunks = max_hamming + 1
    vals = F.array(
        *[
            F.shiftright(F.col(half), shift).bitwiseAND(F.lit(mask))
            for half, shift, mask in simhash_chunks(chunks)
        ]
    )
    lo_a, hi_a, lo_b, hi_b = (F.col(c) for c in ("lo_a", "hi_a", "lo_b", "hi_b"))
    sides = [
        sigs.select(
            F.col(id_col).alias(f"id_{t}"),
            F.col("simhash_lo").alias(f"lo_{t}"),
            F.col("simhash_hi").alias(f"hi_{t}"),
            vals.alias("__bands"),
        )
        for t in ("a", "b")
    ]
    ham = (F.bit_count(lo_a.bitwiseXOR(lo_b)) + F.bit_count(hi_a.bitwiseXOR(hi_b))).cast(
        "bigint"
    )
    return (
        band_join(*sides, n_bands=chunks, pair=F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def containment_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """EXACT asymmetric containment join: C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|.

    Jaccard misses the quote/subset case — a short doc fully embedded in
    a long one has low Jaccard but containment 1.0; this is the operator
    that catches boilerplate reuse and quotation in corpus curation.
    Same sparse inverted-index strategy as ``ngram_jaccard_pairs`` (only
    shingle-sharing pairs materialize), but DIRECTED: (id_a contained-in
    id_b) and its reverse are distinct rows, each normalized by the left
    side's shingle-set size.

    Shape note: the per-doc set size is aggregated into its own
    one-row-per-doc relation and joined back AFTER the pair aggregation
    — carrying it through the explode would repeat it on every shingle
    row of the self-join's shuffle (the dominant exchange at corpus
    scale) just to act as a constant groupBy key."""
    sets = with_shingles(
        fan_out(df.select(id_col, text_col)), text_col=text_col, n=n
    ).select(id_col, "sh")
    sizes = sets.select(
        F.col(id_col).alias("id_a"), F.size("sh").alias("size_a")
    )
    sh = sets.select(id_col, F.explode("sh").alias("shingle"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    contain = F.round(F.col("inter").cast("double") / F.col("size_a").cast("double"), 6)
    return (
        inter.join(sizes, "id_a")
        .withColumn("containment", contain)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def _dup_gram_positions(
    df: DataFrame, *, id_col: str, text_col: str, n: int, min_df: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The positional-gram front end of the span operators: ``base`` =
    (id, ``__tk`` tokens, n_tok) with NULL text as the empty document;
    ``grams`` = the persisted (id, ``__pos``, ``__gram``) positional
    n-grams; ``occ`` = (id, ``__pos``) of the grams that occur in >=
    ``min_df`` distinct docs.

    Scale shape: positional grams are one explode (O(tokens) rows, the
    zip_with shingle chain — never O(tokens·n) regex work); the gram
    document-frequency table is one (doc,gram)-distinct + one gram
    aggregate; duplicated grams flow back via a shuffle EQUI-JOIN on
    gram — NOT a broadcast, because at corpus scale the duplicated-gram
    set grows with the corpus (unlike boilerplate's chrome-sized df>=5
    set). The gram stream feeds two consumers (df table + membership
    join), so it is persisted for the life of the plan — the caller
    puts it on ``_cached_frames`` (release via ``release_cached``); at
    100 TB the same role is played by materializing the positional-gram
    table once."""
    base = df.select(
        F.col(id_col),
        F.coalesce(tokens(text_col), F.array().cast("array<string>")).alias("__tk"),
    ).select(
        id_col,
        "__tk",
        F.size("__tk").cast("bigint").alias("n_tok"),
    )
    grams = (
        base.filter(F.col("n_tok") >= n)
        .select(
            id_col,
            F.posexplode(shingles(F.col("__tk"), n, distinct=False)).alias(
                "__pos", "__gram"
            ),
        )
        .persist()
    )
    dup = (
        grams.select(id_col, "__gram")
        .distinct()
        .groupBy("__gram")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") >= min_df)
        .select("__gram")
    )
    return base, grams, grams.join(dup, "__gram").select(id_col, "__pos")


def dup_ngram_coverage(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_df: int = 2,
) -> DataFrame:
    """Cross-document duplicated-span coverage at n-gram granularity —
    the distributed approximation of exact-substring dedup (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better":
    spans repeated verbatim across documents are memorization fuel and
    should be down-weighted or cut). A position-aware complement of the
    set-based families above: ``boilerplate_frac`` scores DISTINCT
    shingles, this one measures how much of each document's token
    STREAM sits inside a duplicated span.

    Per doc: ``dup_positions`` = n-gram start positions whose gram
    occurs in >= ``min_df`` distinct docs; ``covered_tokens`` = distinct
    token indices under any such gram (overlapping gram windows union,
    not sum — the interval-union step of span dedup); ``dup_frac`` =
    covered / n_tok. Docs shorter than ``n`` tokens report zeros.

    Front end: ``_dup_gram_positions``. The coverage explode multiplies
    only the DUPLICATED positions by n, and the two count-distincts
    expand only that subset. Caches the gram stream on the result —
    call ``release_cached`` after the consuming action."""
    base, grams, occ = _dup_gram_positions(
        df, id_col=id_col, text_col=text_col, n=n, min_df=min_df
    )
    cov = (
        occ.select(
            id_col,
            "__pos",
            F.explode(F.sequence(F.col("__pos"), F.col("__pos") + (n - 1))).alias(
                "__idx"
            ),
        )
        .groupBy(id_col)
        .agg(
            F.countDistinct("__pos").alias("dup_positions"),
            F.countDistinct("__idx").alias("covered_tokens"),
        )
    )
    out = (
        base.select(id_col, "n_tok")
        .join(cov, id_col, "left")
        .select(
            id_col,
            "n_tok",
            F.coalesce("dup_positions", F.lit(0)).alias("dup_positions"),
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            F.when(
                F.col("n_tok") > 0,
                F.round(
                    F.coalesce("covered_tokens", F.lit(0)) / F.col("n_tok"), 6
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
        .orderBy(id_col)
    )
    out._cached_frames = [grams]  # type: ignore[attr-defined]
    return out


def remove_dup_spans(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_df: int = 2,
) -> DataFrame:
    """The REMOVAL half of exact-substring dedup (Lee et al. 2022):
    where ``dup_ngram_coverage`` measures how much of each document
    sits inside a cross-document duplicated span, this one CUTS those
    spans and emits the cleaned token stream — the transform a curation
    pipeline actually applies before training.

    Same front end as the coverage operator (``_dup_gram_positions``).
    The rebuild is the scale-sensitive part: instead of re-exploding
    the whole corpus into tokens and re-aggregating (O(all tokens)
    shuffle rows), the covered indices collapse to ONE per-doc set
    (bounded by doc length, only for docs that HAVE duplicated spans)
    and the kept tokens are computed MAP-SIDE by an indexed
    higher-order filter over the original token array — untouched docs
    pass through the left join with their token stream intact, paying
    nothing.

    Returns (id, n_tok, kept_tokens, clean_text): clean_text is the
    space-joined kept tokens (canonical whitespace — the tokenizer
    contract shared with every text operator), '' for empty docs.
    NULL text degrades to the empty document (n_tok 0, kept_tokens 0,
    clean_text '') on BOTH engines: the front end coalesces it, where
    a NULL token array would make kept_tokens NULL (ANSI size(NULL))
    while the oracle emits 0.
    """
    base, grams, occ = _dup_gram_positions(
        df, id_col=id_col, text_col=text_col, n=n, min_df=min_df
    )
    cov = (
        occ.select(
            id_col,
            F.explode(
                F.sequence(F.col("__pos"), F.col("__pos") + (n - 1))
            ).alias("__idx"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("__idx").alias("__cov"))
    )
    kept = F.when(F.col("__cov").isNull(), F.col("__tk")).otherwise(
        F.filter(F.col("__tk"), lambda x, i: ~F.array_contains(F.col("__cov"), i))
    )
    out = (
        base.join(cov, id_col, "left")
        .select(
            id_col,
            "n_tok",
            kept.alias("__kept"),
        )
        .select(
            id_col,
            "n_tok",
            F.size("__kept").cast("bigint").alias("kept_tokens"),
            F.concat_ws(" ", F.col("__kept")).alias("clean_text"),
        )
        .orderBy(id_col)
    )
    out._cached_frames = [grams]  # type: ignore[attr-defined]
    return out
