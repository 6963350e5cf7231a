"""Similarity search over embedding columns (array<float>).

Every operator is a candidate generator feeding shared scoring code —
the split distributed similarity search makes between cheap candidate
generation and exact scoring (Time Series Similarity Search for
Streaming Data in Distributed Systems, EDBT 2019):

- **Candidate generators**, one per operator: the broadcast query set
  against the whole corpus (``brute_force_topk``,
  ``hard_negative_mining``), IVF cells (``ivf_topk``), hyperplane-LSH
  bands joined by ``dedup.band_join``, the one band equi-join every
  near-dup operator runs (``banded_near_dup_pairs``, ``ann_topk``),
  IVF or LSH cells over PQ codes (``ivfpq_topk``,
  ``ivfpq_multiprobe_topk``), an ANN shortlist (``rerank_exact``) and
  admitted corpus waves (``wave_triplet_mining``).
- **Shared scorers**, written once: ``_topk`` (the per-query top-k
  window) and ``_cos_topk`` (exact cosine into it); ``_verify_pairs``
  (exact cosine over candidate pairs); ``_pq_encode`` and
  ``_adc_topk`` (PQ codes and the asymmetric-distance search);
  ``_triplets`` (the positive / hard-negative argmax);
  ``_banded_values`` (the per-band hyperplane values both LSH
  operators band on).

LSH and IVF candidates are verified by exact cosine, so their recall
is tunable and their precision exact; PQ search scores compressed
codes by asymmetric distance, and ``rerank_exact`` is its exact second
stage.
Cosine is computed in double precision with left-to-right summation so
results are reproducible across engines (oracle: DuckDB
list_inner_product over DOUBLE[]).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.ident import quote_ident
from .dedup import band_join
from .parallelism import ensure_parallelism


def as_double(vec: str | Column) -> Column:
    col = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Left-to-right dot product via zip_with + aggregate (JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _topk(scored: DataFrame, score_col: str, k: int, desc: bool) -> DataFrame:
    """THE per-query top-k: rank each query's (query_id, neighbor_id,
    ``score_col``) rows by the score (``desc`` for similarities, asc for
    distances), ties to the lowest neighbor id, and keep rn <= k. The
    filter over the window plans as a WindowGroupLimit, so each query
    holds O(k) state."""
    order = F.desc(score_col) if desc else F.asc(score_col)
    w = Window.partitionBy("query_id").orderBy(order, F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", score_col, "rn")
    )


def _cos_topk(pairs: DataFrame, k: int) -> DataFrame:
    """Exact scorer for candidate pairs carrying ``qvec`` and ``cvec``:
    6dp-rounded cosine, then ``_topk``. Returns (query_id, neighbor_id,
    cos, rn)."""
    scored = pairs.withColumn(
        "cos", F.round(cosine(F.col("qvec"), F.col("cvec")), 6)
    ).select("query_id", "neighbor_id", "cos")
    return _topk(scored, "cos", k, desc=True)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per query. The query side is broadcast; the
    corpus never shuffles for the join — only the final per-query top-k
    (WindowGroupLimit keeps O(k) state per query). The corpus takes the
    parallelism floor so the |corpus| x |queries| cosine folds never
    fuse into a single-task scan stage (no-op on a multi-split
    corpus)."""
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("cvec")
    )
    q = queries.select(F.col(id_col).alias("query_id"), as_double(vec_col).alias("qvec"))
    return _cos_topk(
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")), k
    )


def cosine_pairs_above(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float,
) -> DataFrame:
    """Embedding near-dup: all pairs with cosine >= threshold (exact,
    quadratic — the correctness baseline; use LSH buckets at scale)."""
    a = corpus.select(F.col(id_col).alias("id_a"), as_double(vec_col).alias("va"))
    b = corpus.select(F.col(id_col).alias("id_b"), as_double(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def _verify_pairs(
    corpus: DataFrame, cands: DataFrame, *, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """THE exact verify of (id_a, id_b) candidate pairs: fetch both
    vectors, keep pairs with 6dp cosine >= ``threshold``. Each vector's
    norm is computed ONCE (below the join, one fold per corpus row) and
    carried as a column, so the per-candidate verify is a single dot
    fold plus a scalar divide instead of three array folds — the verify
    join dominates when the band layout is permissive. dot/(na*nb)
    keeps the exact FP shape of the oracle."""
    v = as_double(vec_col)
    sides = corpus.select(
        F.col(id_col).alias("__uid"), v.alias("__v"), norm(v).alias("__n")
    )
    a = sides.select(
        F.col("__uid").alias("id_a"), F.col("__v").alias("va"), F.col("__n").alias("na")
    )
    b = sides.select(
        F.col("__uid").alias("id_b"), F.col("__v").alias("vb"), F.col("__n").alias("nb")
    )
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "cos",
            F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def _probe_order_cmp(l: Column, r: Column) -> Column:
    """array_sort comparator reproducing EXACTLY the ordering the old
    row_number Window used — ``orderBy(desc(ccos), asc(cid))``: ccos
    DESC with NULLS LAST (``F.desc``'s default) and Spark's double
    semantics (NaN compares greater than any non-NaN, so NaN ranks
    first under DESC — the > / < expressions below share that exact
    semantics, and NaN==NaN falls through to the tiebreak); cid ASC
    with NULLS FIRST (``F.asc``'s default)."""
    lc, rc = l["ccos"], r["ccos"]
    lid, rid = l["cid"], r["cid"]
    cid_cmp = (
        F.when(lid.eqNullSafe(rid), F.lit(0))
        .when(lid.isNull(), F.lit(-1))
        .when(rid.isNull(), F.lit(1))
        .when(lid < rid, F.lit(-1))
        .otherwise(F.lit(1))
    )
    return (
        F.when(lc.isNull() & rc.isNull(), cid_cmp)
        .when(lc.isNull(), F.lit(1))
        .when(rc.isNull(), F.lit(-1))
        .when(lc > rc, F.lit(-1))
        .when(lc < rc, F.lit(1))
        .otherwise(cid_cmp)
    )


def _cent_array_row(centroids: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """ONE-row frame holding the whole centroid list as an array —
    the projection-form coarse assign's only non-corpus input.
    ``coalesce(1)`` folds the centroid scan into the gather's final
    task: the merge to one row is single-task EITHER WAY (the row must
    fit one executor — the same bound its broadcast already imposes),
    so the parallel partial-gather stage and its SinglePartition
    exchange bought nothing but two extra serialized stages (measured
    same-session: ivf_topk 1.41 → 1.19 s best-of-4 with the fold)."""
    return (
        centroids.coalesce(1)
        .select(
            F.struct(
                F.col(id_col).alias("cid"), as_double(vec_col).alias("cvec")
            ).alias("__c")
        )
        .agg(F.collect_list("__c").alias("__cents"))
    )


def _assign_probes(
    df: DataFrame, cent_row: DataFrame, *, vec_col: str, nprobe: int
) -> DataFrame:
    """Coarse-assign ``df`` against a prebuilt ``_cent_array_row``
    frame (shared by callers that assign both a corpus and a query
    side, so the gather subtree exists once)."""
    scored = (
        df.withColumn("__v", as_double(vec_col))
        .crossJoin(F.broadcast(cent_row))
        .withColumn(
            "__probes",
            F.slice(
                F.array_sort(
                    F.transform(
                        "__cents",
                        lambda c: F.struct(
                            F.round(cosine(F.col("__v"), c["cvec"]), 6).alias(
                                "ccos"
                            ),
                            c["cid"].alias("cid"),
                        ),
                    ),
                    _probe_order_cmp,
                ),
                1,
                nprobe,
            ),
        )
    )
    return scored.withColumn(
        "cid", F.explode(F.col("__probes").getField("cid"))
    ).drop("__v", "__cents", "__probes")


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids by cosine
    (IVF coarse quantization). Cosine is rounded to 6dp before ranking
    (with the centroid id as tiebreak) so the argmax is reproducible
    across engines.

    r16 (guide §2.4): the argmax is a pure PROJECTION against the
    centroid list collected into ONE broadcast row — per corpus row,
    score the centroid array with ``transform``, ``array_sort`` with a
    comparator that reproduces the old window's (ccos desc, cid asc)
    order bit-for-bit, slice ``nprobe``, explode. The previous
    row_number form shuffled the |corpus| × |cells| scored relation
    (full vectors riding every row) into a per-vector sort — at 100 TB
    an exchange of cells× the corpus width; now the corpus never
    shuffles at all and the only non-corpus input is one
    |cells|-element array.

    Assignment is per ROW, not per id: ``id_col`` is carried through,
    never deduplicated, so an id that appears on k input rows yields
    k × ``nprobe`` output rows, each row's probes scored from that
    row's own vector. Callers that need one assignment per id
    deduplicate first."""
    return _assign_probes(
        corpus,
        _cent_array_row(centroids, id_col, vec_col),
        vec_col=vec_col,
        nprobe=nprobe,
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into centroid
    cells (one probe each), probe the ``nprobe`` nearest cells per
    query, exact-cosine re-rank inside the probed cells only.

    Scale shape: the corpus partitions by cell id once (the inverted
    file); each query touches |corpus| × nprobe/|cells| candidates
    instead of the full corpus. Centroids stay broadcast at both steps.
    Deterministic given fixed centroids — unlike trained k-means — so
    the whole path is oracle-checkable."""
    cent_row = _cent_array_row(centroids, id_col, vec_col)  # one gather, both sides
    cells = _assign_probes(
        ensure_parallelism(corpus), cent_row, vec_col=vec_col, nprobe=1
    ).select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("cvec"), "cid"
    )
    probes = _assign_probes(queries, cent_row, vec_col=vec_col, nprobe=nprobe).select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qvec"), "cid"
    )
    return _cos_topk(
        cells.join(F.broadcast(probes), "cid").filter(
            F.col("query_id") != F.col("neighbor_id")
        ),
        k,
    )


def _hyperplane(dim: int, seed: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane: components from
    a fixed LCG so signatures are reproducible with no RNG dependency."""
    state = (seed * 2654435761 + 12345) & 0xFFFFFFFF
    comps = []
    for _ in range(dim):
        state = (1103515245 * state + 12345) & 0x7FFFFFFF
        comps.append((state / 0x7FFFFFFF) * 2.0 - 1.0)
    return comps


def lsh_signatures(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    dim: int,
    n_bits: int = 16,
) -> DataFrame:
    """Random-hyperplane (SimHash-for-vectors) signature: bit i = sign of
    <v, h_i>. Pure projection, no shuffle.

    The expression is generated as ONE SQL string handed to a single
    ``F.expr`` (r15 optimization, guide §7.3 "planning time"): the
    Column-API form issued ~n_bits * (dim + lambda) py4j round-trips —
    measured 1.9s of pure DRIVER time per construction at dim=64 /
    n_bits=16, paid TWICE by every corpus+queries caller and again per
    bench iteration — while the string parses JVM-side in ~0.3s to the
    same resolved tree (same per-bit CASE/zip_with/aggregate, same
    repr-round-tripped double literals, so values and plan shape are
    bit-identical; A/B in be3ad13:OPTIMIZATION_r15.md)."""
    sig = _sign_bits_sql(vec_col, dim, range(n_bits))
    return corpus.withColumn("lsh_sig", F.expr(sig))


def _sign_bits_sql(vec_col: str, dim: int, planes: range) -> str:
    """SQL for the integer whose bit i is the sign of <v, plane
    ``planes[i]``> — the signature expression of ``lsh_signatures``
    and of each band in ``_banded_values``."""
    v = f"transform({quote_ident(vec_col)}, x -> CAST(x AS DOUBLE))"
    terms = []
    for i, plane in enumerate(planes):
        lits = ", ".join(repr(c) + "D" for c in _hyperplane(dim, plane))
        dot_sql = (
            f"aggregate(zip_with({v}, array({lits}), (x, y) -> x * y), "
            f"0.0D, (acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {dot_sql} > 0 THEN {2**i}L ELSE 0L END)")
    return " + ".join(terms)


def _banded_values(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    dim: int,
    band_bits: int,
    n_bands: int,
    plane_stride: int,
) -> DataFrame:
    """corpus + ``__bv`` = the per-band value array (band j's
    ``band_bits``-wide integer over its own hyperplane family at plane
    offset j*plane_stride) — THE computation the pair operator, the ANN
    top-k and the fifth-decade witness key on; one code path so the
    witness can never drift from what the candidate join hashes. With
    ``plane_stride == band_bits`` band j is bits [j*w, (j+1)*w) of the
    contiguous ``lsh_signatures`` signature."""
    if plane_stride < band_bits:
        # Overlapping hyperplane families correlate band values across
        # bands, silently voiding the independence assumption behind
        # the b = ceil(4^(w/15)) threshold/recall math (r11 advisor).
        raise ValueError(
            f"plane_stride ({plane_stride}) must be >= band_bits "
            f"({band_bits}): bands would share hyperplanes"
        )
    # One generated SQL string instead of n_bands * band_bits * dim
    # Column-API py4j calls — same tree, same repr-round-tripped double
    # literals, seconds of driver time saved per construction (the
    # lsh_signatures rewrite, guide §7.3; A/B in be3ad13:OPTIMIZATION_r15.md).
    vals = [
        _sign_bits_sql(vec_col, dim, range(j * plane_stride, j * plane_stride + band_bits))
        for j in range(n_bands)
    ]
    return corpus.withColumn("__bv", F.expr("array(" + ", ".join(vals) + ")"))


def banded_signatures_df(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    band_bits: int,
    n_bands: int,
    plane_stride: int,
) -> DataFrame:
    """(id, band_id, band_val): the exploded banding relation of the
    band-count layout — exactly the projection
    ``banded_near_dup_pairs`` equi-joins on, exposed for the sampled
    fifth-decade witness (plans/scaled_knobs.py::embedding_bands_witness)."""
    signed = _banded_values(
        corpus,
        vec_col=vec_col,
        dim=dim,
        band_bits=band_bits,
        n_bands=n_bands,
        plane_stride=plane_stride,
    )
    # _outer, as in dedup.band_join: a plain posexplode makes Catalyst
    # infer size(__bv) > 0 below the projection, computing every band
    # value twice. __bv is a fixed-length array, so no row is added.
    return signed.select(
        id_col, F.posexplode_outer("__bv").alias("band_id", "band_val")
    )


def banded_near_dup_pairs(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    threshold: float,
    band_bits: int,
    n_bands: int,
    plane_stride: int,
) -> DataFrame:
    """Embedding near-dup at scale: hyperplane-LSH band candidates from
    ``band_join``, then exact cosine verification on the candidate set
    only (``_verify_pairs``; cosine_pairs_above is the quadratic
    ground-truth baseline, test-only). Shuffle volume is b·|corpus|
    band rows, never |corpus|²; candidates outside the threshold are
    discarded by the verify, so precision is 1.0 and recall is governed
    by the band layout (asserted against the exact baseline in tests).
    Deterministic end-to-end (LCG hyperplanes), hence oracle-checkable
    by reproducing the same planes as SQL literals.

    Band j's value is a ``band_bits``-wide integer from planes
    ``[j*plane_stride, j*plane_stride + band_bits)``. With
    ``plane_stride == band_bits`` that is the sliced contiguous
    signature (``embedding_near_dups``, the bits-scaled variant); a
    stride independent of the width (the band-count layout, r10 verdict
    item 2) lets the width keep absorbing the corpus residual past the
    one-BIGINT 60-bit cap while the band count grows to hold the LSH
    threshold (knob physics and the b = ceil(4^(w/15)) rule in
    ``knobs.scaled_band_layout``), and pins band j's plane family
    independent of the width knob, so the same static hyperplane-literal
    grid serves every corpus size on both engines — the oracle masks
    terms with i >= the width knob instead of re-deriving plane indices
    (plans/scaled_knobs.py)."""
    corpus = ensure_parallelism(corpus)
    signed = _banded_values(
        corpus,
        vec_col=vec_col,
        dim=dim,
        band_bits=band_bits,
        n_bands=n_bands,
        plane_stride=plane_stride,
    )
    sides = [
        signed.select(F.col(id_col).alias(i), F.col("__bv").alias("__bands"))
        for i in ("id_a", "id_b")
    ]
    cands = band_join(*sides, n_bands=n_bands, pair=F.col("id_a") < F.col("id_b"))
    return _verify_pairs(corpus, cands, id_col=id_col, vec_col=vec_col, threshold=threshold)


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    k: int = 5,
    n_bits: int = 16,
    band_bits: int = 4,
) -> DataFrame:
    """Approximate top-k: LSH band candidates from ``band_join`` (the
    query side broadcast), then exact cosine + per-query top-k on
    candidates only.

    Plan shape (the 100 TB path): each side's ``n_bits // band_bits``
    band values (band j = signature bits [j*w, (j+1)*w), the
    ``_banded_values`` layout with plane_stride = band_bits) explode to
    (band_id, band_val) rows and candidates come from a broadcast hash
    join on that key, never from a band-match DISJUNCTION, which has no
    single hash key and plans as BroadcastNestedLoopJoin — |corpus| ×
    |queries| predicate evaluations. The candidate set is IDENTICAL (a
    pair survives iff ANY band matches), each pair surfaces once, and
    the only exchange in the whole operator is the per-query top-k
    window's."""
    n_bands = n_bits // band_bits

    def side(df: DataFrame, id_alias: str, vec_alias: str) -> DataFrame:
        return _banded_values(
            df, vec_col=vec_col, dim=dim, band_bits=band_bits, n_bands=n_bands,
            plane_stride=band_bits,
        ).select(
            F.col(id_col).alias(id_alias),
            as_double(vec_col).alias(vec_alias),
            F.col("__bv").alias("__bands"),
        )

    return _cos_topk(
        band_join(
            side(ensure_parallelism(corpus), "neighbor_id", "cvec"),
            side(queries, "query_id", "qvec"),
            n_bands=n_bands,
            pair=F.col("query_id") != F.col("neighbor_id"),
            hint="broadcast",
        ),
        k,
    )


def _pq_slices(
    df: DataFrame, id_col: str, vec_col: str, out_vec: str, n_sub: int, sub_len: int
) -> DataFrame:
    """Explode each vector row into (id, subspace, slice) rows — a
    zero-shuffle projection."""
    return (
        df.select(
            F.col(id_col),
            as_double(vec_col).alias("__v"),
            F.explode(F.array(*[F.lit(m) for m in range(1, n_sub + 1)])).alias("subspace"),
        )
        .withColumn(out_vec, F.expr(f"slice(__v, (subspace - 1) * {sub_len} + 1, {sub_len})"))
        .drop("__v")
    )


def _l2sq(a: Column, b: Column) -> Column:
    """Left-to-right squared L2 distance between two slices."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_cent_row(
    codebook_source: DataFrame, id_col: str, vec_col: str, n_sub: int, sub_len: int
) -> DataFrame:
    """ONE-row broadcastable frame: the whole sub-codebook as
    ``__pcents`` = array of struct(code, subs) where subs[m-1] is the
    code's m-th slice — the projection-form code assignment's only
    non-corpus input (r16). ``coalesce(1)`` folds the codebook scan
    into the gather's final task — see ``_cent_array_row``."""
    return (
        codebook_source.coalesce(1)
        .select(
            F.struct(
                F.col(id_col).alias("code"),
                F.array(
                    *[
                        F.slice(as_double(vec_col), (m - 1) * sub_len + 1, sub_len)
                        for m in range(1, n_sub + 1)
                    ]
                ).alias("subs"),
            ).alias("__c")
        )
        .agg(F.collect_list("__c").alias("__pcents"))
    )


def _pq_code_structs(v: Column, n_sub: int, sub_len: int) -> Column:
    """Length-``n_sub`` array of per-subspace argmin struct(dist, code)
    over the broadcast ``__pcents`` codebook array. ``array_min``
    reproduces the old ``min(struct(dist, code))`` aggregate's SQL
    ordering EXACTLY (both use the engine's interpreted struct
    ordering: null fields smallest, NaN greater than any non-NaN,
    lexicographic field tiebreak), so the picked codes — and their
    null/NaN edge behavior — are bit-identical to the r15 form."""
    def _subspace_scorer(m: int):
        # closure factory, NOT a default-arg lambda: a two-parameter
        # lambda is PySpark's (element, index) transform form and the
        # second parameter would be shadowed by the index column
        def score(c: Column) -> Column:
            return F.struct(
                F.round(
                    _l2sq(
                        F.slice(v, (m - 1) * sub_len + 1, sub_len),
                        c["subs"][m - 1],
                    ),
                    6,
                ).alias("dist"),
                c["code"].alias("code"),
            )

        return score

    return F.array(
        *[
            F.array_min(F.transform("__pcents", _subspace_scorer(m)))
            for m in range(1, n_sub + 1)
        ]
    )


def _pq_encode(
    df: DataFrame,
    codebook_source: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    dim: int,
    n_sub: int,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """THE PQ encoder: (id, *keep, subspace, code, dist), one row per
    (vector, subspace), each slice coded as its nearest sub-centroid
    (L2, 6dp, code-id tiebreak). ``keep`` columns of ``df`` ride
    through — the IVF cell id, so codes and cells materialize together
    with no corpus-vs-corpus join.

    A pure PROJECTION (r16): the sub-codebook rides ONE broadcast row
    as an array, each row scores all n_sub subspaces in a single map
    pass (``_pq_code_structs``), and the code relation explodes out
    afterwards; the corpus never shuffles and nothing is sorted."""
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    sub_len = dim // n_sub
    cent_row = _pq_cent_row(codebook_source, id_col, vec_col, n_sub, sub_len)
    return (
        df.withColumn("__v", as_double(vec_col))
        .crossJoin(F.broadcast(cent_row))
        .withColumn("__codes", _pq_code_structs(F.col("__v"), n_sub, sub_len))
        .select(id_col, *keep, F.posexplode("__codes").alias("__m", "__best"))
        # empty-codebook contract: array_min over an empty codebook is
        # NULL; the old inner join produced no rows there
        .filter(F.col("__best").isNotNull())
        .select(
            id_col,
            *keep,
            (F.col("__m") + 1).cast("long").alias("subspace"),
            F.col("__best.code").alias("code"),
            F.col("__best.dist").alias("dist"),
        )
    )


def _adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebook_source: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    dim: int,
    n_sub: int,
    k: int,
    probes: DataFrame | None = None,
) -> DataFrame:
    """THE PQ asymmetric-distance (ADC) search over ``_pq_encode``
    codes: ``adist(q, x) = sum_m ||q_m - centroid[code_m(x)]||²``.

    The per-query distance TABLE (|queries| × n_sub × n_centroids rows)
    is broadcast and the codes join it map-side, so the corpus-side
    candidate stream flows into one partial-aggregated SUM per (query,
    neighbor); that singleton-row sum and the per-query top-k window
    are the only exchanges. With ``probes`` — a broadcast (query_id,
    cid) probe list — only codes in a query's probed cells are
    candidates (IVF restriction); without it every code is. Distances
    round to 6dp after the cross-subspace sum (neighbor-id tiebreak)
    so the ranking reproduces across engines."""
    sub_len = dim // n_sub  # divisibility checked by _pq_encode
    cent = _pq_slices(codebook_source, id_col, vec_col, "cvec", n_sub, sub_len).withColumnRenamed(
        id_col, "code"
    )
    q = _pq_slices(queries, id_col, vec_col, "qvec", n_sub, sub_len).withColumnRenamed(
        id_col, "query_id"
    )
    table = q.join(cent, "subspace").select(
        "query_id",
        F.col("subspace").cast("long").alias("subspace"),
        "code",
        _l2sq(F.col("qvec"), F.col("cvec")).alias("part"),
    )
    if probes is None:
        cands = codes.join(F.broadcast(table), ["subspace", "code"]).filter(
            F.col(id_col) != F.col("query_id")
        )
    else:
        cands = (
            codes.join(F.broadcast(probes), "cid")
            .filter(F.col(id_col) != F.col("query_id"))
            .join(F.broadcast(table), ["query_id", "subspace", "code"])
        )
    summed = cands.groupBy("query_id", F.col(id_col).alias("neighbor_id")).agg(
        F.round(F.sum("part"), 6).alias("adist")
    )
    return _topk(summed, "adist", k, desc=False)


def pq_codes(
    corpus: DataFrame,
    codebook_source: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    n_sub: int,
) -> DataFrame:
    """Product quantization: split each vector into ``n_sub`` subspaces
    and code each slice as its nearest sub-centroid (L2). Output one row
    per (vector, subspace): ``(id, subspace, code, dist)``.

    This is the 100 TB embedding-compression path (a 64-dim float vector
    becomes n_sub bytes; IVF+PQ is the standard billion-scale ANN
    layout). Code assignment is ``_pq_encode``'s projection: ordering
    identical to the r15 min(struct(dist, code)) aggregate, whose
    |corpus| × n_sub partial-argmin shuffle and SortAggregate it
    replaced. Distances are rounded to 6dp before ranking (centroid id
    tiebreak) so the argmin reproduces across engines.
    """
    return _pq_encode(
        corpus, codebook_source, id_col=id_col, vec_col=vec_col, dim=dim, n_sub=n_sub
    )


def pq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebook_source: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    n_sub: int,
    k: int = 5,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: approximate nearest neighbors
    scored entirely from compressed codes — ``_adc_topk`` over every
    corpus code (no probe restriction).

    The query stays full-precision, the corpus exists only as its PQ
    codes; with map-side combine the distance sum shuffles |corpus| ×
    |queries| singleton rows, and the final per-query top-k is a
    WindowGroupLimit. This is exactly the billion-scale ADC scan
    layout: full vectors are read once to build codes; searches never
    touch them again.
    """
    codes = pq_codes(corpus, codebook_source, id_col=id_col, vec_col=vec_col, dim=dim, n_sub=n_sub)
    return _adc_topk(
        codes, queries, codebook_source,
        id_col=id_col, vec_col=vec_col, dim=dim, n_sub=n_sub, k=k,
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebook_source: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    n_sub: int,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-PQ composite ANN — the standard billion-scale layout (IVF
    coarse cells restrict WHICH vectors are scored; PQ asymmetric
    distance decides HOW they are scored, from compressed codes only).

    Index build is a single map-side pass over the corpus: coarse-assign
    each vector to its nearest cell (broadcast centroids), then PQ-code
    the ASSIGNED frame with the cell id carried through
    (``_pq_encode``), so codes and cell ids materialize together with
    NO corpus-vs-corpus join. At 100 TB the inverted file would be
    written partitioned by ``cid``; searches then open only the probed
    cells (partition pruning).

    Search: each query probes its ``nprobe`` nearest cells, and
    ``_adc_topk`` scores the codes of the probed cells — the
    corpus-side candidate stream is |corpus| x nprobe/|cells| x n_sub
    rows. With ``nprobe >= |cells|`` the result is exactly
    ``pq_ann_topk`` (pinned in tests)."""
    coarse_row = _cent_array_row(centroids, id_col, vec_col)  # shared: cells + probes
    cells = _assign_probes(
        ensure_parallelism(corpus), coarse_row, vec_col=vec_col, nprobe=1
    )
    probes = _assign_probes(
        queries, coarse_row, vec_col=vec_col, nprobe=nprobe
    ).select(F.col(id_col).alias("query_id"), "cid")
    return _ivfpq_search(
        cells, probes, queries, codebook_source,
        id_col=id_col, vec_col=vec_col, dim=dim, n_sub=n_sub, k=k,
    )


def _ivfpq_search(
    cells: DataFrame,
    probes: DataFrame,
    queries: DataFrame,
    codebook_source: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    dim: int,
    n_sub: int,
    k: int,
) -> DataFrame:
    """The IVF-PQ operators' common half: PQ-code the ``cells`` frame
    (corpus rows + ``cid``) and run the probe-restricted ADC search."""
    codes = _pq_encode(
        cells, codebook_source,
        id_col=id_col, vec_col=vec_col, dim=dim, n_sub=n_sub, keep=("cid",),
    )
    return _adc_topk(
        codes, queries, codebook_source,
        id_col=id_col, vec_col=vec_col, dim=dim, n_sub=n_sub, k=k, probes=probes,
    )


def ivfpq_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebook_source: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    n_sub: int,
    k: int = 5,
    cell_bits: int,
) -> DataFrame:
    """IVF-PQ with a corpus-scaled LSH coarse quantizer and Hamming-1
    multiprobe — the cells-∝-n production form of ``ivfpq_topk``.

    The r8 scale campaign (SCALE.md §13) traced ``ivfpq_ann_topk``'s
    superlinear slope to its two FIXED codebooks: coarse cells pinned →
    probed-set size ∝ n, and a mod-sampled PQ codebook that itself grows
    with n → code assignment ∝ n²/mod. This variant scales both the
    right way:

    - **Coarse**: the cell is the vector's ``cell_bits``-bit hyperplane
      signature (2^cell_bits cells; bits from knobs.scaled_cell_bits so
      occupancy stays ~constant). Assignment is a shuffle-free
      Θ(n·bits) projection — exact nearest-centroid assignment with
      cells ∝ n would be Θ(n·cells), the quadratic reappearing at build
      time.
    - **Probe**: a query probes its own cell plus every Hamming-1
      neighbor (flip one signature bit) — multiprobe LSH (Lv et al.
      2007), the published substitute for "nprobe nearest cells" when
      cells are hash buckets. cell_bits+1 probes ≈ constant-occupancy
      cells → scanned candidates per query stay Θ(occupancy·bits) as n
      grows.
    - **PQ**: the sub-codebook is a FIXED-size prefix of the corpus
      (``vec_id < size`` slices), the standard k*=const PQ posture —
      code assignment is Θ(n·k*), linear, vs the mod-sampled codebook's
      Θ(n²/mod).

    Only the cells and probes differ from ``ivfpq_topk``; coding and
    search are the same ``_ivfpq_search``. Deterministic end-to-end, so
    hash-checked (plans/scaled_knobs.py)."""
    cells = lsh_signatures(
        ensure_parallelism(corpus), vec_col=vec_col, dim=dim, n_bits=cell_bits
    ).withColumnRenamed("lsh_sig", "cid")
    qsig = lsh_signatures(queries, vec_col=vec_col, dim=dim, n_bits=cell_bits)
    probes = qsig.select(
        F.col(id_col).alias("query_id"),
        F.explode(
            F.array(
                F.col("lsh_sig"),
                *[
                    F.col("lsh_sig").bitwiseXOR(F.lit(1 << j).cast("bigint"))
                    for j in range(cell_bits)
                ],
            )
        ).alias("cid"),
    )
    return _ivfpq_search(
        cells, probes, queries, codebook_source,
        id_col=id_col, vec_col=vec_col, dim=dim, n_sub=n_sub, k=k,
    )


def hard_negative_mining(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive-training triplet mining: for each query vector, the
    nearest SAME-label neighbor (the positive) and the nearest
    DIFFERENT-label neighbor (the hard negative — the close-but-wrong
    example contrastive and retrieval training needs; random negatives
    are too easy to carry gradient). One row per query:
    (query_id, label, pos_id, pos_cos, neg_id, neg_cos); queries whose
    candidate set lacks EITHER side — no same-label counterpart (no
    positive to anchor) or no different-label candidate (no negative to
    contrast) — drop out, since a triplet needs both.

    Scale shape: the query side is broadcast and the corpus never
    shuffles for the join (as ``brute_force_topk``); BOTH argmaxes then
    fold in ONE aggregation pass over the scored candidates —
    ``min(when(same, struct(-cos, id)))`` / ``min(when(diff, ...))`` —
    so the pair set is enumerated once and partial-aggregated map-side
    (a per-branch row_number window would instead shuffle the full
    scored set twice; same struct-argmax trade as ``pq_codes``, at the
    accepted cost of the struct buffer's SortAggregate). Negating the
    COSINE (not the id) and taking min gives the deterministic
    (cos desc, id asc) order for ANY orderable id type — numeric or
    string doc ids alike (negating the id, the previous form, assumed a
    numeric id). Candidate generation swaps in the banded-LSH or IVF
    path at corpus scale exactly as for top-k (the mining rule only
    needs the candidate cosines, however they were produced)."""
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("__cid"),
        F.col(label_col).alias("__clabel"),
        as_double(vec_col).alias("__cvec"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("label"),
        as_double(vec_col).alias("__qvec"),
    )
    return _triplets(
        c.join(F.broadcast(q), F.col("query_id") != F.col("__cid")),
        ["query_id", "label"],
    )


def _triplets(pairs: DataFrame, keys: list[str]) -> DataFrame:
    """THE triplet tail over (query, candidate) pairs carrying
    ``__qvec``/``__cvec``, ``label``/``__clabel`` and ``__cid``: 6dp
    cosine, then both argmaxes — the same-label positive and the
    different-label hard negative — in ONE grouped aggregation over
    ``keys``; queries lacking either side drop out. One row per query:
    (*keys, pos_id, pos_cos, neg_id, neg_cos), ordered by query_id."""
    scored = pairs.withColumn(
        "__cos", F.round(cosine(F.col("__qvec"), F.col("__cvec")), 6)
    ).select(*keys, "__cid", "__clabel", "__cos")
    same = F.col("__clabel") == F.col("label")
    agg = scored.groupBy(*keys).agg(
        _best_by_cos(same).alias("__p"), _best_by_cos(~same).alias("__n")
    )
    return (
        agg.filter(F.col("__p").isNotNull() & F.col("__n").isNotNull())
        .select(
            *keys,
            F.col("__p.cid").alias("pos_id"),
            (-F.col("__p.nc")).alias("pos_cos"),
            F.col("__n.cid").alias("neg_id"),
            (-F.col("__n.nc")).alias("neg_cos"),
        )
        .orderBy("query_id")
    )


def _best_by_cos(cond: Column) -> Column:
    """Struct-argmax over candidates satisfying ``cond``: highest
    ``__cos``, ties to the LOWEST ``__cid``. min(struct(-cos, id)) — the
    cosine is negated (an exact FP operation), never the id, so the
    tiebreak works for any orderable id type; rows failing ``cond``
    yield NULL structs, which min() skips."""
    return F.min(
        F.when(
            cond,
            F.struct((-F.col("__cos")).alias("nc"), F.col("__cid").alias("cid")),
        )
    )


def wave_triplet_mining(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    wave_col: str = "wave",
    n_waves: int = 3,
) -> DataFrame:
    """Growing-corpus triplet mining — the batch semantics of the
    streaming triplet sink. The corpus arrives in WAVES (ingestion
    batches); each query mines its positive / hard negative against
    only the waves admitted BEFORE its own (candidate.wave <
    query.wave), exactly what a continuous mining job sees: early
    queries face a smaller corpus. Queries in wave 0 have no candidates
    and drop out, as do queries lacking either a same-label positive or
    a different-label negative among their admitted candidates.

    Plan shape: the raw `candidate.wave < query.wave` predicate has no
    hash key and would plan as BroadcastNestedLoopJoin — the same trap
    as the pre-r7 ann_topk band disjunction. Instead each (broadcast)
    query EXPLODES into its admitted wave ids [0, wave) and the join is
    a hash EQUI-join on the wave id; a candidate belongs to exactly one
    wave, so pairs are enumerated once and both argmaxes fold in the
    single struct-argmax pass of ``hard_negative_mining``."""
    c = corpus.select(
        F.col(wave_col).alias("__w"),
        F.col(id_col).alias("__cid"),
        F.col(label_col).alias("__clabel"),
        as_double(vec_col).alias("__cvec"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("label"),
        F.col(wave_col).alias("wave"),
        as_double(vec_col).alias("__qvec"),
    ).withColumn(
        "__w",
        F.explode(
            F.filter(
                F.sequence(F.lit(0).cast("bigint"), F.lit(n_waves - 1).cast("bigint")),
                lambda w: w < F.col("wave"),
            )
        ),
    )
    return _triplets(
        c.join(F.broadcast(q), "__w").filter(F.col("query_id") != F.col("__cid")),
        ["query_id", "label", "wave"],
    )


def rerank_exact(
    corpus: DataFrame,
    queries: DataFrame,
    shortlist: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Stage 2 of the production retrieval stack: exact-cosine re-rank
    of an ANN shortlist. Every billion-scale deployment searches on a
    lossy index (IVF cells + PQ codes here — full vectors never touched
    at search time) and then rescores the surviving candidates at full
    precision; this operator is that rescoring pass, decoupled from
    which stage-1 index produced the shortlist.

    Scale shape: the shortlist is |queries| x R rows — broadcast-sized
    by construction, so fetching candidate vectors is a broadcast hash
    join keyed by id against the full-vector table (at rest: an
    id-bucketed store, so the fetch prunes to the touched buckets, a
    point-lookup pattern). The query vectors ride a second broadcast;
    the exact cosine folds in whole-stage codegen, and the final top-k
    is a WindowGroupLimit with O(k) state per query. The corpus is
    never scanned for scoring — only the candidate fetch touches it.

    Returns (query_id, neighbor_id, cos, rn), rn <= k, cosine rounded
    6dp (engine-stable, matching brute_force_topk's contract)."""
    short = shortlist.select("query_id", "neighbor_id")
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("cvec")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qvec")
    )
    return _cos_topk(
        c.join(F.broadcast(short), "neighbor_id").join(F.broadcast(q), "query_id"), k
    )
