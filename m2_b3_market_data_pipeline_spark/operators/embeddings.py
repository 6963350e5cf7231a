"""Embedding-vector operators for LLM training-data pipelines.

The vector-hygiene steps that sit next to ANN/dedup at 100 TB
(BASELINE.json north star): L2 normalization, int8 quantization for
storage/serving, and nearest-centroid assignment (the inner step of
k-means / IVF training). All built-in higher-order SQL functions over
``array<float>`` — JVM-side, codegen'd, no Python, no shuffle for the
per-vector ops; the centroid join broadcasts the (tiny) centroid side.

Scale notes:
- normalize/quantize are pure projections: throughput is bounded by
  parquet scan speed; the embedding column should be the only one read
  (column pruning — asserted in plan tests).
- centroid assignment broadcasts K centroids (K ~ 2^10..2^16 at IVF
  scale, a few MB) and never shuffles the corpus; the per-row cost is
  K dot products inside codegen. For K beyond broadcast range, switch
  to the IVF two-level scheme in operators/similarity.py.

Each operator has a DuckDB oracle twin in plans/retrieval_quality.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.ident import quote_ident
from .similarity import as_double, cosine, lsh_signatures, norm


def l2_normalize(
    df: DataFrame, *, vec_col: str = "embedding", out_col: str = "unit"
) -> DataFrame:
    """Unit-normalize vectors (double precision); adds ``l2_norm`` and
    the normalized vector. Zero vectors yield a null unit vector rather
    than NaNs."""
    v = as_double(vec_col)
    n = norm(v)
    unit = F.when(n > 0, F.transform(v, lambda x: x / n))
    return df.withColumn("l2_norm", n).withColumn(out_col, unit)


def quantize_int8(
    df: DataFrame, *, vec_col: str = "embedding", prefix: str = "q"
) -> DataFrame:
    """Symmetric int8 quantization: scale = max(|v|)/127, q_i =
    round(v_i / scale). Adds ``{prefix}_scale`` (double), ``{prefix}_vec``
    (array<int>) and ``{prefix}_mse`` (reconstruction mean-squared error).
    Integer codes are bit-stable across engines; scale/mse are rounded
    at the query layer per the registry determinism contract."""
    v = as_double(vec_col)
    absmax = F.array_max(F.transform(v, F.abs))
    scale = absmax / F.lit(127.0)
    q = F.when(absmax > 0, F.transform(v, lambda x: F.round(x / scale).cast("int")))
    recon_err = F.when(
        absmax > 0,
        F.aggregate(
            F.zip_with(
                v,
                q,
                lambda x, qi: (x - qi.cast("double") * scale)
                * (x - qi.cast("double") * scale),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / F.size(v).cast("double"),
    )
    return (
        df.withColumn(f"{prefix}_scale", scale)
        .withColumn(f"{prefix}_vec", q)
        .withColumn(f"{prefix}_mse", recon_err)
    )


def sq_dist(a: Column, b: Column) -> Column:
    """Squared L2 distance between two double arrays (codegen'd fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _argmin_assign(
    vectors: DataFrame, centroids: DataFrame, *, id_col: str
) -> DataFrame:
    """(id, __v) x broadcast (centroid_id, __c) -> (id, __v, centroid_id,
    __dist) keeping only the nearest centroid (deterministic tiebreak)."""
    w = Window.partitionBy(id_col).orderBy(
        F.col("__dist").asc(), F.col("centroid_id").asc()
    )
    return (
        vectors.join(F.broadcast(centroids))
        .withColumn("__dist", sq_dist(F.col("__v"), F.col("__c")))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__c")
    )


def kmeans_iterate(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
) -> DataFrame:
    """Lloyd's k-means, deterministically: seed centroids are the ``k``
    lowest-id vectors; each iteration assigns (broadcast argmin, as in
    ``assign_centroids``) then recomputes centroids as the per-dimension
    mean ROUNDED to 6 decimals — the rounding makes the iterate itself
    bit-stable across engines (unrounded distributed means differ in the
    last ulp with aggregation order, which could flip borderline
    assignments). Returns the final assignment (id, centroid_id,
    sq_dist).

    Scale shape per iteration: one broadcast join + argmin window
    (corpus never shuffles for the join), one explode-by-dimension
    aggregation for the update (rows x dim, map-side partial). Clusters
    that lose all members drop out, identically on both engines. The
    driver loop carries only the (tiny) centroid frame between rounds —
    k x dim values — never corpus data."""
    vectors = df.select(F.col(id_col).alias("__id"), as_double(vec_col).alias("__v"))
    centroids = (
        vectors.filter(F.col("__id") < k)
        .select(F.col("__id").cast("int").alias("centroid_id"), F.col("__v").alias("__c"))
    )
    for _ in range(iters):
        assigned = _argmin_assign(vectors, centroids, id_col="__id")
        dims = assigned.select(
            "centroid_id", F.posexplode("__v").alias("dim", "val")
        )
        means = dims.groupBy("centroid_id", "dim").agg(
            F.round(F.avg("val"), 6).alias("m")
        )
        centroids = means.groupBy("centroid_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))), lambda s: s["m"]
            ).alias("__c")
        )
    final = _argmin_assign(vectors, centroids, id_col="__id")
    return final.select(
        F.col("__id").alias(id_col),
        "centroid_id",
        F.round(F.col("__dist"), 6).alias("sq_dist"),
    )


def semdedup(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.45,
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster the
    embedding space with k-means, then prune — within each cluster only —
    every vector whose cosine similarity to a LOWER-id cluster-mate
    reaches ``threshold`` (the deterministic stand-in for the paper's
    keep-one-representative rule). Returns (id, centroid_id, pruned),
    one row per input vector.

    This is THE scale trick of semantic dedup: the quadratic pairwise
    cosine runs per-cluster, never corpus-wide — k is chosen so clusters
    average n/k vectors and the pair count is n²/k, not n² (the paper
    uses k ~ 10^4-10^5 at billion-doc scale; the in-cluster join here
    shuffles on centroid_id, so a runaway cluster is a skew key — AQE
    skew-join splits it, and the k-means objective itself keeps clusters
    balanced). Cosines are rounded to 6dp BEFORE the threshold compare
    so no float-boundary vector flips between engines."""
    assigned = kmeans_iterate(df, id_col=id_col, vec_col=vec_col, k=k, iters=iters)
    vectors = df.select(F.col(id_col), as_double(vec_col).alias("__v"))
    # (id, centroid, vector) feeds THREE consumers — both sides of the
    # pair join and the final output join. Without the persist each one
    # replays the whole k-means DAG (measured 3x the work at sf0.1);
    # _cached_frames contract as minhash — release via release_cached.
    # At 100 TB the same role is played by materializing the assignment.
    withv = assigned.select(id_col, "centroid_id").join(vectors, id_col).persist()
    left = withv.select(
        F.col(id_col).alias("__id_a"), "centroid_id", F.col("__v").alias("__va")
    )
    right = withv.select(
        F.col(id_col).alias("__id_b"), "centroid_id", F.col("__v").alias("__vb")
    )
    pruned = (
        left.join(right, "centroid_id")
        .filter(F.col("__id_a") < F.col("__id_b"))
        .withColumn("__cos", F.round(cosine(F.col("__va"), F.col("__vb")), 6))
        .filter(F.col("__cos") >= threshold)
        .select(F.col("__id_b").alias(id_col))
        .distinct()
        .withColumn("__pruned", F.lit(True))
    )
    out = (
        withv.join(pruned, id_col, "left")
        .select(
            id_col,
            "centroid_id",
            F.coalesce(F.col("__pruned"), F.lit(False)).alias("pruned"),
        )
        # no cosmetic final orderBy (r15, guide §2.4): the oracle gate
        # hashes order-insensitively, and the range exchange re-executes
        # the final join for its sampling pass
    )
    out._cached_frames = [withv]  # type: ignore[attr-defined]
    return out


def semdedup_lsh(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    cell_bits: int,
    threshold: float = 0.45,
) -> DataFrame:
    """SemDeDup with an LSH coarse quantizer — the corpus-scaled
    production form of ``semdedup``. The prune rule is identical (a
    vector is pruned iff a LOWER-id cell-mate reaches ``threshold``
    cosine); only the cell assignment changes: instead of k trained
    centroids, the cell is the vector's ``cell_bits``-bit hyperplane-LSH
    signature, so the cell COUNT is 2^cell_bits.

    Why this is the knob-∝-n posture (operators/knobs.py::
    scaled_cell_bits): with k-means, growing k with the corpus makes the
    nearest-centroid assignment itself Θ(n·k) = Θ(n²/occ) — the
    quadratic just moves stages. The LSH quantizer assigns in
    Θ(n·cell_bits) (a shuffle-free projection), and with cells ∝ n the
    expected in-cell pair volume is Θ(n·occupancy) — linear, measured
    at sf1→sf3 in SCALE.md §14. Hyperplane cells group by angular
    locality, the same geometry the cosine prune rule uses, so the
    semantic-representative semantics survive the quantizer swap (the
    trade: axis-aligned-ish cells vs data-adaptive centroids costs
    recall at cell boundaries, the standard LSH-vs-IVF trade).
    Deterministic (LCG hyperplanes), hence hash-checked end-to-end.

    Returns (id, cell_id, pruned), one row per input vector."""
    sig = lsh_signatures(df, vec_col=vec_col, dim=dim, n_bits=cell_bits)
    # (id, cell, vector) feeds both sides of the pair join and the final
    # output — persist, as in ``semdedup`` (same _cached_frames contract).
    withv = sig.select(
        F.col(id_col), F.col("lsh_sig").alias("cell_id"), as_double(vec_col).alias("__v")
    ).persist()
    left = withv.select(
        F.col(id_col).alias("__id_a"), "cell_id", F.col("__v").alias("__va")
    )
    right = withv.select(
        F.col(id_col).alias("__id_b"), "cell_id", F.col("__v").alias("__vb")
    )
    pruned = (
        left.join(right, "cell_id")
        .filter(F.col("__id_a") < F.col("__id_b"))
        .withColumn("__cos", F.round(cosine(F.col("__va"), F.col("__vb")), 6))
        .filter(F.col("__cos") >= threshold)
        .select(F.col("__id_b").alias(id_col))
        .distinct()
        .withColumn("__pruned", F.lit(True))
    )
    out = (
        withv.join(pruned, id_col, "left")
        .select(
            id_col,
            "cell_id",
            F.coalesce(F.col("__pruned"), F.lit(False)).alias("pruned"),
        )
        # no cosmetic final orderBy (r15, guide §2.4): the oracle gate
        # hashes order-insensitively, and the range exchange re-executes
        # the final join for its sampling pass
    )
    out._cached_frames = [withv]  # type: ignore[attr-defined]
    return out


def lsh_cell_assigner(*, dim: int, cell_bits: int):
    """Factory: an LSH-cell assignment function with the SAME output
    layout as ``assign_with_vector`` — (id, centroid_id, vector) — for
    callers that take the quantizer as a strategy (the streaming
    semantic-dedup sink). The cell is the vector's ``cell_bits``-bit
    hyperplane signature, so assignment is a shuffle-free Θ(n·bits)
    projection and the cell count scales as 2^bits — the same
    cells-∝-corpus posture as ``semdedup_lsh`` / knobs.scaled_cell_bits,
    here for continuous ingestion (bits are fixed for the stream's life
    so cell ids stay stable across batches; pick them from the PLANNED
    corpus size — re-sharding a live store is a rebuild, same as
    re-training a codebook)."""

    def assign(df: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
        sig = lsh_signatures(df, vec_col=vec_col, dim=dim, n_bits=cell_bits)
        return sig.select(
            F.col(id_col),
            F.col("lsh_sig").alias("centroid_id"),
            as_double(vec_col).alias(vec_col),
        )

    return assign


def assign_with_vector(
    df: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
) -> DataFrame:
    """Nearest-centroid assignment that KEEPS the vector column:
    (id, centroid_id, vector-as-double). This is the ADMISSION layout of
    incremental semantic dedup — each vector is assigned once, on entry,
    and the store is partitioned by centroid_id so later delta joins are
    cluster-local. Same broadcast-argmin shape as ``assign_centroids``
    (centroids broadcast, corpus never shuffles for the join, lowest-id
    tiebreak)."""
    cents = centroids.select(
        F.col(centroid_id_col).alias("centroid_id"),
        as_double(centroid_vec_col).alias("__c"),
    )
    vecs = df.select(F.col(id_col).alias("__id"), as_double(vec_col).alias("__v"))
    out = _argmin_assign(vecs, cents, id_col="__id")
    return out.select(
        F.col("__id").alias(id_col), "centroid_id", F.col("__v").alias(vec_col)
    )


def semdedup_prune_assigned(
    delta_assigned: DataFrame,
    corpus_assigned: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
) -> DataFrame:
    """Cell-local delta-vs-corpus prune over two ``assign_with_vector``
    frames: a delta vector is pruned iff its 6dp-rounded cosine to ANY
    corpus vector in the SAME cell reaches ``threshold``. Returns
    (id, centroid_id, pruned) per delta row. This single function is
    the prune rule for BOTH the batch operator (``semdedup_incremental``)
    and the streaming sink (streaming/semdedup_sink.py) — one code path,
    drift-proof by construction (the funnel-sink precedent)."""
    d = delta_assigned.select(
        F.col(id_col).alias("__id"), "centroid_id", as_double(vec_col).alias("__v")
    )
    corp = corpus_assigned.select(
        "centroid_id", F.col(id_col).alias("__cid"), as_double(vec_col).alias("__cv")
    )
    hits = (
        d.join(corp, "centroid_id")
        .filter(F.col("__cid") != F.col("__id"))
        .withColumn("__cos", F.round(cosine(F.col("__v"), F.col("__cv")), 6))
        .filter(F.col("__cos") >= threshold)
        .select("__id")
        .distinct()
        .withColumn("__pruned", F.lit(True))
    )
    return d.select("__id", "centroid_id").join(hits, "__id", "left").select(
        F.col("__id").alias(id_col),
        "centroid_id",
        F.coalesce(F.col("__pruned"), F.lit(False)).alias("pruned"),
    )


def semdedup_incremental(
    delta: DataFrame,
    corpus_assigned: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
    threshold: float = 0.45,
) -> DataFrame:
    """Delta-vs-corpus semantic dedup: prune each NEW vector whose cosine
    to ANY already-admitted corpus vector in its cell reaches
    ``threshold``. Returns (id, centroid_id, pruned) per delta row — the
    continuous-crawl counterpart of ``semdedup`` (which dedups a static
    corpus against itself).

    Scale shape: centroids broadcast for the delta's argmin assignment;
    the verify join is an EQUI-join on centroid_id, so only same-cell
    (delta x corpus) pairs are enumerated — |delta| x |cell| rows, never
    |delta| x |corpus| and never corpus x corpus (admitted vectors are
    compared against at most once per incoming vector). The corpus side
    arrives pre-assigned in the ``assign_with_vector`` layout; stored
    partitioned by centroid_id (as the streaming sink does), the join
    reads only the delta's touched cells. Cosines round to 6dp before
    the threshold compare, as everywhere, so no float-boundary vector
    flips between engines."""
    delta_assigned = assign_with_vector(
        delta,
        centroids,
        id_col=id_col,
        vec_col=vec_col,
        centroid_id_col=centroid_id_col,
        centroid_vec_col=centroid_vec_col,
    )
    return semdedup_prune_assigned(
        delta_assigned,
        corpus_assigned,
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
    )


def assign_centroids(
    df: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
) -> DataFrame:
    """Nearest-centroid assignment (the k-means / IVF-training inner
    step): broadcast the centroid set, compute K squared distances per
    row inside codegen, keep the argmin with a deterministic tiebreak
    (lowest centroid id). The corpus side never shuffles; the ROW_NUMBER
    window partitions by vector id, so WindowGroupLimit keeps O(1) state
    per vector."""
    joined = df.select(id_col, as_double(vec_col).alias("__v")).join(
        F.broadcast(
            centroids.select(
                centroid_id_col, as_double(centroid_vec_col).alias("__c")
            )
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("__dist").asc(), F.col(centroid_id_col).asc()
    )
    return (
        joined.withColumn("__dist", sq_dist(F.col("__v"), F.col("__c")))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            id_col,
            centroid_id_col,
            F.round(F.col("__dist"), 6).alias("sq_dist"),
        )
    )


def jl_signs(dim: int, out_dim: int, seed: int = 9000) -> list[list[float]]:
    """Deterministic ±1 Johnson-Lindenstrauss projection signs: row i is
    the sign pattern of the LCG hyperplane with seed ``seed + i`` (the
    same generator the LSH family uses), so both engines can embed the
    matrix as literals. Achlioptas (2003) showed ±1 entries satisfy the
    JL lemma — no Gaussian sampling needed, which is what makes the
    projection expressible as codegen'd integer-free arithmetic."""
    from .similarity import _hyperplane

    return [
        [1.0 if c > 0 else -1.0 for c in _hyperplane(dim, seed + i)]
        for i in range(out_dim)
    ]


def jl_project(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    dim: int,
    out_dim: int,
    seed: int = 9000,
    out_col: str = "projected",
) -> DataFrame:
    """Random-projection dimensionality reduction y_i = <v, s_i>/sqrt(k)
    over the fixed ±1 sign matrix — the cheap pre-ANN shrink step (the
    registered jl_project_norms query runs 64->16 on the fixture;
    1024->64 in production, where it cuts every downstream cosine
    and LSH cost by the same factor). Pure projection: no shuffle, no
    Python, one pass inside whole-stage codegen; the matrix rides in the
    expression as literals (out_dim x dim doubles, trivially broadcast-
    free).

    The expression arrives as ONE generated SQL string (r16 — the
    lsh_signatures r15 rewrite, guide §7.3 "planning time"): the
    Column-API form issued ~out_dim × (dim + λ) py4j round-trips of
    pure driver time per construction; the string parses JVM-side to
    the same resolved tree (identical zip_with/aggregate shape,
    repr-round-tripped double literals, so values and plan are
    bit-identical)."""
    scale = out_dim ** 0.5
    v = f"transform({quote_ident(vec_col)}, x -> CAST(x AS DOUBLE))"
    rows = [
        (
            f"aggregate(zip_with({v}, array("
            + ", ".join(repr(c) + "D" for c in signs)
            + f"), (x, y) -> x * y), 0.0D, (acc, x) -> acc + x) / {scale!r}D"
        )
        for signs in jl_signs(dim, out_dim, seed)
    ]
    return df.withColumn(out_col, F.expr("array(" + ", ".join(rows) + ")"))
