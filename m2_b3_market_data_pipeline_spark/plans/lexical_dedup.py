"""Document-level deduplication: exact, MinHash+LSH, n-gram Jaccard,
SimHash, directed containment, and the near-dup cluster graph built on
the MinHash pairs (operators/dedup.py, operators/graph.py).

Each query has a DuckDB oracle generated from the SAME constants as the
Spark operators (seeds, band layout, thresholds), so the approximate
methods are hash-checked end-to-end, not just spot-checked. The
connected-components oracle is a DuckDB recursive CTE over the SAME
MinHash pair SQL the pair-level oracle uses — so the iterative Spark
algorithm is hash-checked against a declarative transitive closure.

- ``containment_pairs``: directed shingle containment — the quote/subset
  near-dup case Jaccard misses.
- ``leakage_safe_split``: train/valid/test assignment keyed on the
  near-dup cluster id, so no document's near-copy leaks across splits.
"""

from __future__ import annotations

import textwrap

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    BAND_SIZE,
    NUM_HASHES,
    SIMHASH_BITS,
    containment_pairs,
    exact_dedup,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    release_cached,
    simhash_signatures,
)
from ..operators.graph import connected_components
from .registry import load, register
from .sql_fragments import TK
from .sql_fragments import TK as _TK
_SH = (
    "list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] "
    "for i in generate_series(1, len(tk)-2)])"
)
JACCARD_THRESHOLD = 0.5
NGRAM_THRESHOLD = 0.4


@register(
    "dedup_exact",
    oracle="""
SELECT doc_id, lang, source, n_chars
FROM documents
QUALIFY ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) = 1
""",
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: deterministic keep-first per key via row_number
    (operators/dedup.py). Bare dropDuplicates keeps an arbitrary row and
    is therefore un-oracle-able; this form is the scalable deterministic
    variant (WindowGroupLimit: O(1) state per group)."""
    docs = load(spark, sf_dir, "documents")
    return exact_dedup(docs, keys=["lang", "source"], tiebreak=["doc_id"]).select(
        "doc_id", "lang", "source", "n_chars"
    )


def _minhash_sig_sql(source: str = "documents", suffix: str = "") -> str:
    """CTEs computing shingle sets + minhash signatures over ``source``
    (any relation with doc_id + text — parameterized so composed
    pipelines can run the same dedup over a filtered survivor set).
    ``suffix`` renames the CTE chain so two signature pipelines (e.g.
    delta + corpus for the incremental join) coexist in one query."""
    # Numeric 60-bit min-hashes — mirrors operators/dedup.py::
    # with_minhash (seeded_hash60): first 15 hex chars of the seeded md5
    # as BIGINT, numeric min.
    mh_exprs = ",\n       ".join(
        f"list_min(list_transform(sh, s -> "
        f"CAST(('0x' || substr(md5('{i}|' || s), 1, 15)) AS BIGINT))) AS mh{i}"
        for i in range(NUM_HASHES)
    )
    return f"""
tk{suffix} AS (SELECT doc_id, {_TK} AS tk FROM {source}),
sh{suffix} AS (SELECT doc_id, {_SH} AS sh FROM tk{suffix}),
sigs{suffix} AS (SELECT doc_id, sh, {mh_exprs} FROM sh{suffix})
"""


def _band_sql(suffix: str = "") -> str:
    n_bands = NUM_HASHES // BAND_SIZE
    selects = []
    for b in range(n_bands):
        # decimal string concatenation, matching Spark's concat_ws("")
        # over BIGINT columns
        cols = " || ".join(
            f"CAST(mh{b * BAND_SIZE + j} AS VARCHAR)" for j in range(BAND_SIZE)
        )
        selects.append(
            f"SELECT doc_id, {b} AS band_id, md5({cols}) AS band_hash"
            f" FROM sigs{suffix} WHERE mh0 IS NOT NULL"
        )
    return f"bands{suffix} AS (" + " UNION ALL ".join(selects) + ")"


_JACC = (
    "ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)"
    " / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE), 6)"
)


def minhash_pairs_sql(source: str = "documents", threshold: float = JACCARD_THRESHOLD) -> str:
    """CTE chain (no leading WITH) ending in ``mh_pairs``: verified
    MinHash+LSH near-dup pairs (id_a < id_b, jaccard >= threshold)
    over ``source``."""
    return f"""{_minhash_sig_sql(source)},
{_band_sql()},
pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
mh_pairs AS (
    SELECT p.id_a, p.id_b, {_JACC} AS jaccard
    FROM pairs p
    JOIN sigs sa ON sa.doc_id = p.id_a
    JOIN sigs sb ON sb.doc_id = p.id_b
    WHERE {_JACC} >= {threshold}
)"""


MINHASH_ORACLE = f"""
WITH {minhash_pairs_sql()}
SELECT id_a, id_b, jaccard FROM mh_pairs
"""


@register("minhash_dedup", oracle=MINHASH_ORACLE)
def minhash_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH fuzzy dedup: shingle -> 12 portable min-hashes (pure
    projection) -> 3 bands of 4 -> bucket equi-join -> exact Jaccard
    verify at >= 0.5 (operators/dedup.py). Shuffle volume is docs×bands,
    never docs²."""
    docs = load(spark, sf_dir, "documents")
    return minhash_dedup_pairs(docs, threshold=JACCARD_THRESHOLD)


NGRAM_ORACLE = f"""
WITH tk AS (SELECT doc_id, {_TK} AS tk FROM documents),
sh AS (SELECT doc_id, {_SH} AS shl FROM tk),
ex AS (SELECT doc_id, len(shl) AS set_size, unnest(shl) AS shingle FROM sh),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           a.set_size AS size_a, b.set_size AS size_b,
           COUNT(*) AS inter
    FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b,
       ROUND(CAST(inter AS DOUBLE) / CAST(size_a + size_b - inter AS DOUBLE), 6) AS jaccard
FROM inter
WHERE ROUND(CAST(inter AS DOUBLE) / CAST(size_a + size_b - inter AS DOUBLE), 6) >= {NGRAM_THRESHOLD}
"""


@register("ngram_jaccard", oracle=NGRAM_ORACLE)
def ngram_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram Jaccard similarity join via shingle inverted index —
    the ground truth the LSH path approximates (operators/dedup.py)."""
    docs = load(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=NGRAM_THRESHOLD)


_HALF = SIMHASH_BITS // 2


def _simhash_sig_cte() -> str:
    """CTEs computing the SAME two-halves 64-bit simhash as
    ``operators/dedup.py::simhash_expr``: lo half votes on md5 hex chars
    1-8, hi half on chars 9-16."""
    votes = ",\n           ".join(
        f"SUM(CASE WHEN (h_lo >> {j}) & 1 = 1 THEN cnt ELSE -cnt END) AS vl{j},\n"
        f"           SUM(CASE WHEN (h_hi >> {j}) & 1 = 1 THEN cnt ELSE -cnt END) AS vh{j}"
        for j in range(_HALF)
    )
    sig_lo = " + ".join(
        f"CASE WHEN vl{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END" for j in range(_HALF)
    )
    sig_hi = " + ".join(
        f"CASE WHEN vh{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END" for j in range(_HALF)
    )
    return f"""
tk AS (SELECT doc_id, {_TK} AS tk FROM documents),
tok AS (SELECT doc_id, unnest(tk) AS token FROM tk),
wt AS (SELECT doc_id, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
h AS (SELECT doc_id, cnt,
             CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) AS h_lo,
             CAST(('0x' || substr(md5(token), 9, 8)) AS BIGINT) AS h_hi
      FROM wt),
v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id),
sigs AS (SELECT doc_id, {sig_lo} AS simhash_lo, {sig_hi} AS simhash_hi FROM v)
"""


@register("simhash_signatures", oracle=f"WITH {_simhash_sig_cte()} SELECT * FROM sigs")
def simhash_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document via token-hash bit voting, carried as
    two 32-bit bigint halves (operators/dedup.py); near-dup pair search
    uses the 16-bit pigeonhole chunk join (see simhash_near_dups)."""
    docs = load(spark, sf_dir, "documents")
    return simhash_signatures(docs)


SIMHASH_MAX_HAMMING = 3


def _simhash_pairs_oracle() -> str:
    from ..operators.dedup import simhash_chunks

    layout = simhash_chunks(SIMHASH_MAX_HAMMING + 1)
    bands = " UNION ALL ".join(
        f"SELECT doc_id, simhash_lo, simhash_hi, {c} AS chunk_id,"
        f" ({half} >> {shift}) & {mask} AS chunk_val FROM sigs"
        for c, (half, shift, mask) in enumerate(layout)
    )
    ham = (
        "CAST(bit_count(xor(a.simhash_lo, b.simhash_lo))"
        " + bit_count(xor(a.simhash_hi, b.simhash_hi)) AS BIGINT)"
    )
    return f"""
WITH {_simhash_sig_cte()},
bands AS ({bands})
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, {ham} AS hamming
FROM bands a JOIN bands b
  ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
WHERE {ham} <= {SIMHASH_MAX_HAMMING}
"""


DELTA_MOD = 7          # every 7th doc spawns a perturbed incoming twin
DELTA_ID_OFFSET = 3_000_000
DELTA_SUFFIX = " zq marker token"


def _incremental_oracle() -> str:
    return f"""
WITH delta_src AS (
    SELECT doc_id + {DELTA_ID_OFFSET} AS doc_id,
           text || '{DELTA_SUFFIX}' AS text
    FROM documents WHERE doc_id % {DELTA_MOD} = 0
),
{_minhash_sig_sql("documents", suffix="_c")},
{_minhash_sig_sql("delta_src", suffix="_d")},
{_band_sql(suffix="_c")},
{_band_sql(suffix="_d")},
cand AS (
    SELECT DISTINCT d.doc_id AS delta_id, c.doc_id AS corpus_id
    FROM bands_d d JOIN bands_c c
      ON d.band_id = c.band_id AND d.band_hash = c.band_hash
)
SELECT p.delta_id, p.corpus_id, {_JACC} AS jaccard
FROM cand p
JOIN sigs_d sa ON sa.doc_id = p.delta_id
JOIN sigs_c sb ON sb.doc_id = p.corpus_id
WHERE {_JACC} >= {JACCARD_THRESHOLD}
"""


@register("incremental_near_dedup", oracle=_incremental_oracle())
def incremental_near_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (delta-vs-corpus) near-dedup — the continuous-crawl
    curation shape: which INCOMING documents are near-copies of
    something already kept? Cross-relation LSH band join
    (operators/dedup.py::minhash_incremental_pairs): corpus×corpus
    pairs are never formed, and at scale the corpus side joins from a
    stored signature table instead of rescanning text. The delta feed
    is planted deterministically (every 7th doc with a short appended
    marker, so shingle overlap stays high for non-trivial docs) and the
    match set is hash-checked end-to-end."""
    from ..operators.dedup import minhash_incremental_pairs

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    delta = docs.filter(F.col("doc_id") % DELTA_MOD == 0).select(
        (F.col("doc_id") + DELTA_ID_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(DELTA_SUFFIX)).alias("text"),
    )
    return minhash_incremental_pairs(delta, docs, threshold=JACCARD_THRESHOLD)


@register("simhash_near_dups", oracle=_simhash_pairs_oracle())
def simhash_near_dups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance 3 over the 64-bit
    signature — the Manku et al. WWW'07 layout: pigeonhole equi-join on
    four 16-bit chunks instead of a cross join (operators/dedup.py).
    Hash-checked end-to-end: the oracle reproduces signatures, chunk
    join and bit_count verify in DuckDB."""
    from ..operators.dedup import simhash_near_pairs

    docs = load(spark, sf_dir, "documents")
    sigs = simhash_signatures(docs)
    return simhash_near_pairs(sigs, max_hamming=SIMHASH_MAX_HAMMING)


# The cluster-closure oracle every connected-components query shares:
# both edge directions of the MinHash pairs and the recursive reach
# relation, each doc's cluster_id = MIN(lab) over reach. ``tail``
# continues the WITH clause right after ``reach`` (a following CTE or
# the final SELECT); ``docs`` names the doc relation, ``ctes`` defines
# it when it is not the documents table.
CLUSTER_ID_SQL = (
    "SELECT node AS doc_id, CAST(MIN(lab) AS BIGINT) AS cluster_id\n"
    "FROM reach GROUP BY node"
)
CLUSTERS_CTE = "clusters AS (\n" + textwrap.indent(CLUSTER_ID_SQL, "    ") + "\n)"


def clusters_oracle(
    tail: str = f"\n{CLUSTER_ID_SQL}\n", *, docs: str = "documents", ctes: str = ""
) -> str:
    return f"""
WITH RECURSIVE {ctes}{minhash_pairs_sql(docs)},
edges AS (
    SELECT id_a AS src, id_b AS dst FROM mh_pairs
    UNION
    SELECT id_b AS src, id_a AS dst FROM mh_pairs
),
reach(node, lab) AS (
    SELECT doc_id, doc_id FROM {docs}
    UNION
    SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
){tail}"""


def doc_clusters(docs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id) over ``docs`` (with doc_id, text): MinHash+LSH
    near-dup pairs -> connected components (operators/graph.py). Every
    doc gets the min doc_id of its component as cluster_id; singletons
    keep their own id. The components are materialized before the call
    returns, so the pairs' signature cache is released here."""
    pairs = minhash_dedup_pairs(docs.select("doc_id", "text"), threshold=JACCARD_THRESHOLD)
    out = connected_components(pairs, docs.select("doc_id"), node_col="doc_id")
    release_cached(pairs)
    return out


@register("dedup_clusters", oracle=clusters_oracle())
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: MinHash+LSH pairs -> distributed connected
    components (large-star/small-star, operators/graph.py). The oracle
    computes the same closure declaratively with a recursive CTE."""
    return doc_clusters(load(spark, sf_dir, "documents"))


# Deterministic doc sample for scale-decade witnesses: keep a doc iff
# the first hex nibble of md5(doc_id-as-string) is '0' (~1/16,
# hash-uniform, engine-identical — the pagerank_cosuppliers_subgraph
# idiom from plans/graph_queries.py).
_DOC_SAMPLE_SQL = "substr(md5(CAST(doc_id AS STRING)), 1, 1) = '0'"


@register(
    "dedup_clusters_sample",
    oracle=clusters_oracle(
        docs="sdocs",
        ctes=f"""sdocs AS (
    SELECT doc_id, text FROM documents WHERE {_DOC_SAMPLE_SQL}),
""",
    ),
)
def dedup_clusters_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_clusters`` on a deterministic md5-seeded ~1/16 doc
    sample — the bounded differential witness for the scale decades
    where the full-corpus clustering oracle (16 md5 min-hashes per
    shingle over EVERY doc, then a recursive closure) out-scales
    DuckDB. The sample pushes below the shingle/signature computation,
    so the witness costs 1/16 of the signature work and ~1/256 of the
    candidate pairs at any corpus size; the components found are the
    true components of the induced sub-corpus (sampling is applied
    before pairing on BOTH engines). Full-corpus evidence at those
    scales stays Spark-side (star rounds grow O(log^2 n) at worst,
    SCALE.md §13)."""
    return doc_clusters(load(spark, sf_dir, "documents").filter(F.expr(_DOC_SAMPLE_SQL)))


@register(
    "cluster_size_histogram",
    oracle=clusters_oracle(
        f""",
{CLUSTERS_CTE},
sizes AS (
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
    FROM clusters GROUP BY cluster_id
)
SELECT cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(COUNT(*) * cluster_size AS BIGINT) AS n_docs,
       CAST(COUNT(*) * (cluster_size - 1) AS BIGINT) AS n_removable
FROM sizes GROUP BY cluster_size
"""
    ),
)
def cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup report every curation run reads: distribution of
    near-dup cluster sizes, with docs-per-bucket and how many docs a
    keep-one-per-cluster policy would remove. Two tiny aggregates over
    the cluster table — the only wide work is the clustering itself
    (shared shape with ``dedup_clusters``); the histogram has at most
    max-cluster-size rows, so it collects safely at any corpus scale."""
    clusters = doc_clusters(load(spark, sf_dir, "documents"))
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count("*").cast("bigint").alias("n_clusters"),
        (F.count("*") * F.col("cluster_size")).cast("bigint").alias("n_docs"),
        (F.count("*") * (F.col("cluster_size") - 1))
        .cast("bigint")
        .alias("n_removable"),
    )


@register(
    "dedup_rate_by_source",
    oracle=clusters_oracle(
        f""",
{CLUSTERS_CTE}
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (WHERE c.doc_id <> c.cluster_id) AS BIGINT)
           AS n_near_dups,
       ROUND(AVG(CASE WHEN c.doc_id <> c.cluster_id THEN 1.0 ELSE 0.0 END), 6)
           AS dup_rate
FROM documents d JOIN clusters c ON d.doc_id = c.doc_id
GROUP BY d.source
"""
    ),
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance-level dedup accounting: per SOURCE, how many documents
    are non-canonical members of a near-dup cluster (doc_id !=
    cluster_id under the min-id convention) and the resulting dup rate —
    the table that tells a curation run WHICH feed is flooding the
    corpus with near-copies. Cluster table joined back to the doc
    metadata on doc_id (one co-partitioned shuffle), then a tiny
    per-source aggregate."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    clusters = doc_clusters(docs)
    is_dup = (F.col("doc_id") != F.col("cluster_id")).cast("double")
    return (
        docs.select("doc_id", "source")
        .join(clusters, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(is_dup).cast("bigint").alias("n_near_dups"),
            F.round(F.avg(is_dup), 6).alias("dup_rate"),
        )
    )

CONTAIN_NGRAM = 5
CONTAIN_THRESHOLD = 0.6


@register(
    "containment_pairs",
    oracle=f"""
WITH t AS (
    SELECT doc_id,
           {TK} AS tk
    FROM documents
),
sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(tk[i:i+{CONTAIN_NGRAM - 1}], ' ')
                          for i in generate_series(1, len(tk) - {CONTAIN_NGRAM - 1})]) AS s
    FROM t
),
e AS (SELECT doc_id, len(s) AS set_size, unnest(s) AS shingle FROM sh),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.set_size AS size_a,
           COUNT(*) AS n_inter
    FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
    GROUP BY 1, 2, 3
)
SELECT id_a, id_b,
       ROUND(CAST(n_inter AS DOUBLE) / CAST(size_a AS DOUBLE), 6) AS containment
FROM inter
WHERE CAST(n_inter AS DOUBLE) / CAST(size_a AS DOUBLE) >= {CONTAIN_THRESHOLD}
""",
)
def containment_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle-containment join (operators/dedup.py): catches
    short-doc-inside-long-doc reuse that Jaccard under-scores."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return containment_pairs(docs, n=CONTAIN_NGRAM, threshold=CONTAIN_THRESHOLD)


@register("dedup_clusters_twophase", oracle=clusters_oracle())
def dedup_clusters_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_clusters`` kept under its registered name: the same
    MinHash pair graph, the same large-star/small-star connected
    components (operators/graph.py) and the same recursive-CTE
    oracle."""
    return doc_clusters(load(spark, sf_dir, "documents"))


@register(
    "leakage_safe_split",
    oracle=clusters_oracle(
        f"""
, {CLUSTERS_CTE}
SELECT doc_id, cluster_id,
       CASE WHEN CAST(('0x' || substr(md5('split|' || CAST(cluster_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 100 < 80 THEN 'train'
            WHEN CAST(('0x' || substr(md5('split|' || CAST(cluster_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 100 < 90 THEN 'valid'
            ELSE 'test' END AS split
FROM clusters
"""
    ),
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/valid/test split: assignment keyed on the
    near-dup CLUSTER id, not the document id — every member of a
    near-duplicate cluster lands in the same split, so no document's
    near-copy can leak from train into eval. Composition of the MinHash
    cluster graph (``dedup_clusters``) with the deterministic keyed-md5
    split (``train_test_split``); the oracle chains the recursive-CTE
    closure into the same bucket arithmetic. The split expression is a
    projection over the cluster table — the only wide work is the
    clustering itself."""
    clusters = doc_clusters(load(spark, sf_dir, "documents"))
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split|"), F.col("cluster_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    split = F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    return clusters.select("doc_id", "cluster_id", split.alias("split"))
