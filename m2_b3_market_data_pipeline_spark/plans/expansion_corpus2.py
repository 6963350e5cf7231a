"""Corpus-curation queries, wave 2: dedup clustering (connected
components), document chunking, character entropy, and train/eval
decontamination (operators/graph.py, operators/corpus.py).

The connected-components oracle is a DuckDB recursive CTE over the SAME
MinHash pair SQL the pair-level oracle uses — so the iterative Spark
algorithm is hash-checked against a declarative transitive closure.
"""

from __future__ import annotations

import textwrap

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.corpus import (
    chunk_documents,
    contamination_overlap,
    with_char_entropy,
)
from ..operators.dedup import fan_out, minhash_dedup_pairs, release_cached
from ..operators.graph import connected_components
from .expansion_dedup import JACCARD_THRESHOLD, minhash_pairs_sql
from .expansion_text import _TK
from .registry import load, register

CHUNK_TOKENS = 16
CHUNK_STRIDE = 8
DECONTAM_NGRAM = 3
BENCH_MOD = 97  # doc_id % 97 == 0 plays the "benchmark/eval set" role


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
