"""Wave 8: record linkage (blocked fuzzy join) and malformed-input
auditing — the data-cleaning surface of a production lake.

- fuzzy_name_match: entity resolution between a clean registry and a
  dirty feed via BLOCKING + edit-distance verify. The blocking key
  (first char, length band) turns the quadratic all-pairs comparison
  into an equi-join: only same-block pairs are ever scored, the
  standard record-linkage shape at scale. The dirty side is planted
  deterministically (one char deleted), so both engines construct the
  same inputs and the match set is hash-checked.
- json_parse_audit: malformed-payload accounting via the
  corrupt-record column (the dead-letter-queue pattern); the audit
  counts malformed rows and aggregates only the clean ones. The
  malformed rows are planted deterministically (prefix garbage on
  every 13th event), mirrored via json_valid in the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .expansion_corpus2 import CLUSTERS_CTE, clusters_oracle, doc_clusters
from .registry import load, register
from .sql_fragments import NTOK

FUZZY_MAX_DIST = 2
JSON_BAD_MOD = 13


@register(
    "fuzzy_name_match",
    oracle=f"""
WITH clean AS (SELECT DISTINCT p_name FROM part),
dirty AS (
    SELECT p_name AS orig,
           substr(p_name, 1, 2) || substr(p_name, 4) AS noisy
    FROM clean WHERE strlen(p_name) >= 4
),
blocked AS (
    SELECT c.p_name AS clean_name, d.noisy, d.orig,
           levenshtein(c.p_name, d.noisy) AS dist
    FROM clean c JOIN dirty d
      ON substr(c.p_name, 1, 1) = substr(d.noisy, 1, 1)
     AND abs(strlen(c.p_name) - strlen(d.noisy)) <= {FUZZY_MAX_DIST}
)
SELECT clean_name, noisy, CAST(dist AS BIGINT) AS dist,
       clean_name = orig AS is_true_match
FROM blocked WHERE dist <= {FUZZY_MAX_DIST}
""",
)
def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy join: clean registry (distinct part names) vs a
    planted dirty feed (3rd char deleted). The equi-join (blocking) key
    is COMPOSITE — (first char, length band floor(len/3)) — with the
    dirty side exploded to its band and both neighbors so any pair
    within FUZZY_MAX_DIST of length lands in a shared band. A
    first-char-only key would give ~26-62 shuffle buckets and a hot-key
    join at corpus scale; the composite key multiplies the bucket count
    by the length-band cardinality, so block sizes bound the worst-case
    task. The exact |len(a)-len(b)| <= 2 check and levenshtein stay as
    post-join residuals (the band join is a strict superset of the
    length-band predicate, so the match set — and the oracle — are
    unchanged). Planted corruption keeps the match set deterministic
    and hash-checkable, with is_true_match exposing blocking recall."""
    clean = load(spark, sf_dir, "part").select("p_name").distinct()
    dirty = clean.filter(F.length("p_name") >= 4).select(
        F.col("p_name").alias("orig"),
        F.concat(
            F.substring("p_name", 1, 2), F.expr("substr(p_name, 4)")
        ).alias("noisy"),
    )
    band_width = FUZZY_MAX_DIST + 1
    clean_b = clean.select(
        "p_name",
        F.substring("p_name", 1, 1).alias("blk_char"),
        F.floor(F.length("p_name") / band_width).alias("blk_band"),
    )
    noisy_band = F.floor(F.length("noisy") / band_width)
    dirty_b = dirty.select(
        "orig",
        "noisy",
        F.substring("noisy", 1, 1).alias("blk_char"),
        F.explode(
            F.array(noisy_band - 1, noisy_band, noisy_band + 1)
        ).alias("blk_band"),
    )
    blocked = clean_b.join(dirty_b, ["blk_char", "blk_band"]).filter(
        F.abs(F.length(F.col("p_name")) - F.length(F.col("noisy")))
        <= FUZZY_MAX_DIST
    ).select(
        F.col("p_name").alias("clean_name"),
        "noisy",
        "orig",
        F.levenshtein(F.col("p_name"), F.col("noisy")).cast("bigint").alias("dist"),
    )
    return blocked.filter(F.col("dist") <= FUZZY_MAX_DIST).select(
        "clean_name",
        "noisy",
        "dist",
        (F.col("clean_name") == F.col("orig")).alias("is_true_match"),
    )


@register(
    "json_parse_audit",
    oracle=f"""
WITH feed AS (
    SELECT event_type,
           CASE WHEN event_id % {JSON_BAD_MOD} = 0 THEN 'x' || props
                ELSE props END AS props
    FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(*) FILTER (WHERE NOT json_valid(props)) AS BIGINT) AS n_malformed,
       CAST(SUM(CASE WHEN json_valid(props)
                     THEN CAST(json_extract(props, '$.k') AS BIGINT) END)
            AS BIGINT) AS sum_k
FROM feed
GROUP BY event_type
""",
)
def json_parse_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-payload audit: every 13th event's JSON is corrupted
    (prefix garbage — both engines plant identically; suffix garbage
    would NOT work: Spark's Jackson-based from_json stops after the
    root value and tolerates trailing bytes, DuckDB's json_valid does
    not), then PERMISSIVE
    from_json turns malformed rows into NULL structs; the audit counts
    them and aggregates the parsed field over clean rows only. One
    projection + one aggregate — the dead-letter accounting every
    ingest pipeline needs, with no Python in the loop."""
    # PERMISSIVE from_json never returns a NULL struct — malformed rows
    # become all-null fields — so the reliable malformed signal is the
    # corrupt-record column: non-null iff the parse failed. This is the
    # dead-letter-queue pattern verbatim.
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("_corrupt", T.StringType())]
    )
    feed = load(spark, sf_dir, "events").select(
        "event_type",
        F.when(
            F.col("event_id") % JSON_BAD_MOD == 0, F.concat(F.lit("x"), F.col("props"))
        )
        .otherwise(F.col("props"))
        .alias("props"),
    )
    parsed = feed.withColumn(
        "j",
        F.from_json("props", schema, {"columnNameOfCorruptRecord": "_corrupt"}),
    )
    bad = F.col("j._corrupt").isNotNull()
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(bad, 1).otherwise(0)).cast("bigint").alias("n_malformed"),
        F.sum(F.when(~bad, F.col("j.k"))).alias("sum_k"),
    )


@register("dedup_clusters_twophase", oracle=clusters_oracle())
def dedup_clusters_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_clusters`` kept under its registered name: the same
    MinHash pair graph, the same large-star/small-star connected
    components (operators/graph.py) and the same recursive-CTE
    oracle."""
    return doc_clusters(load(spark, sf_dir, "documents"))


SNAP_OLD_MOD = 5   # rows missing from the "new" snapshot -> deleted
SNAP_NEW_MOD = 7   # rows missing from the "old" snapshot -> inserted
SNAP_CHG_MOD = 11  # rows present in both with a changed value -> updated


@register(
    "snapshot_diff",
    oracle=f"""
WITH old AS (
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_orderkey % {SNAP_NEW_MOD} <> 0
),
new AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % {SNAP_CHG_MOD} = 0
                THEN o_totalprice + 1.0 ELSE o_totalprice END
               AS o_totalprice
    FROM orders WHERE o_orderkey % {SNAP_OLD_MOD} <> 0
)
SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'inserted'
            WHEN n.o_orderkey IS NULL THEN 'deleted'
            ELSE 'updated' END AS change_type,
       o.o_totalprice AS old_price,
       n.o_totalprice AS new_price
FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
   OR o.o_totalprice <> n.o_totalprice
""",
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: diff two versions of a table into
    inserted / deleted / updated rows via one co-partitioned full outer
    join on the key (both sides shuffle once on o_orderkey; with
    bucketed storage even that exchange disappears). The deterministic
    'snapshots' are carved from orders with planted inserts, deletes,
    and value changes so the diff set is hash-checked. At 100 TB the
    row-level diff is the second phase — a per-partition checksum pass
    first skips identical partitions entirely (same algebra as
    partial_agg_merge); the registered query is that second phase."""
    base = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    old = base.filter(F.col("o_orderkey") % SNAP_NEW_MOD != 0)
    new = base.filter(F.col("o_orderkey") % SNAP_OLD_MOD != 0).select(
        "o_orderkey",
        # +1.0, not *1.1: a multiply lands some prices exactly on a
        # half-cent rounding boundary where Spark (half-up) and DuckDB
        # (half-even) disagree; addition is the same double op on both.
        F.when(
            F.col("o_orderkey") % SNAP_CHG_MOD == 0,
            F.col("o_totalprice") + F.lit(1.0),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    o = old.alias("o")
    n = new.alias("n")
    joined = o.join(n, F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer")
    change = (
        F.when(F.col("o.o_orderkey").isNull(), F.lit("inserted"))
        .when(F.col("n.o_orderkey").isNull(), F.lit("deleted"))
        .otherwise(F.lit("updated"))
    )
    return joined.select(
        F.coalesce(F.col("o.o_orderkey"), F.col("n.o_orderkey")).alias("o_orderkey"),
        change.alias("change_type"),
        F.col("o.o_totalprice").alias("old_price"),
        F.col("n.o_totalprice").alias("new_price"),
    ).filter(
        F.col("o.o_orderkey").isNull()
        | F.col("n.o_orderkey").isNull()
        | (F.col("o.o_totalprice") != F.col("n.o_totalprice"))
    )


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
