"""Data-quality queries: column profiling, expectation gates, FK audits
(operators/quality.py), blocked fuzzy record linkage and malformed-JSON
auditing, each hash-checked against DuckDB.

These are the pre-training corpus QA gates: profile every ingest batch,
fail the run on expectation violations, audit referential integrity
between fact and dimension snapshots.

- ``fuzzy_name_match``: entity resolution between a clean registry and a
  dirty feed via BLOCKING + edit-distance verify. The blocking key
  (first char, length band) turns the quadratic all-pairs comparison
  into an equi-join: only same-block pairs are ever scored.
- ``json_parse_audit``: malformed-payload accounting via the
  corrupt-record column (the dead-letter-queue pattern); malformed rows
  are planted deterministically and mirrored via json_valid in the
  oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.quality import expectation_counts, fk_orphans, profile_columns
from .registry import load, register

_PROFILE_COLS = ["event_id", "user_id", "event_type", "value", "props"]


@register(
    "profile_events",
    oracle="\nUNION ALL\n".join(
        f"""
SELECT '{c}' AS "column",
       CAST(COUNT(*) AS BIGINT)                                      AS n_rows,
       -- COALESCE: an EMPTY batch has 0 nulls, not NULL nulls (SUM
       -- over zero rows is NULL in SQL; the engine's count-based
       -- profile reports 0 — empty-input gate)
       CAST(COALESCE(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
                                                                     AS n_null,
       CAST(COUNT(DISTINCT {c}) AS BIGINT)                           AS n_distinct
FROM events"""
        for c in _PROFILE_COLS
    ),
)
def profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of the events batch in ONE scan (multi-agg +
    stack unpivot — the oracle's N-subquery UNION is the semantics, not
    the plan)."""
    ev = load(spark, sf_dir, "events")
    return profile_columns(ev, _PROFILE_COLS)


@register(
    "expectation_checks",
    oracle="""
SELECT 'nonneg_value' AS rule,
       CAST(SUM(CASE WHEN value >= 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_violations FROM events
UNION ALL
SELECT 'known_event_type',
       CAST(SUM(CASE WHEN event_type IN ('click','error','purchase','signup','view') THEN 0 ELSE 1 END) AS BIGINT) FROM events
UNION ALL
SELECT 'user_id_not_null',
       CAST(SUM(CASE WHEN user_id IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) FROM events
UNION ALL
SELECT 'ts_in_2024',
       CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2025-01-01' THEN 0 ELSE 1 END) AS BIGINT) FROM events
""",
)
def expectation_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative batch-gate expectations -> violation counts, single
    scan (NULL predicate = violation, like a NOT-VALIDATED constraint)."""
    ev = load(spark, sf_dir, "events")
    return expectation_counts(
        ev,
        {
            "nonneg_value": F.col("value") >= 0,
            "known_event_type": F.col("event_type").isin(
                "click", "error", "purchase", "signup", "view"
            ),
            "user_id_not_null": F.col("user_id").isNotNull(),
            "ts_in_2024": (F.col("ts") >= F.lit("2024-01-01").cast("timestamp"))
            & (F.col("ts") < F.lit("2025-01-01").cast("timestamp")),
        },
    )


@register(
    "fk_orphans_audit",
    oracle="""
SELECT 'lineitem_orders' AS relationship,
       CAST((SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) AS n_orphans
UNION ALL
SELECT 'orders_customer',
       CAST((SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
""",
)
def fk_orphans_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts per FK relationship
    via left-anti joins (parent side pruned to its distinct key column;
    AQE broadcast-converts it when small)."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    a = (
        fk_orphans(li, o, child_key="l_orderkey", parent_key="o_orderkey")
        .agg(F.count(F.lit(1)).alias("n_orphans"))
        .select(F.lit("lineitem_orders").alias("relationship"), "n_orphans")
    )
    b = (
        fk_orphans(o, c, child_key="o_custkey", parent_key="c_custkey")
        .agg(F.count(F.lit(1)).alias("n_orphans"))
        .select(F.lit("orders_customer").alias("relationship"), "n_orphans")
    )
    return a.unionByName(b)

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
