"""Statistical analytics: group-wise regression, deterministic
weighted sampling, equal-frequency binning, co-occurrence lift, and
all pairwise Pearson correlations in ONE aggregation pass.

All pure DataFrame compositions over the fixtures, each hash-checked.
The numerically delicate parts (variance/covariance) use the engines'
own streaming aggregates (``covar_samp`` / ``var_samp`` exist with
identical definitions in Spark and DuckDB) with inputs centered to
small magnitudes so 6dp rounding absorbs summation-order drift.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import load, register


@register(
    "groupwise_regression",
    oracle="""
WITH d AS (
    SELECT event_type,
           CAST(date_diff('second', TIMESTAMP '2024-01-01', ts) AS DOUBLE) / 86400.0 AS x,
           value AS y
    FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT)                               AS n,
       ROUND(covar_samp(x, y) / var_samp(x), 6)               AS slope,
       ROUND(AVG(y) - covar_samp(x, y) / var_samp(x) * AVG(x), 6) AS intercept,
       ROUND(corr(x, y), 6)                                   AS r
FROM d
GROUP BY event_type
""",
)
def groupwise_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS fit of value against time (days since epoch start):
    slope = cov(x,y)/var(x), plus Pearson r. ONE hash aggregation —
    covar/var/corr are single-pass algebraic aggregates with map-side
    partials, so a trillion-row fit is still scan-bound. x is centered
    to day units (0..31 on the fixture) so both engines' streaming
    moment updates agree to well past 6dp.
    """
    ev = load(spark, sf_dir, "events")
    x = F.unix_timestamp("ts").cast("double") / 86400.0 - F.lit(
        F.unix_timestamp(F.lit("2024-01-01").cast("timestamp")).cast("double") / 86400.0
    )
    d = ev.select("event_type", x.alias("x"), F.col("value").alias("y"))
    slope = F.covar_samp("x", "y") / F.var_samp("x")
    return d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round(F.avg("y") - slope * F.avg("x"), 6).alias("intercept"),
        F.round(F.corr("x", "y"), 6).alias("r"),
    )


@register(
    "weighted_sample",
    oracle="""
WITH d AS (
    SELECT doc_id, strlen(text) AS w,
           (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ws'), 1, 8)) AS BIGINT) + 1.0)
             / 4294967296.0 AS u
    FROM documents
    WHERE strlen(text) > 0
),
keyed AS (
    SELECT doc_id, CAST(w AS BIGINT) AS w, ROUND(-ln(u) / w, 6) AS key_ FROM d
)
SELECT doc_id, w, key_ FROM keyed
ORDER BY key_ ASC, doc_id ASC
LIMIT 50
""",
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-Res, k=50, weight = document length): each row draws a
    reproducible pseudo-uniform u from md5(doc_id), gets key -ln(u)/w,
    and the k smallest keys win. One scan + TakeOrderedAndProject — the
    top-k tournament is O(k) state per partition, no shuffle of the
    corpus. Reproducible across engines, partitionings, and retries,
    unlike rand()-based sampling.
    """
    # A-Res contract: only positive weights participate (a zero-length
    # doc has sampling probability 0, and -ln(u)/0 is an ANSI
    # divide-by-zero); NULL text fails the predicate on both engines
    docs = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    u = (
        F.conv(F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":ws"))), 1, 8), 16, 10)
        .cast("double")
        + 1.0
    ) / F.lit(4294967296.0)
    keyed = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("w"),
        F.round(-F.log(u) / F.length("text"), 6).alias("key_"),
    )
    return keyed.orderBy(F.asc("key_"), F.asc("doc_id")).limit(50)


@register(
    "balanced_sample",
    oracle="""
WITH ranked AS (
    SELECT doc_id, source, lang,
           ROW_NUMBER() OVER (
               PARTITION BY source, lang
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ':strat'), doc_id
           ) AS rn
    FROM documents
),
min_n AS (
    SELECT MIN(cnt) AS m FROM (
        SELECT COUNT(*) AS cnt FROM documents GROUP BY source, lang
    )
)
SELECT doc_id, source, lang
FROM ranked CROSS JOIN min_n
WHERE rn <= m
""",
)
def balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing: downsample every (source, lang) stratum to
    the SMALLEST stratum's size, deterministically — rows win by keyed
    md5 hash order, so the selection is reproducible across engines,
    partitionings, and retries (rand()-based sampleBy is none of
    those). The complement of upweighting: when a corpus is dominated
    by one source, the balanced subset is what ablations and eval sets
    are drawn from. One window shuffle on the stratum key ranks the
    corpus; the per-stratum quota comes from the TINY counts table via
    broadcast cross join — no driver-side collect of anything but the
    plan."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    from pyspark.sql import Window

    order_key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":strat")))
    w = Window.partitionBy("source", "lang").orderBy(order_key, F.col("doc_id"))
    ranked = docs.withColumn("rn", F.row_number().over(w))
    min_n = (
        docs.groupBy("source", "lang")
        .count()
        .agg(F.min("count").alias("m"))
    )
    return (
        ranked.crossJoin(F.broadcast(min_n))
        .filter(F.col("rn") <= F.col("m"))
        .select("doc_id", "source", "lang")
    )


@register(
    "quantile_binning",
    oracle="""
WITH b AS (
    SELECT value,
           ntile(10) OVER (ORDER BY value NULLS FIRST, event_id) AS bin
    FROM events
)
SELECT CAST(bin AS BIGINT)        AS bin,
       CAST(COUNT(*) AS BIGINT)   AS n,
       ROUND(MIN(value), 6)       AS lo,
       ROUND(MAX(value), 6)       AS hi
FROM b GROUP BY bin
""",
)
def quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency binning (deciles) of ``value``: ntile over a
    totally-ordered sort (event_id tiebreak), then per-bin extents.

    Scale note: a global ntile forces a single-partition sort — fine
    for the exact/oracle-checked form; at 100 TB the same API is served
    by ``approx_percentile`` cut points + a broadcast range join (the
    approximate sibling of this query, like approx_quantiles).
    """
    ev = load(spark, sf_dir, "events")
    # NULLS FIRST explicitly on both engines: it is Spark's ASC default
    # but DuckDB defaults to NULLS LAST, which silently shifts every
    # bin boundary when NULL values exist (adversarial gate, round 8).
    w = Window.orderBy(F.col("value").asc_nulls_first(), "event_id")
    b = ev.select("value", F.ntile(10).over(w).alias("bin"))
    return b.groupBy(F.col("bin").cast("long").alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 6).alias("lo"),
        F.round(F.max("value"), 6).alias("hi"),
    )


@register(
    "event_cooccurrence",
    oracle="""
WITH peru AS (
    SELECT DISTINCT user_id, event_type FROM events
),
tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM events),
pertype AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM peru GROUP BY event_type
),
pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(COUNT(*) AS BIGINT) AS n_both
    FROM peru a JOIN peru b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY a.event_type, b.event_type
)
SELECT p.type_a, p.type_b, p.n_both,
       ROUND(CAST(p.n_both AS DOUBLE) * t.n_users /
             (CAST(pa.n AS DOUBLE) * pb.n), 6) AS lift
FROM pairs p
JOIN pertype pa ON pa.event_type = p.type_a
JOIN pertype pb ON pb.event_type = p.type_b
CROSS JOIN tot t
""",
)
def event_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence with lift over (user, event-type)
    presence sets: lift = P(a,b) / (P(a)·P(b)).

    Plan: the distinct presence frame shuffles once on user_id; the
    self-join reuses that key (items per basket is tiny — 5 types — so
    the per-user pair fan-out is bounded at C(5,2)); the lift joins are
    over |types| and |types|²-sized frames, broadcast by AQE. The
    classic a-priori first pass, skew-safe because baskets are bounded.
    """
    ev = load(spark, sf_dir, "events")
    peru = ev.select("user_id", "event_type").distinct()
    tot = ev.agg(F.countDistinct("user_id").alias("n_users"))
    pertype = peru.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = peru.select("user_id", F.col("event_type").alias("type_a"))
    b = peru.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    pa = pertype.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    pb = pertype.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(pa), "type_a")
        .join(F.broadcast(pb), "type_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(
                F.col("n_both").cast("double") * F.col("n_users")
                / (F.col("n_a").cast("double") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


@register(
    "percentile_binning",
    oracle="""
WITH cuts AS (
    SELECT quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS cs
    FROM events
)
SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MIN(value), 6) AS lo, ROUND(MAX(value), 6) AS hi
FROM (
    SELECT value, CAST(1 + len(list_filter(cs, c -> value > c)) AS BIGINT) AS bin
    FROM events, cuts
)
GROUP BY bin
""",
)
def percentile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile binning WITHOUT a global sort: exact percentile cut points
    (one agg) broadcast back over the scan; bin = 1 + #cuts below the
    value (ties stick to the lower bin, unlike ntile's row-split).

    This is the 100 TB form of ``quantile_binning``: the single-partition
    ntile sort becomes a 9-element array comparison inside codegen —
    two scans, zero wide shuffle. Spark's ``percentile`` and DuckDB's
    ``quantile_cont`` share the linear-interpolation definition, so even
    the cut points agree.
    """
    ev = load(spark, sf_dir, "events")
    qs = ",".join(str(q / 10.0) for q in range(1, 10))
    cuts = ev.agg(F.expr(f"percentile(value, array({qs}))").alias("cs"))
    binned = ev.crossJoin(F.broadcast(cuts)).select(
        "value",
        (
            F.lit(1)
            + F.size(F.filter(F.col("cs"), lambda c: F.col("value") > c))
        ).cast("long").alias("bin"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 6).alias("lo"),
        F.round(F.max("value"), 6).alias("hi"),
    )


@register(
    "mad_outliers",
    oracle="""
WITH med AS (
    SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY event_type
),
dev AS (
    SELECT e.event_id, e.event_type, e.value, m.med, ABS(e.value - m.med) AS adev
    FROM events e JOIN med m ON e.event_type = m.event_type
),
mad AS (
    SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY event_type
)
SELECT d.event_id, d.event_type, ROUND(d.value, 6) AS value,
       ROUND((d.value - d.med) / (1.4826 * m.mad), 6) AS robust_z
FROM dev d JOIN mad m ON d.event_type = m.event_type
WHERE ROUND(ABS((d.value - d.med) / (1.4826 * m.mad)), 6) > 3.5
""",
)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outliers via median absolute deviation: |x - med| /
    (1.4826·MAD) > 3.5 — the outlier gate that, unlike z-scores, is not
    itself dragged by the outliers.

    Plan: two percentile aggs over (type)-keyed frames, each result
    broadcast back onto the scan; the fact table never shuffles. The
    membership filter compares the 6dp-rounded score on both engines,
    same convention as zscore_anomalies.
    """
    ev = load(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.expr("percentile(adev, 0.5)").alias("mad"))
    rz = (F.col("value") - F.col("med")) / (F.lit(1.4826) * F.col("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.round(F.abs(rz), 6) > 3.5)
        .select(
            "event_id",
            "event_type",
            F.round(F.col("value"), 6).alias("value"),
            F.round(rz, 6).alias("robust_z"),
        )
    )
CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _corr_oracle() -> str:
    pairs = [
        f"SELECT '{a}' AS col_a, '{b}' AS col_b, ROUND(corr({a}, {b}), 6) AS pearson FROM lineitem"
        for a, b in combinations(CORR_COLS, 2)
    ]
    return "\nUNION ALL\n".join(pairs)


@register("correlation_matrix", oracle=_corr_oracle())
def correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairwise Pearson correlations of the lineitem measures in a
    SINGLE aggregation pass: every F.corr lands in one partial+final
    hash aggregate, so the 100 TB table is scanned once for the whole
    matrix (vs once per pair). Long-form output via unpivot-style
    literal rows."""
    li = load(spark, sf_dir, "lineitem")
    pairs = list(combinations(CORR_COLS, 2))
    wide = li.agg(
        *[
            F.round(F.corr(a, b), 6).alias(f"{a}__{b}")
            for a, b in pairs
        ]
    )
    long = wide.unpivot([], [f"{a}__{b}" for a, b in pairs], "pair", "pearson")
    return long.select(
        F.split("pair", "__")[0].alias("col_a"),
        F.split("pair", "__")[1].alias("col_b"),
        "pearson",
    )
