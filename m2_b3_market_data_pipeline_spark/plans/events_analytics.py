"""Event-log analytics: sessionization, funnels, retention cohorts,
anomaly scoring, histograms and Markov transitions over the ``events``
fixture.

The reference's Athena surface (reference: README.md:274-296) leaves these
to hand-written SQL; here each is a first-class registered operator with a
DuckDB oracle. Scale notes per query in the docstrings — the common theme
is one shuffle on ``user_id`` that several consecutive window/agg passes
then reuse (Spark keeps the child partitioning, so sessionize ->
session_stats is ONE exchange total). ``markov_transitions`` needs no
self-join: the lead window pairs consecutive events in place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.temporal import session_stats, sessionize
from .registry import load, register


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "events")


_SESSION_SQL = """
WITH b AS (
    SELECT user_id, ts, event_id, value,
           CASE WHEN lag(ts) OVER w IS NULL THEN 1
                WHEN date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000 THEN 1
                ELSE 0 END AS boundary
    FROM events
    WHERE ts IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
    SELECT user_id, ts, value,
           SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_seq
    FROM b
)
"""


@register(
    "sessionize_stats",
    oracle=_SESSION_SQL
    + """
SELECT user_id,
       CAST(session_seq AS BIGINT) AS session_seq,
       MIN(ts)                     AS session_start,
       MAX(ts)                     AS session_end,
       CAST(COUNT(*) AS BIGINT)    AS n_events,
       ROUND(SUM(value), 6)        AS total_value
FROM s
GROUP BY user_id, session_seq
""",
)
def sessionize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) collapsed to one row
    per (user, session). operators/temporal.py::sessionize numbers
    sessions with lag + running sum inside ONE WindowExec sort; the
    follow-up hash agg reuses the user partitioning, so the whole query
    is a single exchange. At 100 TB this is the canonical sessionization
    plan — no self-join, no state blowup, AQE handles hot users.
    """
    ev = sessionize(_events(spark, sf_dir), gap_minutes=30)
    return session_stats(ev)


@register(
    "funnel_stages",
    oracle="""
WITH t1 AS (
    SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
),
t2 AS (
    SELECT e.user_id, MIN(e.ts) AS t2
    FROM events e JOIN t1 ON e.user_id = t1.user_id
    WHERE e.event_type = 'click' AND e.ts > t1.t1
    GROUP BY e.user_id
),
t3 AS (
    SELECT e.user_id, MIN(e.ts) AS t3
    FROM events e JOIN t2 ON e.user_id = t2.user_id
    WHERE e.event_type = 'purchase' AND e.ts > t2.t2
    GROUP BY e.user_id
)
SELECT CAST((SELECT COUNT(*) FROM t1) AS BIGINT) AS n_view,
       CAST((SELECT COUNT(*) FROM t2) AS BIGINT) AS n_click,
       CAST((SELECT COUNT(*) FROM t3) AS BIGINT) AS n_purchase
""",
)
def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase: a user counts
    for stage k only with an event strictly after their stage-(k-1) time.

    Plan: filter to each stage's type FIRST (predicate reaches the scan,
    so stage k shuffles only that type's rows), then min-agg and join on
    ``user_id``. All three aggs and both joins hash-partition on the same
    key, so AQE coalesces to consecutive co-partitioned stages rather
    than fresh full shuffles; per-stage frames shrink monotonically
    (funnel property), and the final counts are tiny scalar aggs.
    """
    ev = _events(spark, sf_dir)
    t1 = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t1"))
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        t1.agg(F.count("*").alias("n_view"))
        .crossJoin(F.broadcast(t2.agg(F.count("*").alias("n_click"))))
        .crossJoin(F.broadcast(t3.agg(F.count("*").alias("n_purchase"))))
    )


@register(
    "retention_cohorts",
    oracle="""
WITH first AS (
    SELECT user_id, date_trunc('day', MIN(ts)) AS cohort_day FROM events GROUP BY user_id
),
act AS (
    SELECT DISTINCT e.user_id, f.cohort_day,
           date_diff('day', f.cohort_day, date_trunc('day', e.ts)) AS day_offset
    FROM events e JOIN first f ON e.user_id = f.user_id
)
SELECT cohort_day, CAST(day_offset AS BIGINT) AS day_offset,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM act
GROUP BY cohort_day, day_offset
""",
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention triangle: users grouped by first-seen day
    (cohort), counted once per (cohort, day-offset) they were active.

    Plan: first-seen agg shuffles on ``user_id``; the events-side join
    reuses that key; the distinct + count shuffle on (cohort, offset) —
    a far smaller key space. The cohort frame is users-only (tiny next
    to events at scale) so AQE broadcast-joins it back. No window, no
    self-join over raw events.
    """
    ev = _events(spark, sf_dir)
    first = ev.groupBy("user_id").agg(F.date_trunc("day", F.min("ts")).alias("cohort_day"))
    act = (
        ev.join(first, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.date_trunc("day", F.col("ts")), F.col("cohort_day")).cast("long").alias("day_offset"),
        )
        .distinct()
    )
    return act.groupBy("cohort_day", "day_offset").agg(F.count("*").alias("n_users"))


@register(
    "zscore_anomalies",
    oracle="""
WITH stats AS (
    SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sigma
    FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, ROUND(e.value, 6) AS value,
       ROUND((e.value - s.mu) / s.sigma, 6) AS z
FROM events e JOIN stats s ON e.event_type = s.event_type
WHERE ROUND(ABS((e.value - s.mu) / s.sigma), 6) > 2.0
""",
)
def zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outliers (|z| > 2): two-pass anomaly scoring.

    Plan: one hash agg computes per-type moments (event_type cardinality
    is tiny, so the stats frame broadcasts), then a map-side join scores
    every event without shuffling the fact table. The membership filter
    compares the 6dp-ROUNDED |z| on both sides so distributed
    summation-order drift in the raw double cannot flip a row in or out.
    """
    ev = _events(spark, sf_dir)
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.round(F.abs(z), 6) > 2.0)
        .select(
            "event_id",
            "event_type",
            F.round(F.col("value"), 6).alias("value"),
            F.round(z, 6).alias("z"),
        )
    )


@register(
    "value_histogram",
    oracle="""
SELECT CAST(FLOOR(value / 5.0) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT)           AS n,
       ROUND(SUM(value), 6)               AS sum_value
FROM events
GROUP BY bucket
""",
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of ``value`` (width-5 buckets): the
    distribution-profiling primitive. Single hash aggregation; map-side
    partial combine collapses each partition to <=n_buckets rows before
    the one tiny shuffle, so this is scan-bound at any scale.
    """
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.floor(F.col("value") / 5.0).cast("long").alias("bucket"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
    )


@register(
    "trending_daily",
    oracle="""
WITH d AS (
    SELECT CAST(ts AS DATE) AS day, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
)
SELECT day, event_type, n, rn FROM (
    SELECT day, event_type, n,
           ROW_NUMBER() OVER (PARTITION BY day ORDER BY n DESC, event_type) AS rn
    FROM d
) WHERE rn <= 3
""",
)
def trending_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily trending items: count per (day, type), top-3 per day.
    Two tiny-key shuffles; the per-day rank is a WindowGroupLimit over
    <=|event types| rows per day. At scale the count agg does the
    heavy lifting map-side; the rank never sees raw events.
    """
    ev = _events(spark, sf_dir)
    counts = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), F.col("event_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("day").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("day", "event_type", "n", "rn")
    )


@register(
    "markov_transitions",
    oracle="""
WITH s AS (
    SELECT user_id, event_type,
           LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_event
    FROM events
    WHERE ts IS NOT NULL
),
c AS (
    SELECT event_type AS cur_event, next_event, COUNT(*) AS n_trans
    FROM s WHERE next_event IS NOT NULL
    GROUP BY 1, 2
)
SELECT cur_event, next_event, CAST(n_trans AS BIGINT) AS n_trans,
       ROUND(CAST(n_trans AS DOUBLE) /
             SUM(n_trans) OVER (PARTITION BY cur_event), 6) AS p
FROM c
""",
)
def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    lead() pairs consecutive events in place (no self-join), one count
    aggregate, and the row-normalization is a window over the TINY
    (|event types|^2) transition table — the heavy table is touched
    once. Event-time contract: NULL-ts rows have no stream position and
    are excluded (Spark orders NULLS FIRST, DuckDB LAST)."""
    s = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull()).withColumn(
        "next_event",
        F.lead("event_type").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ),
    )
    c = (
        s.filter(F.col("next_event").isNotNull())
        .groupBy(F.col("event_type").alias("cur_event"), "next_event")
        .agg(F.count("*").alias("n_trans"))
    )
    return c.select(
        "cur_event",
        "next_event",
        "n_trans",
        F.round(
            F.col("n_trans").cast("double")
            / F.sum("n_trans").over(Window.partitionBy("cur_event")),
            6,
        ).alias("p"),
    )
