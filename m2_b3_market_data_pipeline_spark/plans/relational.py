"""The relational surface beyond TPC-H: ranking and running windows,
distinct aggregation, rollup / cube / grouping sets, set operations,
semi/anti and full outer joins, scalar and correlated subqueries, pivot
and unpivot, exact percentiles, NULL semantics, regex and array
functions, non-equi band joins, keyed splits and sampling, and salted
skew handling — the parts of "arbitrary Athena SQL" (reference:
README.md:270-296) that stress the optimizer differently than the
TPC-H shapes (``tpch.py``).

Scale notes per query are in docstrings; the common themes:
- dimension tables are broadcast — at 100 TB the fact tables shuffle
  only for their own aggregations;
- the band dim of ``band_join_revenue`` is schema-bounded (a handful of
  rows), so the non-equi join is an explicit ``F.broadcast``
  nested-loop — each probe row scans ≤|bands| entries, no shuffle, no
  cartesian blow-up (the reference has no range joins, SURVEY.md §2.4);
- splits and samples are keyed on md5 of the row key, never ``rand()``,
  so both engines assign every row identically;
- rounded floating aggregates per the registry determinism contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import load, register
from .sql_fragments import EMB


@register(
    "top_customers",
    oracle="""
SELECT c.c_custkey AS custkey, c.c_name AS name,
       COUNT(*)                          AS n_orders,
       ROUND(SUM(o.o_totalprice), 6)     AS total_spend
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_name
ORDER BY total_spend DESC, custkey
LIMIT 20
""",
)
def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg + top-k: aggregate FIRST on the join key, then join the
    (small) aggregate to the dimension — at scale this shuffles orders
    once on o_custkey instead of joining row-level then aggregating."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 6).alias("total_spend")
    )
    return (
        spend.join(c, spend.o_custkey == c.c_custkey)
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            "n_orders",
            "total_spend",
        )
        .orderBy(F.desc("total_spend"), F.asc("custkey"))
        .limit(20)
    )


@register(
    "window_rank",
    oracle="""
SELECT * FROM (
    SELECT o_custkey AS custkey, o_orderkey AS orderkey, o_totalprice AS totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn,
           RANK()       OVER (PARTITION BY o_custkey
                              ORDER BY o_orderstatus) AS status_rank
    FROM orders
) WHERE rn <= 3
""",
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking windows: row_number + rank per group, filtered — Catalyst
    pushes the rn<=3 predicate into WindowGroupLimit (top-k per key
    without materializing full ranks)."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    w2 = Window.partitionBy("o_custkey").orderBy("o_orderstatus")
    return (
        o.select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_totalprice").alias("totalprice"),
            F.row_number().over(w).alias("rn"),
            F.rank().over(w2).alias("status_rank"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "lead_lag",
    oracle="""
SELECT event_id, user_id, ts, value,
       ROUND(value - LAG(value)  OVER w, 6) AS delta_prev,
       ROUND(LEAD(value) OVER w - value, 6) AS delta_next
FROM events
WHERE ts IS NOT NULL
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag offsets per key — one shuffle on user_id, both offsets
    share the same WindowExec sort. Event-time contract: a NULL ts has
    no position in the stream (and sorts NULLS FIRST in Spark vs LAST
    in DuckDB), so such rows are excluded."""
    e = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("delta_prev"),
        F.round(F.lead("value").over(w) - F.col("value"), 6).alias("delta_next"),
    )


@register(
    "distinct_agg",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*)                AS n_events,
       ROUND(SUM(value), 6)    AS total_value
FROM events
GROUP BY event_type
""",
)
def distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation alongside plain aggregates — Spark
    expands to a two-phase plan automatically."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


@register(
    "rollup_lineitem",
    oracle="""
SELECT l_returnflag, l_linestatus,
       COUNT(*)                        AS n,
       ROUND(SUM(l_extendedprice), 6)  AS total_price
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
-- empty-input contract: Spark's Expand+aggregate emits ZERO rows on an
-- empty relation (no grand-total row); the SQL standard emits one.
-- HAVING COUNT(*) > 0 is a no-op on any non-empty input (every
-- grouping-set row aggregates >= 1 source row) and drops exactly the
-- standard's empty-input grand total (empty-input gate, round 8).
HAVING COUNT(*) > 0
""",
)
def rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (subtotals + grand total), one pass. On an
    EMPTY relation the engine emits zero rows (no grand total) — the
    oracle mirrors with HAVING COUNT(*) > 0."""
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), F.round(F.sum("l_extendedprice"), 6).alias("total_price")
    )


@register(
    "set_ops",
    oracle="""
SELECT user_id FROM events WHERE event_type = 'purchase'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'error'
""",
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct set semantics)."""
    e = load(spark, sf_dir, "events")
    buyers = e.filter(F.col("event_type") == "purchase").select("user_id")
    erroring = e.filter(F.col("event_type") == "error").select("user_id")
    return buyers.intersect(erroring)


@register(
    "except_op",
    oracle="""
SELECT user_id FROM events WHERE event_type = 'view'
EXCEPT
SELECT user_id FROM events WHERE event_type = 'purchase'
""",
)
def except_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set difference)."""
    e = load(spark, sf_dir, "events")
    viewers = e.filter(F.col("event_type") == "view").select("user_id")
    buyers = e.filter(F.col("event_type") == "purchase").select("user_id")
    return viewers.subtract(buyers)


@register(
    "semi_anti_join",
    oracle="""
SELECT c_custkey, c_name,
       EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) AS has_orders
FROM customer c
""",
)
def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti join surface expressed as an existence flag (union of a
    semi and an anti join, so both operators are exercised)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").select("o_custkey")
    with_orders = c.join(o, c.c_custkey == o.o_custkey, "left_semi").withColumn(
        "has_orders", F.lit(True)
    )
    without = c.join(o, c.c_custkey == o.o_custkey, "left_anti").withColumn(
        "has_orders", F.lit(False)
    )
    return with_orders.unionByName(without).select("c_custkey", "c_name", "has_orders")


@register(
    "scalar_subquery",
    oracle="""
SELECT o_orderkey, o_totalprice,
       ROUND(o_totalprice - (SELECT AVG(o_totalprice) FROM orders), 6) AS vs_avg
FROM orders
WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
""",
)
def scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery (global average) used in both predicate and
    projection — Catalyst plans it as a reusable subquery result."""
    o = load(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__orders_ss")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice,
               ROUND(o_totalprice - (SELECT AVG(o_totalprice) FROM __orders_ss), 6) AS vs_avg
        FROM __orders_ss
        WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM __orders_ss)
        """
    )


@register(
    "correlated_subquery",
    oracle="""
SELECT c.c_custkey, c.c_acctbal
FROM customer c
WHERE c.c_acctbal > (
    SELECT AVG(c2.c_acctbal) FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey
)
""",
)
def correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (above own nation's average) —
    decorrelated by Catalyst into an aggregate + join."""
    c = load(spark, sf_dir, "customer")
    c.createOrReplaceTempView("__cust_cs")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_acctbal
        FROM __cust_cs c
        WHERE c.c_acctbal > (
            SELECT AVG(c2.c_acctbal) FROM __cust_cs c2 WHERE c2.c_nationkey = c.c_nationkey
        )
        """
    )


@register(
    "pivot_segments",
    oracle="""
SELECT n.n_name AS nation,
       COUNT(*) FILTER (c.c_mktsegment = 'AUTOMOBILE') AS automobile,
       COUNT(*) FILTER (c.c_mktsegment = 'BUILDING')   AS building,
       COUNT(*) FILTER (c.c_mktsegment = 'FURNITURE')  AS furniture,
       COUNT(*) FILTER (c.c_mktsegment = 'HOUSEHOLD')  AS household,
       COUNT(*) FILTER (c.c_mktsegment = 'MACHINERY')  AS machinery
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
)
def pivot_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: market-segment counts per nation via groupBy().pivot()
    with explicit values (at scale, explicit values skip the extra
    distinct-collect job)."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    out = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .pivot("c_mktsegment", segments)
        .count()
    )
    renames = {s: s.lower() for s in segments}
    return out.withColumnsRenamed(renames).na.fill(0)


@register(
    "exact_percentiles",
    oracle="""
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 6)  AS p50,
       ROUND(quantile_cont(value, 0.95), 6) AS p95,
       ROUND(min(value), 6)                 AS lo,
       ROUND(max(value), 6)                 AS hi
FROM events
GROUP BY event_type
""",
)
def exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile`` ==
    DuckDB ``quantile_cont``). The approximate sibling for 100 TB is
    approx_percentile/t-digest — kept in approx_quantiles (rows-only)."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.min("value"), 6).alias("lo"),
        F.round(F.max("value"), 6).alias("hi"),
    )


@register(
    "disjunctive_predicates",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
FROM lineitem
WHERE (l_returnflag = 'R' AND l_quantity >= 45)
   OR (l_returnflag = 'A' AND l_discount >= 0.09)
   OR (l_linestatus = 'O' AND l_quantity <= 2 AND l_discount = 0.0)
""",
)
def disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style OR-of-ANDs predicate — stresses predicate
    normalization and partial pushdown."""
    li = load(spark, sf_dir, "lineitem")
    cond = (
        ((F.col("l_returnflag") == "R") & (F.col("l_quantity") >= 45))
        | ((F.col("l_returnflag") == "A") & (F.col("l_discount") >= 0.09))
        | (
            (F.col("l_linestatus") == "O")
            & (F.col("l_quantity") <= 2)
            & (F.col("l_discount") == 0.0)
        )
    )
    return li.filter(cond).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag"
    )


@register(
    "full_outer_join",
    oracle="""
WITH buyers AS (
    SELECT user_id, COUNT(*) AS purchases FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
clickers AS (
    SELECT user_id, COUNT(*) AS clicks FROM events WHERE event_type = 'click' GROUP BY user_id
)
SELECT COALESCE(b.user_id, c.user_id) AS user_id, b.purchases, c.clicks
FROM buyers b FULL OUTER JOIN clickers c ON b.user_id = c.user_id
""",
)
def full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join with COALESCE'd key."""
    e = load(spark, sf_dir, "events")
    buyers = (
        e.filter(F.col("event_type") == "purchase").groupBy("user_id").agg(F.count("*").alias("purchases"))
    )
    clickers = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count("*").alias("clicks"))
        .withColumnRenamed("user_id", "c_user_id")
    )
    return buyers.join(clickers, buyers.user_id == clickers.c_user_id, "full_outer").select(
        F.coalesce("user_id", "c_user_id").alias("user_id"), "purchases", "clicks"
    )


@register(
    "null_scalars",
    oracle="""
SELECT event_id,
       COALESCE(NULLIF(event_type, 'error'), 'recovered')          AS type_or_recovered,
       CASE WHEN value IS NULL THEN -1.0 ELSE value END            AS value_nn,
       IFNULL(NULLIF(user_id, 0), -1)                              AS user_nn,
       (value IS NOT NULL AND event_type IS NOT NULL)              AS fully_present
FROM events
""",
)
def null_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling scalar surface: coalesce/nullif/ifnull/CASE/IS NOT
    NULL (X5 generalized)."""
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.coalesce(F.nullif("event_type", F.lit("error")), F.lit("recovered")).alias(
            "type_or_recovered"
        ),
        F.when(F.col("value").isNull(), F.lit(-1.0)).otherwise(F.col("value")).alias("value_nn"),
        F.ifnull(F.nullif("user_id", F.lit(0)), F.lit(-1)).alias("user_nn"),
        (F.col("value").isNotNull() & F.col("event_type").isNotNull()).alias("fully_present"),
    )


@register(
    "predicate_surface",
    oracle="""
SELECT p_partkey, p_name, p_brand, p_size
FROM part
WHERE p_size IN (1, 5, 9, 13)
  AND p_brand LIKE 'Brand%2%'
  AND regexp_matches(p_type, '(STANDARD|SMALL)')
  AND p_retailprice BETWEEN 900 AND 1900
""",
)
def predicate_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN / LIKE / regexp / BETWEEN predicate surface in one scan."""
    p = load(spark, sf_dir, "part")
    return p.filter(
        F.col("p_size").isin(1, 5, 9, 13)
        & F.col("p_brand").like("Brand%2%")
        & F.col("p_type").rlike("(STANDARD|SMALL)")
        & F.col("p_retailprice").between(900, 1900)
    ).select("p_partkey", "p_name", "p_brand", "p_size")


@register(
    "array_functions",
    oracle=f"""
SELECT vec_id,
       len(embedding)                                            AS dim,
       ROUND(list_max(CAST(embedding AS DOUBLE[])), 6)           AS vmax,
       ROUND(list_min(CAST(embedding AS DOUBLE[])), 6)           AS vmin,
       ROUND(list_sum(CAST(embedding AS DOUBLE[])[1:8]), 6)      AS head_sum,
       ROUND(CAST(embedding[1] AS DOUBLE), 6)                    AS first_component
FROM {EMB}
""",
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order function surface: size, min/max, slice +
    aggregate, element access."""
    e = load(spark, sf_dir, "embeddings")
    vec = F.transform("embedding", lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.array_max(vec), 6).alias("vmax"),
        F.round(F.array_min(vec), 6).alias("vmin"),
        F.round(
            F.aggregate(F.slice(vec, 1, 8), F.lit(0.0), lambda acc, x: acc + x), 6
        ).alias("head_sum"),
        F.round(F.element_at(vec, 1), 6).alias("first_component"),
    )


@register(
    "grouping_sets",
    oracle="""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
""",
)
def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup_lineitem's ROLLUP)."""
    li = load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__li_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM __li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        """
    )


@register(
    "window_running_total",
    oracle="""
SELECT o_custkey, o_orderkey, o_orderdate,
       ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                     ROWS UNBOUNDED PRECEDING), 6) AS running_spend,
       CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                           ROWS UNBOUNDED PRECEDING) AS BIGINT)   AS order_seq,
       ROUND(o_totalprice - FIRST_VALUE(o_totalprice) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 6) AS vs_first
FROM orders
""",
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative window frame: running sum/count + first_value."""
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.sum("o_totalprice").over(w), 6).alias("running_spend"),
        F.count("*").over(w).alias("order_seq"),
        F.round(
            F.col("o_totalprice") - F.first("o_totalprice").over(w), 6
        ).alias("vs_first"),
    )


@register(
    "cube_lineitem",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       COUNT(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
-- empty-input contract: see rollup_lineitem (Spark emits zero rows on
-- an empty relation; the HAVING is a no-op otherwise)
HAVING COUNT(*) > 0
""",
)
def cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all 2^2 grouping combinations
    in one pass — Spark expands to a single Expand + hash aggregate, so
    the fact table is scanned and shuffled once, not four times."""
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        F.count("*").alias("n"),
    )


@register(
    "window_distribution",
    oracle="""
SELECT c_custkey AS custkey, c_mktsegment AS segment,
       NTILE(4)       OVER w AS quartile,
       ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
       ROUND(CUME_DIST()    OVER w, 6) AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
""",
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile / percent_rank / cume_dist)
    per market segment — one shuffle on the partition key, single sort
    serves all three functions."""
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return c.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


_BANDS = [
    (0.0, 20_000.0),
    (20_000.0, 40_000.0),
    (40_000.0, 60_000.0),
    (60_000.0, 1.0e12),
]


@register(
    "band_join_revenue",
    oracle="""
WITH bands(band_lo, band_hi) AS (VALUES
    (0.0, 20000.0), (20000.0, 40000.0), (40000.0, 60000.0),
    (60000.0, 1e12))
SELECT band_lo,
       CAST(COUNT(*) AS BIGINT)                                  AS n,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 6)         AS revenue
FROM lineitem
JOIN bands
  ON l_extendedprice >= band_lo AND l_extendedprice < band_hi
GROUP BY band_lo
""",
)
def band_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi band/interval join: price rows matched to their band.

    The band dim is bounded by schema (4 rows here), so the right
    strategy at any scale is a broadcast nested-loop join — each fact
    row tests a handful of intervals locally, no shuffle. A shuffled
    theta join here would be a cross-product disaster at 100 TB; the
    explicit ``F.broadcast`` pins the safe plan.
    """
    li = load(spark, sf_dir, "lineitem")
    bands = spark.createDataFrame(_BANDS, "band_lo double, band_hi double")
    joined = li.join(
        F.broadcast(bands),
        (F.col("l_extendedprice") >= F.col("band_lo"))
        & (F.col("l_extendedprice") < F.col("band_hi")),
    )
    return joined.groupBy("band_lo").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
        ).alias("revenue"),
    )


@register(
    "regex_functions",
    oracle="""
SELECT doc_id,
       CASE WHEN text IS NOT NULL
            THEN COALESCE(regexp_extract(text, '([A-Za-z]+)', 1), '')
       END                                                         AS first_word,
       CAST(length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT)
                                                                   AS len_no_digits,
       regexp_matches(text, '[.!?]$')                              AS ends_sentence
FROM documents
""",
)
def regex_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar surface: extract / replace / match predicate.

    The reference's Athena layer implies the full Presto regex library
    (SURVEY.md §2.9); this pins Spark's ``regexp_extract`` /
    ``regexp_replace`` / ``rlike`` against DuckDB on patterns restricted
    to the Java-regex ∩ RE2 common subset (char classes + anchors —
    no lookaround, no engine-specific escapes). Pure projection: no
    shuffle, whole-stage codegen, pushdown-friendly.
    """
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_extract(F.col("text"), r"([A-Za-z]+)", 1).alias("first_word"),
        F.length(F.regexp_replace(F.col("text"), r"[0-9]", "")).cast("long").alias(
            "len_no_digits"
        ),
        F.col("text").rlike(r"[.!?]$").alias("ends_sentence"),
    )


@register(
    "train_test_split",
    oracle="""
WITH assigned AS (
    SELECT doc_id, lang,
           CAST(('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 100 AS bucket
    FROM documents
)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'valid'
            ELSE 'test' END                       AS split,
       lang,
       CAST(COUNT(*) AS BIGINT)                   AS n_docs
FROM assigned
GROUP BY 1, 2
""",
)
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test split (training-data staple).

    Assignment is a pure function of the row key — ``md5('split|'||id)``
    bucketed mod 100 — so the split is reproducible across runs, engines,
    and cluster sizes (unlike ``df.randomSplit``, whose outcome depends
    on partitioning). No shuffle for the assignment itself; one hash
    aggregation for the per-split counts. At 100 TB the same expression
    is a partition-local projection.
    """
    d = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("split|"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "sample_per_group",
    oracle="""
WITH ranked AS (
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5('sample|' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS rn
    FROM documents
)
SELECT doc_id, lang FROM ranked WHERE rn <= 10
""",
)
def sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform sample of k=10 docs per group.

    Orders each group by a keyed md5 — a reproducible stand-in for a
    random shuffle — and keeps the first k by row_number. The
    hash-order + unique-key tiebreak makes the sample stable across
    engines and partitionings (a seeded ``sampleBy`` is engine-specific
    and only approximates the per-group fraction). One shuffle on the
    group key; with heavy group skew the rank prune still caps output
    at k rows per group.
    """
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.lit("sample|"), F.col("doc_id").cast("string"))), "doc_id"
    )
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 10)
        .select("doc_id", "lang")
    )


@register(
    "salted_skew_agg",
    oracle="""
SELECT l_returnflag,
       ROUND(SUM(l_quantity), 6)            AS sum_qty,
       CAST(COUNT(l_quantity) AS BIGINT)    AS n,
       ROUND(AVG(l_extendedprice), 6)       AS avg_price
FROM lineitem
GROUP BY l_returnflag
""",
)
def salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation on a maximally skewed key.

    ``l_returnflag`` has 3 values over the whole table — a plain
    groupBy funnels everything through 3 reducer tasks, the classic
    hot-key stall at 100 TB. ``operators/skew.py::salted_agg`` spreads
    each key over 16 salts in phase 1 (partial sums/counts) and merges
    in phase 2, so the widest task is ~1/16th of the hot key. The
    result is algebraically identical to the unsalted GROUP BY, which
    is exactly what the oracle checks.
    """
    from ..operators.skew import salted_agg

    li = load(spark, sf_dir, "lineitem")
    out = salted_agg(
        li,
        key="l_returnflag",
        aggs={
            "sum_qty": ("sum", "l_quantity"),
            "n": ("count", "l_quantity"),
            "avg_price": ("avg", "l_extendedprice"),
        },
    )
    return out.select(
        "l_returnflag",
        F.round("sum_qty", 6).alias("sum_qty"),
        "n",
        F.round("avg_price", 6).alias("avg_price"),
    )


@register(
    "salted_skew_join",
    oracle="""
WITH dim AS (
    SELECT o_orderpriority, ROUND(AVG(o_totalprice), 6) AS prio_avg
    FROM orders GROUP BY o_orderpriority
)
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT)                      AS n,
       ROUND(MIN(o.o_totalprice - d.prio_avg), 6)    AS min_dev,
       ROUND(MAX(o.o_totalprice - d.prio_avg), 6)    AS max_dev
FROM orders o JOIN dim d ON o.o_orderpriority = d.o_orderpriority
GROUP BY o.o_orderpriority
""",
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof equi-join on a 5-value key (operators/skew.py::
    salted_join): the fact side is salted 16 ways and the per-priority
    dim is replicated across salts, so a hot key's rows spread over 16
    shuffle partitions instead of one straggler. For when the dim is too
    big to broadcast but fine to replicate; result is algebraically
    identical to the plain join, which is what the oracle checks
    (deviations from the per-priority mean, min/max = exact picks).
    """
    from ..operators.skew import salted_join

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice")
    dim = o.groupBy("o_orderpriority").agg(F.round(F.avg("o_totalprice"), 6).alias("prio_avg"))
    joined = salted_join(o, dim, key="o_orderpriority", n_salts=16)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min(F.col("o_totalprice") - F.col("prio_avg")), 6).alias("min_dev"),
        F.round(F.max(F.col("o_totalprice") - F.col("prio_avg")), 6).alias("max_dev"),
    )


@register(
    "unpivot_metrics",
    oracle="""
WITH g AS (
    SELECT l_returnflag,
           ROUND(SUM(l_quantity), 6) AS sum_qty,
           ROUND(SUM(l_extendedprice), 6) AS sum_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 6) AS sum_disc_price
    FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM g
UNION ALL
SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM g
UNION ALL
SELECT l_returnflag, 'sum_disc_price' AS metric, sum_disc_price AS value FROM g
""",
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long melt (DataFrame.unpivot, the relational dual of
    pivot_segments): grouped aggregate first (3 rows x 3 measures), then
    unpivot — the melt runs on the tiny aggregate, never on the fact
    table."""
    li = load(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 6).alias("sum_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6).alias(
            "sum_disc_price"
        ),
    )
    return g.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "sum_disc_price"], "metric", "value"
    )
