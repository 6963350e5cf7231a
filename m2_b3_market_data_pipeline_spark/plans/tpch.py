"""TPC-H query shapes on the fixture tables.

The reference's interactive query capability is "arbitrary Presto SQL via
Athena over the cataloged refined table" (reference: README.md:270-296).
``spark.sql`` / DataFrame ops are the drop-in; the TPC-H shapes pin the
relational surface that implies: multi-way joins, correlated and scalar
subqueries, fraction-of-total HAVING, semi/anti joins and top-k.

Two forms of the partsupp shapes are registered:

- the ``q*`` forms adapted to the fixture schema. The fixtures have no
  ``partsupp`` table and no commit/receipt dates, so Q2/Q11/Q16/Q20/Q21
  are re-expressed over ``lineitem`` while preserving the *operator
  semantics* being tested: correlated min subquery (Q2), fraction-of-
  total HAVING (Q11), distinct-count over an excluded join (Q16), semi
  join against an aggregated threshold (Q20), and the exists /
  not-exists double correlation (Q21);
- the ``q*_partsupp`` forms, which restore the literal join graphs by
  DERIVING partsupp deterministically from ``part`` x ``supplier`` with
  the TPC-H assignment shape (4 suppliers per part, spread S/4 apart in
  suppkey space), using pure integer arithmetic that evaluates
  identically in Spark and DuckDB:

  - ``ps_suppkey   = (p_partkey + i * (S div 4)) % S``  for i in 0..3
  - ``ps_availqty  = (p_partkey*37 + ps_suppkey*11) % 9999 + 1``
  - ``ps_supplycost_cents = (p_partkey*31 + ps_suppkey*7) % 100000 + 100``

  Costs are carried in integer CENTS and divided by 100 only at the
  output edge: threshold comparisons (Q11's fraction-of-total HAVING)
  stay in exact integer arithmetic, so no float-boundary row can differ
  between engines.

Scale notes (100 TB posture):
- only relations whose size is BOUNDED by schema — nation (25 rows),
  region (5), and 1-row scalar aggregates — carry an explicit
  ``F.broadcast``; forcing a broadcast is an OOM at scale for anything
  that grows with the data. The scaling tables (orders/customer/
  supplier/part, and partsupp at 4x |part|) are left to Catalyst + AQE,
  which broadcasts them while they fit under the threshold and switches
  to a shuffled join when they don't;
- scalar thresholds attach with ``crossJoin(broadcast(agg))`` instead of
  a driver-side ``collect`` so plans stay distributed and lazy;
- every top-k is ORDER BY + LIMIT -> TakeOrderedAndProject (no full sort);
- rounded floating aggregates per the registry determinism contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import load, register


@register(
    "q1_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 6)                                    AS sum_qty,
       ROUND(SUM(l_extendedprice), 6)                               AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 6)            AS sum_disc_price,
       ROUND(AVG(l_quantity), 6)                                    AS avg_qty,
       ROUND(AVG(l_extendedprice), 6)                               AS avg_price,
       ROUND(AVG(l_discount), 6)                                    AS avg_disc,
       COUNT(*)                                                     AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan + filter + hash agg. The filter reaches the
    parquet scan (PushedFilters) and the agg is partial+final — minimal
    plan, one shuffle on the 6-value grouping key."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 6).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    oracle="""
SELECT l.l_orderkey AS orderkey,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue,
       o.o_orderdate AS orderdate
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND l.l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, orderkey
LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> broadcast join chain ->
    agg -> top-k. customer is broadcast (small after the segment filter);
    lineitem never shuffles for the joins, only for the final agg."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(l.l_orderkey.alias("orderkey"), o.o_orderdate.alias("orderdate"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("orderkey"))
        .limit(10)
        .select("orderkey", "revenue", "orderdate")
    )


@register(
    "q5_region_revenue",
    oracle="""
SELECT n.n_name AS nation,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue
FROM region r
JOIN nation n   ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE r.r_name IN ('AMERICA', 'ASIA')
GROUP BY n.n_name
""",
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-table star join. All dimensions broadcast; the
    fact table (lineitem) flows through without a join shuffle."""
    r = load(spark, sf_dir, "region").filter(F.col("r_name").isin("AMERICA", "ASIA"))
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6).alias("revenue"))
    )


@register(
    "q4_order_priority",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
  )
GROUP BY o_orderpriority
""",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS -> left-semi join + agg."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    semi = o.join(
        l, (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate), "left_semi"
    )
    return semi.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@register(
    "q6_forecast_revenue",
    oracle="""
SELECT ROUND(SUM(l_extendedprice * l_discount), 6) AS revenue,
       COUNT(*) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.02 AND 0.06
  AND l_quantity < 25
""",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan + conjunctive pushable predicates +
    ungrouped agg — the minimal-plan benchmark (no shuffle at all
    beyond the final single-row agg)."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.02, 0.06)
        & (F.col("l_quantity") < 25)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 6).alias("revenue"),
        F.count("*").alias("n"),
    )


@register(
    "q14_promo_share",
    oracle="""
SELECT ROUND(
         100.0 * SUM(CASE WHEN p.p_type LIKE 'STANDARD%' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)
         / SUM(l.l_extendedprice * (1 - l.l_discount)), 6) AS promo_share
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-09-01' AND l.l_shipdate < TIMESTAMP '1997-10-01'
""",
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: LIKE-predicated conditional aggregation over a
    broadcast dimension join."""
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type").like("STANDARD%"), rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                6,
            ).alias("promo_share")
        )
    )


@register(
    "q18_large_orders",
    oracle="""
SELECT o.o_orderkey AS orderkey, o.o_totalprice AS totalprice,
       ROUND(SUM(l.l_quantity), 6) AS total_qty
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderkey, o.o_totalprice
HAVING SUM(l.l_quantity) > 150
ORDER BY totalprice DESC, orderkey
LIMIT 20
""",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: agg + HAVING + top-k. Aggregates lineitem on its
    natural key before joining order attributes."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    qty = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("raw_qty"))
        .filter(F.col("raw_qty") > 150)
    )
    return (
        qty.join(o, qty.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_totalprice").alias("totalprice"),
            F.round(F.col("raw_qty"), 6).alias("total_qty"),
        )
        .orderBy(F.desc("totalprice"), F.asc("orderkey"))
        .limit(20)
    )


@register(
    "q10_returned_revenue",
    oracle="""
SELECT c.c_custkey AS custkey, c.c_name AS name, n.n_name AS nation,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue
FROM customer c
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON n.n_nationkey = c.c_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1998-01-01'
  AND o.o_orderdate <  TIMESTAMP '1999-01-01'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, custkey
LIMIT 20
""",
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns, per customer, top 20."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("n_name").alias("nation"),
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("custkey"))
        .limit(20)
    )


@register(
    "q13_order_distribution",
    oracle="""
SELECT c_count, COUNT(*) AS custdist
FROM (
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
    FROM customer c LEFT JOIN orders o
      ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
    GROUP BY c.c_custkey
) t
GROUP BY c_count
""",
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: double aggregation over a filtered LEFT join —
    customers with zero qualifying orders must appear (c_count = 0)."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "q22_idle_customers",
    oracle="""
WITH avg_bal AS (
    SELECT AVG(c_acctbal) AS a FROM customer WHERE c_acctbal > 0.0
)
SELECT c.c_nationkey AS nationkey, COUNT(*) AS numcust,
       ROUND(SUM(c.c_acctbal), 6) AS totacctbal
FROM customer c, avg_bal
WHERE c.c_acctbal > avg_bal.a
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2001-01-01')
GROUP BY c.c_nationkey
""",
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery threshold + anti join (rich
    customers with no RECENT orders - the recency filter keeps the
    result non-empty on the fixtures), grouped. The threshold attaches
    via crossJoin(broadcast(agg)) — lazy and collect-free, same pattern
    as q11/q15."""
    c = load(spark, sf_dir, "customer")
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("__avg_bal"))
    rich = (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg_bal"))
        .drop("__avg_bal")
    )
    idle = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return idle.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count("*").alias("numcust"), F.round(F.sum("c_acctbal"), 6).alias("totacctbal")
    )


def _revenue() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@register(
    "q2_min_cost_supplier",
    oracle="""
WITH unit AS (
    SELECT l_partkey, l_suppkey,
           MIN(l_extendedprice / l_quantity) AS unit_price
    FROM lineitem WHERE l_quantity > 0 GROUP BY l_partkey, l_suppkey
), best AS (
    SELECT l_partkey, MIN(unit_price) AS best_price FROM unit GROUP BY l_partkey
)
SELECT p.p_partkey AS partkey, p.p_brand AS brand, s.s_name AS supplier,
       n.n_name AS nation, ROUND(u.unit_price, 6) AS unit_price
FROM unit u
JOIN best b ON b.l_partkey = u.l_partkey AND u.unit_price = b.best_price
JOIN part p ON p.p_partkey = u.l_partkey
JOIN supplier s ON s.s_suppkey = u.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE p.p_size <= 10 AND r.r_name = 'EUROPE'
ORDER BY partkey, supplier
LIMIT 100
""",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each small part, the EUROPE supplier(s)
    offering the minimum observed unit price (correlated-min subquery,
    re-expressed over lineitem since the fixtures lack partsupp).

    The min is computed per (part, supplier) then compared to the
    per-part min via a window — no second shuffle of the fact table.
    """
    # a zero-quantity line has no unit price (and is an ANSI
    # divide-by-zero); the TPC-H contract says quantity >= 1, so the
    # guard is a no-op on conforming data
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    unit = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price")
    )
    w = Window.partitionBy("l_partkey")
    best = unit.withColumn("best_price", F.min("unit_price").over(w)).filter(
        F.col("unit_price") == F.col("best_price")
    )
    p = load(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    return (
        best.join(p, best.l_partkey == p.p_partkey)
        .join(s, best.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.col("p_partkey").alias("partkey"),
            F.col("p_brand").alias("brand"),
            F.col("s_name").alias("supplier"),
            F.col("n_name").alias("nation"),
            F.round("unit_price", 6).alias("unit_price"),
        )
        .orderBy("partkey", "supplier")
        .limit(100)
    )


@register(
    "q7_volume_shipping",
    oracle="""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue
FROM lineitem l
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
  AND l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate <  TIMESTAMP '1999-01-01'
GROUP BY sn.n_name, cn.n_name, l_year
""",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral shipping volume between two nations by year.

    Disjunctive cross-nation predicate over a 5-way join; the bounded
    nation maps are force-broadcast, the scaling sides are AQE's call."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation")
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
        )
        .agg(F.round(F.sum(_revenue()), 6).alias("revenue"))
    )


@register(
    "q8_market_share",
    oracle="""
SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
       ROUND(SUM(CASE WHEN sn.n_name = 'NATION_3'
                      THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)
             / SUM(l.l_extendedprice * (1 - l.l_discount)), 6) AS mkt_share
FROM lineitem l
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
JOIN region r   ON r.r_regionkey = cn.n_regionkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
JOIN part p     ON p.p_partkey = l.l_partkey
WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
GROUP BY o_year
""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's share of PROMO-part revenue sold into ASIA,
    by order year — conditional aggregation as a ratio."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cn = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        F.col("n_nationkey").alias("cn_key")
    )
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    rev = _revenue()
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                6,
            ).alias("mkt_share")
        )
    )


@register(
    "q9_product_profit",
    oracle="""
SELECT n.n_name AS nation,
       CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 6) AS profit
FROM lineitem l
JOIN part p     ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
WHERE p.p_name LIKE '%widget%'
GROUP BY nation, o_year
""",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on 'widget' parts by supplier nation and
    year (no partsupp in the fixtures, so profit omits supply cost —
    the join/LIKE/group shape is what's under test). At test scale every
    join side fits the broadcast threshold, so lineitem never shuffles
    for a join (pinned in test_plan_quality)."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%")).select("p_partkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.round(F.sum(_revenue()), 6).alias("profit"))
    )


@register(
    "q11_important_value",
    oracle="""
WITH vals AS (
    SELECT l.l_partkey, SUM(l.l_extendedprice * (1 - l.l_discount)) AS value
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = 'NATION_1'
    GROUP BY l.l_partkey
)
SELECT l_partkey AS partkey, ROUND(value, 6) AS value
FROM vals
WHERE value > (SELECT SUM(value) * 0.002 FROM vals)
ORDER BY value DESC, partkey
""",
)
def q11_important_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part value within one nation's suppliers,
    kept only when above a fraction of the nation total (scalar-subquery
    HAVING). The threshold attaches via crossJoin(broadcast(agg)) — no
    driver collect, plan stays lazy and distributed."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    vals = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy("l_partkey")
        .agg(F.sum(_revenue()).alias("value"))
    )
    threshold = vals.agg((F.sum("value") * 0.002).alias("threshold"))
    return (
        vals.crossJoin(F.broadcast(threshold))
        .filter(F.col("value") > F.col("threshold"))
        .select(F.col("l_partkey").alias("partkey"), F.round("value", 6).alias("value"))
        .orderBy(F.desc("value"), F.asc("partkey"))
    )


@register(
    "q12_priority_by_status",
    oracle="""
SELECT l.l_linestatus AS linestatus,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1999-01-01'
  AND l.l_shipdate <  TIMESTAMP '2000-01-01'
GROUP BY linestatus
""",
)
def q12_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: priority-class conditional counts per line
    status (the fixtures carry no l_shipmode; l_linestatus plays the
    grouping role, preserving the CASE-pivot aggregation)."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2000-01-01").cast("timestamp"))
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("l_linestatus").alias("linestatus"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q15_top_supplier",
    oracle="""
WITH revenue AS (
    SELECT l_suppkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1999-01-01' AND l_shipdate < TIMESTAMP '1999-04-01'
    GROUP BY l_suppkey
)
SELECT s.s_suppkey AS suppkey, s.s_name AS name, r.total_revenue
FROM revenue r JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY suppkey
""",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the max quarterly revenue — view +
    scalar-max subquery. The max attaches via crossJoin(broadcast(agg))
    — no unpartitioned window (which would funnel all rows to one
    partition) and no driver collect. Revenue is rounded to 4dp BEFORE
    the max-equality so distributed float-sum ordering can't flip the
    comparison against the oracle."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-04-01").cast("timestamp"))
    )
    revenue = li.groupBy("l_suppkey").agg(
        F.round(F.sum(_revenue()), 4).alias("total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_rev"))
    top = revenue.crossJoin(F.broadcast(max_rev)).filter(
        F.col("total_revenue") == F.col("max_rev")
    )
    s = load(spark, sf_dir, "supplier")
    return (
        top.join(s, top.l_suppkey == s.s_suppkey)
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("name"),
            "total_revenue",
        )
        .orderBy("suppkey")
    )


@register(
    "q16_supplier_count",
    oracle="""
SELECT p.p_brand AS brand, p.p_type AS type, p.p_size AS size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#2' AND p.p_size BETWEEN 1 AND 8
GROUP BY brand, type, size
ORDER BY supplier_cnt DESC, brand, type, size
LIMIT 50
""",
)
def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per part attribute
    combo with an exclusion predicate (supplier-part pairs come from
    lineitem; the fixtures have no partsupp)."""
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#2") & F.col("p_size").between(1, 8)
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("type"),
            F.col("p_size").alias("size"),
        )
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "brand", "type", "size")
        .limit(50)
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
WITH part_avg AS (
    SELECT l_partkey, 0.5 * AVG(l_quantity) AS half_avg_qty
    FROM lineitem GROUP BY l_partkey
)
SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 6) AS avg_yearly
FROM lineitem l
JOIN part p     ON p.p_partkey = l.l_partkey
JOIN part_avg a ON a.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#15' AND l.l_quantity < a.half_avg_qty
""",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue from small-quantity orders of one brand —
    correlated per-part AVG threshold, expressed as a partitioned window
    over a single lineitem scan instead of a self-join (one shuffle on
    l_partkey replaces scan+agg+join-back)."""
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey")
    p = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#15").select("p_partkey")
    return (
        li.withColumn("half_avg_qty", 0.5 * F.avg("l_quantity").over(w))
        .join(p, F.col("l_partkey") == p.p_partkey)
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 6).alias("avg_yearly"))
    )


@register(
    "q19_disjunctive_revenue",
    oracle="""
SELECT ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity >= 1 AND l.l_quantity <= 21)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 30
       AND l.l_quantity >= 10 AND l.l_quantity <= 30)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 50
       AND l.l_quantity >= 20 AND l.l_quantity <= 40)
""",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: revenue under three OR'd brand/size/quantity
    conjuncts spanning both join sides — Catalyst pushes the common
    residual into the broadcast-hash join condition."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15) & q.between(1, 21))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 30) & q.between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 50) & q.between(20, 40))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(cond)
        # 2dp (cents), not the house 6dp: the revenue sum reaches ~1e9,
        # where 6dp asks for 16 significant digits — beyond double's
        # ~15.9 — so aggregation-order noise flipped the last digit at
        # sf0.1. Money at cents precision is both stable and idiomatic.
        .agg(F.round(F.sum(_revenue()), 2).alias("revenue"))
    )


@register(
    "q20_excess_suppliers",
    oracle="""
WITH shipped AS (
    SELECT l.l_suppkey, SUM(l.l_quantity) AS qty
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_name LIKE 'red%'
      AND l.l_shipdate >= TIMESTAMP '1998-01-01'
      AND l.l_shipdate <  TIMESTAMP '1999-01-01'
    GROUP BY l.l_suppkey
)
SELECT s.s_suppkey AS suppkey, s.s_name AS name, n.n_name AS nation
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE s.s_suppkey IN (SELECT l_suppkey FROM shipped WHERE qty > 400)
ORDER BY suppkey
""",
)
def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped a large volume of 'red'
    parts in 1998 — semi join against an aggregated-threshold subquery
    (availqty reshaped to shipped quantity; fixtures lack partsupp)."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("red%")).select("p_partkey")
    shipped = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 400)
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    return (
        s.join(shipped, s.s_suppkey == shipped.l_suppkey, "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("name"),
            F.col("n_name").alias("nation"),
        )
        .orderBy("suppkey")
    )


@register(
    "q21_sole_returned_supplier",
    oracle="""
SELECT s.s_name AS name, COUNT(DISTINCT l1.l_orderkey) AS numwait
FROM lineitem l1
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
WHERE l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s.s_name
ORDER BY numwait DESC, name
LIMIT 25
""",
)
def q21_sole_returned_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY supplier with a
    returned line on a multi-supplier order (exists + not-exists double
    correlation; receipt/commit dates are absent so l_returnflag plays
    the 'late' role).

    Spark side folds both EXISTS into one per-order aggregation —
    n_supps > 1 and n_r_supps == 1 — one shuffle on l_orderkey instead
    of two correlated self-joins; the oracle keeps the EXISTS form,
    which doubles as an equivalence proof of the rewrite.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_returnflag")
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_r_supps"),
    )
    r_lines = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey").distinct()
    s = load(spark, sf_dir, "supplier")
    return (
        r_lines.join(
            per_order.filter((F.col("n_supps") > 1) & (F.col("n_r_supps") == 1)),
            "l_orderkey",
        )
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy(F.col("s_name").alias("name"))
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
        .orderBy(F.desc("numwait"), "name")
        .limit(25)
    )

# Shared oracle prelude: the derived partsupp as a CTE chain. The
# suppkey formula is factored into ps0 so availqty/cost reference it by
# name instead of repeating the expression.
PARTSUPP_CTE = """
WITH sc AS (SELECT COUNT(*) AS s_cnt FROM supplier),
ps0 AS (
    SELECT p_partkey AS ps_partkey,
           (p_partkey + gen.i * (sc.s_cnt // 4)) % sc.s_cnt AS ps_suppkey
    FROM part CROSS JOIN (VALUES (0), (1), (2), (3)) AS gen(i) CROSS JOIN sc
),
partsupp AS (
    SELECT ps_partkey, ps_suppkey,
           (ps_partkey * 37 + ps_suppkey * 11) % 9999 + 1 AS ps_availqty,
           (ps_partkey * 31 + ps_suppkey * 7) % 100000 + 100 AS ps_cost_cents
    FROM ps0
)
"""


def derived_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of PARTSUPP_CTE: part x {0..3} with the same
    integer formulas. The supplier count rides along as a broadcast
    1-row aggregate so the plan stays lazy and distributed."""
    p = load(spark, sf_dir, "part").select("p_partkey")
    s_cnt = load(spark, sf_dir, "supplier").agg(F.count("*").alias("s_cnt"))
    gen = spark.range(4).select(F.col("id").alias("i"))
    ps0 = (
        p.crossJoin(F.broadcast(gen))
        .crossJoin(F.broadcast(s_cnt))
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            (
                (F.col("p_partkey") + F.col("i") * F.expr("s_cnt div 4"))
                % F.col("s_cnt")
            ).alias("ps_suppkey"),
        )
    )
    return ps0.select(
        "ps_partkey",
        "ps_suppkey",
        ((F.col("ps_partkey") * 37 + F.col("ps_suppkey") * 11) % 9999 + 1).alias(
            "ps_availqty"
        ),
        ((F.col("ps_partkey") * 31 + F.col("ps_suppkey") * 7) % 100000 + 100).alias(
            "ps_cost_cents"
        ),
    )


@register(
    "q2_partsupp",
    oracle=PARTSUPP_CTE
    + """
, europe_supp AS (
    SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'EUROPE'
)
SELECT es.s_acctbal AS acctbal, es.s_name AS supplier, es.n_name AS nation,
       p.p_partkey AS partkey, p.p_brand AS brand,
       ROUND(ps.ps_cost_cents / 100.0, 6) AS supplycost
FROM partsupp ps
JOIN part p ON p.p_partkey = ps.ps_partkey
JOIN europe_supp es ON es.s_suppkey = ps.ps_suppkey
WHERE p.p_size <= 15 AND p.p_type = 'LARGE'
  AND ps.ps_cost_cents = (
      SELECT MIN(ps2.ps_cost_cents)
      FROM partsupp ps2
      JOIN europe_supp es2 ON es2.s_suppkey = ps2.ps_suppkey
      WHERE ps2.ps_partkey = ps.ps_partkey)
ORDER BY acctbal DESC, nation, supplier, partkey
LIMIT 100
""",
)
def q2_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal TPC-H Q2 over the derived partsupp: for each qualifying
    part, the EUROPE supplier(s) at the minimum supply cost.

    The correlated min is a window over ps_partkey computed AFTER
    restricting to EUROPE suppliers — one shuffle of the dimension-sized
    partsupp, never a re-join of the full relation."""
    ps = derived_partsupp(spark, sf_dir)
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    europe_supp = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 15) & (F.col("p_type") == "LARGE")
    )
    w = Window.partitionBy("ps_partkey")
    best = (
        ps.join(europe_supp, ps.ps_suppkey == europe_supp.s_suppkey)
        .withColumn("min_cents", F.min("ps_cost_cents").over(w))
        .filter(F.col("ps_cost_cents") == F.col("min_cents"))
    )
    return (
        best.join(p, best.ps_partkey == p.p_partkey)
        .select(
            F.col("s_acctbal").alias("acctbal"),
            F.col("s_name").alias("supplier"),
            F.col("n_name").alias("nation"),
            F.col("p_partkey").alias("partkey"),
            F.col("p_brand").alias("brand"),
            F.round(F.col("ps_cost_cents") / 100.0, 6).alias("supplycost"),
        )
        .orderBy(F.col("acctbal").desc(), "nation", "supplier", "partkey")
        .limit(100)
    )


@register(
    "q11_partsupp",
    oracle=PARTSUPP_CTE
    + """
, nation_stock AS (
    SELECT ps.ps_partkey, ps.ps_cost_cents * ps.ps_availqty AS line_cents
    FROM partsupp ps
    JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_3'
)
SELECT ps_partkey AS partkey,
       ROUND(CAST(SUM(line_cents) AS BIGINT) / 100.0, 6) AS stock_value
FROM nation_stock
GROUP BY ps_partkey
HAVING CAST(SUM(line_cents) AS BIGINT) * 1000 >
       (SELECT CAST(SUM(line_cents) AS BIGINT) FROM nation_stock)
ORDER BY stock_value DESC, partkey
""",
)
def q11_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal TPC-H Q11: parts whose stock value within one nation
    exceeds 0.1% of that nation's total stock value.

    The fraction-of-total HAVING stays in exact integer cents on both
    engines (value*1000 > total), so no float-boundary row can flip; the
    nation total attaches as a broadcast 1-row aggregate, not a
    collect."""
    ps = derived_partsupp(spark, sf_dir)
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    stock = (
        ps.join(s, ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "ps_partkey",
            (F.col("ps_cost_cents") * F.col("ps_availqty")).alias("line_cents"),
        )
    )
    per_part = stock.groupBy("ps_partkey").agg(
        F.sum("line_cents").alias("value_cents")
    )
    total = per_part.agg(F.sum("value_cents").alias("total_cents"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_cents") * 1000 > F.col("total_cents"))
        .select(
            F.col("ps_partkey").alias("partkey"),
            F.round(F.col("value_cents") / 100.0, 6).alias("stock_value"),
        )
        .orderBy(F.col("stock_value").desc(), "partkey")
    )


@register(
    "q16_partsupp",
    oracle=PARTSUPP_CTE
    + """
SELECT p.p_brand AS brand, p.p_type AS type, p.p_size AS size,
       COUNT(DISTINCT ps.ps_suppkey) AS supplier_cnt
FROM partsupp ps
JOIN part p ON p.p_partkey = ps.ps_partkey
WHERE p.p_brand <> 'Brand#45' AND p.p_type <> 'MEDIUM'
  AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 23)
  AND ps.ps_suppkey NOT IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY brand, type, size
ORDER BY supplier_cnt DESC, brand, type, size
""",
)
def q16_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal TPC-H Q16: supplier diversity per (brand, type, size)
    after excluding flagged suppliers (fixture stand-in for the
    'Customer Complaints' comment filter: negative account balance).

    The NOT IN is a left_anti join against the bounded excluded-supplier
    set; distinct-count shuffles once on the group keys."""
    ps = derived_partsupp(spark, sf_dir)
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "MEDIUM")
        & F.col("p_size").isin([1, 4, 7, 10, 13, 16, 19, 23])
    )
    excluded = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        ps.join(F.broadcast(excluded), ps.ps_suppkey == excluded.s_suppkey, "left_anti")
        .join(p, F.col("ps_partkey") == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("type"),
            F.col("p_size").alias("size"),
        )
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "brand", "type", "size")
    )


@register(
    "q20_partsupp",
    oracle=PARTSUPP_CTE
    + """
SELECT s.s_name AS supplier, n.n_name AS nation
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE n.n_name IN ('NATION_1', 'NATION_6')
  AND s.s_suppkey IN (
      SELECT ps.ps_suppkey
      FROM partsupp ps
      WHERE ps.ps_partkey IN (
              SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        AND ps.ps_availqty > (
              SELECT 0.5 * COALESCE(SUM(l.l_quantity), 0)
              FROM lineitem l
              WHERE l.l_partkey = ps.ps_partkey
                AND l.l_suppkey = ps.ps_suppkey
                AND l.l_shipdate >= TIMESTAMP '1997-01-01'
                AND l.l_shipdate <  TIMESTAMP '1998-01-01')
  )
ORDER BY supplier
""",
)
def q20_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal TPC-H Q20: suppliers in target nations holding excess
    stock (availqty > half of 1997 shipped quantity) of 'small%' parts.

    The correlated shipped-quantity subquery is a map-side-combinable
    aggregate over the date-filtered fact table, LEFT-joined back on the
    (partkey, suppkey) pair — missing pairs coalesce to 0 shipped, so
    never-shipped stock correctly counts as excess. The final supplier
    membership is a left_semi join (IN semantics, no duplicate blowup
    from multi-part suppliers)."""
    ps = derived_partsupp(spark, sf_dir)
    small_parts = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    shipped = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty_1997"))
    )
    excess = (
        ps.join(small_parts, ps.ps_partkey == small_parts.p_partkey, "left_semi")
        .join(
            shipped,
            (F.col("ps_partkey") == shipped.l_partkey)
            & (F.col("ps_suppkey") == shipped.l_suppkey),
            "left",
        )
        .filter(F.col("ps_availqty") > 0.5 * F.coalesce(F.col("qty_1997"), F.lit(0)))
        .select("ps_suppkey")
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(["NATION_1", "NATION_6"])
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(excess, s.s_suppkey == excess.ps_suppkey, "left_semi")
        .select(F.col("s_name").alias("supplier"), F.col("n_name").alias("nation"))
        .orderBy("supplier")
    )


@register(
    "q9_partsupp",
    oracle=PARTSUPP_CTE
    + """
SELECT n.n_name AS nation,
       CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)
                 - (ps.ps_cost_cents / 100.0) * l.l_quantity), 6) AS profit
FROM lineitem l
JOIN partsupp ps ON ps.ps_partkey = l.l_partkey AND ps.ps_suppkey = l.l_suppkey
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE p.p_name LIKE '%widget%'
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
""",
)
def q9_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal TPC-H Q9 over the derived partsupp: product profit —
    revenue NET OF SUPPLY COST — by supplier nation and order year.
    The lineitem-re-expressed sibling (``q9_product_profit``,
    sql_surface4.py) had to omit the cost term; this restores the real
    Q9 measure. The (partkey, suppkey) composite equi-join against the
    dimension-sized partsupp is AQE's call (broadcast while it fits,
    shuffle when it doesn't); only nation is force-broadcast."""
    li = load(spark, sf_dir, "lineitem")
    ps = derived_partsupp(spark, sf_dir)
    p = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey")
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - (F.col("ps_cost_cents") / 100.0) * F.col("l_quantity")
    )
    return (
        li.join(
            ps,
            (li.l_partkey == ps.ps_partkey) & (li.l_suppkey == ps.ps_suppkey),
        )
        .join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 6).alias("profit"))
        .orderBy(F.col("nation"), F.col("o_year").desc())
    )
