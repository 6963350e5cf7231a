"""CDC merge / SCD2 / snapshot-diff queries: incremental snapshot
maintenance and reconciliation over the fixtures (operators/merge.py),
each hash-checked against the identical log-structured-merge arithmetic
in DuckDB.

The update/tombstone batch is derived deterministically from ``orders``
(keys % 7 are updated, of those keys % 3 are deleted) so both engines see
the same CDC stream without any side files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import merge_upsert, scd2_intervals
from .registry import load, register


@register(
    "cdc_merge_upsert",
    oracle="""
WITH base AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           0 AS version, FALSE AS is_del
    FROM orders
),
upd AS (
    SELECT o_orderkey, 'U' AS o_orderstatus, ROUND(o_totalprice * 1.1, 6) AS o_totalprice,
           1 AS version, (o_orderkey % 3 = 0) AS is_del
    FROM orders WHERE o_orderkey % 7 = 0
),
u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
r AS (
    SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn
    FROM u
)
SELECT o_orderkey, o_orderstatus,
       ROUND(o_totalprice, 6)   AS o_totalprice,
       CAST(version AS BIGINT)  AS version
FROM r WHERE rn = 1 AND NOT is_del
""",
)
def cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins upsert+tombstone merge: base snapshot = orders at
    version 0; the CDC batch updates every 7th key (price bump, status
    'U') and deletes every 21st (7 & 3). One shuffle + WindowGroupLimit
    (operators/merge.py::merge_upsert)."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    base = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 6).alias("o_totalprice"),
        F.lit(0).cast("long").alias("version"),
        F.lit(False).alias("is_del"),
    )
    upd = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        F.round(F.col("o_totalprice") * 1.1, 6).alias("o_totalprice"),
        F.lit(1).cast("long").alias("version"),
        (F.col("o_orderkey") % 3 == 0).alias("is_del"),
    )
    out = merge_upsert(base, upd, keys=["o_orderkey"], version_col="version", tombstone_col="is_del")
    return out.select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 6).alias("o_totalprice"), "version"
    )


@register(
    "scd2_user_values",
    oracle="""
SELECT user_id,
       ts                       AS valid_from,
       lead(ts) OVER w          AS valid_to,
       ROUND(value, 6)          AS value
FROM events
WHERE event_type = 'signup'
WINDOW w AS (PARTITION BY user_id ORDER BY ts)
""",
)
def scd2_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 compaction of the signup change-log: one validity interval
    per change, NULL valid_to = current (operators/merge.py::
    scd2_intervals; single lead window on the user key)."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "signup")
    changes = ev.select("user_id", "ts", F.round("value", 6).alias("value"))
    return scd2_intervals(changes, key="user_id", ts_col="ts", attrs=["value"])


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
