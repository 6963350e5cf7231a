"""Market-data queries: technical indicators over the derived OHLCV
bars, tick-level pricing (as-of quote joins, OHLC resampling, TWAP,
realized volatility), calendar-time windows, gap filling, forecast
backtests and partial-aggregate maintenance. Each (except the recursive
EWMA) is oracle-checked with the identical window arithmetic in DuckDB.

- ``rolling_mean_time_range``: the time-based variant SURVEY.md §2.6 W1
  names for the reference's ROW-based ``mm_7d``
  (`/root/reference/etl/etl_job.py:126-130`): ``rangeBetween`` over a
  unix-ts column. It shuffles once on its partition key, the same cost
  profile as the row-frame form.
- ``twap_daily``: tick-level time-weighted average price — weights are
  exact integer microsecond holding times from a lead() window, so the
  only float op is the final weighted mean.
- ``seasonal_backtest``: seasonal-naive forecast (lag-5 close) scored
  with per-asset MAE/MAPE — the rolling-origin backtest shape, expressed
  as one window + one aggregate.
- ``partial_agg_merge``: per-batch algebraic partials (count/sum/min/max)
  merged into the exact global aggregate — the incremental
  materialized-view maintenance pattern: at 100 TB you re-aggregate
  yesterday's partials with today's batch instead of rescanning
  history. Oracle = the direct one-shot aggregate, proving the merge is
  lossless.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.indicators import (
    with_bollinger,
    with_drawdown,
    with_ewma,
    with_returns,
    with_rsi,
    with_vwap,
)
from ..operators.normalize import rename_columns
from ..operators.temporal import asof_join, resample_bars
from .ohlcv import OHLCV_SQL, derive_ohlcv, load_events
from .registry import load, register


def _bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rename_columns(derive_ohlcv(load_events(spark, sf_dir)))


@register(
    "indicator_returns",
    oracle=OHLCV_SQL
    + """
SELECT ativo, "date", close_price,
       ROUND((close_price - nullif(LAG(close_price) OVER w, 0)) / nullif(LAG(close_price) OVER w, 0), 6) AS ret
FROM ohlcv
WINDOW w AS (PARTITION BY ativo ORDER BY "date")
""",
)
def indicator_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period returns via lag (operators/indicators.py)."""
    return with_returns(_bars(spark, sf_dir)).select("ativo", "date", "close_price", "ret")


@register(
    "indicator_bollinger",
    oracle=OHLCV_SQL
    + """
SELECT ativo, "date", close_price,
       ROUND(CASE WHEN COUNT(close_price) OVER w >= 7 THEN AVG(close_price) OVER w END, 6) AS boll_mid,
       ROUND(CASE WHEN COUNT(close_price) OVER w >= 7
             THEN AVG(close_price) OVER w + 2.0 * STDDEV_SAMP(close_price) OVER w END, 6)  AS boll_up,
       ROUND(CASE WHEN COUNT(close_price) OVER w >= 7
             THEN AVG(close_price) OVER w - 2.0 * STDDEV_SAMP(close_price) OVER w END, 6)  AS boll_dn
FROM ohlcv
WINDOW w AS (PARTITION BY ativo ORDER BY "date" ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
""",
)
def indicator_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands: rolling mean ± 2σ, min_periods-guarded."""
    return with_bollinger(_bars(spark, sf_dir)).select(
        "ativo", "date", "close_price", "boll_mid", "boll_up", "boll_dn"
    )


@register(
    "indicator_vwap_drawdown",
    oracle=OHLCV_SQL
    + """
SELECT ativo, "date", close_price,
       ROUND(SUM(close_price * trade_volume) OVER cum / SUM(trade_volume) OVER cum, 6) AS vwap,
       ROUND(close_price / MAX(close_price) OVER cum - 1.0, 6)                         AS drawdown
FROM ohlcv
WINDOW cum AS (PARTITION BY ativo ORDER BY "date" ROWS UNBOUNDED PRECEDING)
""",
)
def indicator_vwap_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative VWAP + drawdown from running peak."""
    out = with_drawdown(with_vwap(_bars(spark, sf_dir)))
    return out.select("ativo", "date", "close_price", "vwap", "drawdown")


@register(
    "indicator_rsi",
    oracle=OHLCV_SQL
    + """
, gl AS (
    SELECT ativo, "date", close_price,
           greatest(close_price - LAG(close_price) OVER (PARTITION BY ativo ORDER BY "date"), 0.0)  AS g,
           greatest(LAG(close_price) OVER (PARTITION BY ativo ORDER BY "date") - close_price, 0.0)  AS l
    FROM ohlcv
)
SELECT ativo, "date", close_price,
       ROUND(CASE WHEN COUNT(g) OVER w < 7 THEN NULL
                  WHEN AVG(l) OVER w = 0.0 THEN 100.0
                  ELSE 100.0 - 100.0 / (1.0 + AVG(g) OVER w / AVG(l) OVER w) END, 6) AS rsi
FROM gl
WINDOW w AS (PARTITION BY ativo ORDER BY "date" ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
""",
)
def indicator_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSI (Cutler's simple-average form), min_periods-guarded."""
    return with_rsi(_bars(spark, sf_dir)).select("ativo", "date", "close_price", "rsi")


@register(
    "indicator_ewma",
    oracle=OHLCV_SQL
    + """
, arr AS (
    SELECT ativo,
           list(close_price ORDER BY "date") AS px,
           list("date" ORDER BY "date") AS ds
    FROM ohlcv GROUP BY ativo
),
idx AS (SELECT ativo, px, ds, unnest(generate_series(1, len(px))) AS t FROM arr)
SELECT ativo, ds[t] AS "date", px[t] AS close_price,
       ROUND(pow(0.7, t - 1) * px[1] +
             0.3 * coalesce(list_sum([px[s] * pow(0.7, t - s) for s in generate_series(2, t)]), 0.0),
             6) AS ewma
FROM idx
""",
)
def indicator_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive EWMA via Arrow-batched applyInPandas grouped map —
    per-asset sequential state (``y_t = a*x_t + (1-a)*y_{t-1}``, pandas
    ``ewm(adjust=False)``). Hash-checked: the recursion has the closed
    form ``y_t = (1-a)^(t-1) x_1 + a * sum_s (1-a)^(t-s) x_s``, which
    the oracle evaluates per (asset, t) over the collected price list —
    O(n^2) per asset is fine oracle-side (n = bars per asset), while the
    Spark path stays the O(n) streaming recursion."""
    return with_ewma(_bars(spark, sf_dir)).select("ativo", "date", "close_price", "ewma")


@register(
    "indicator_macd",
    oracle=OHLCV_SQL
    + """
, arr AS (
    SELECT ativo,
           list(close_price ORDER BY "date") AS px,
           list("date" ORDER BY "date") AS ds
    FROM ohlcv GROUP BY ativo
),
m AS (
    SELECT ativo, ds, px,
           [pow(1.0 - 2.0/13.0, t - 1) * px[1]
              + (2.0/13.0) * coalesce(list_sum([px[s] * pow(1.0 - 2.0/13.0, t - s) for s in generate_series(2, t)]), 0.0)
            - pow(1.0 - 2.0/27.0, t - 1) * px[1]
              - (2.0/27.0) * coalesce(list_sum([px[s] * pow(1.0 - 2.0/27.0, t - s) for s in generate_series(2, t)]), 0.0)
            for t in generate_series(1, len(px))] AS macd
    FROM arr
),
idx AS (SELECT ativo, ds, px, macd, unnest(generate_series(1, len(macd))) AS t FROM m)
SELECT ativo, ds[t] AS "date", px[t] AS close_price,
       ROUND(macd[t], 6) AS macd,
       ROUND(pow(0.8, t - 1) * macd[1]
             + 0.2 * coalesce(list_sum([macd[s] * pow(0.8, t - s) for s in generate_series(2, t)]), 0.0), 6) AS macd_signal,
       ROUND(macd[t] - (pow(0.8, t - 1) * macd[1]
             + 0.2 * coalesce(list_sum([macd[s] * pow(0.8, t - s) for s in generate_series(2, t)]), 0.0)), 6) AS macd_hist
FROM idx
""",
)
def indicator_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD 12/26/9 via one Arrow-batched grouped map (three chained
    EMA recursions in a single per-asset pass — operators/indicators.py
    ``with_macd``). Hash-checked: each adjust=False EMA has the closed
    form ``y_t = (1-a)^(t-1) x_1 + a * sum_s (1-a)^(t-s) x_s``; the
    oracle evaluates the fast/slow forms over the price list and the
    signal form over the resulting macd list — O(n^2) per asset
    oracle-side, while the Spark path stays the O(n) recursion."""
    from ..operators.indicators import with_macd

    return with_macd(_bars(spark, sf_dir)).select(
        "ativo", "date", "close_price", "macd", "macd_signal", "macd_hist"
    )


@register(
    "asof_join_quotes",
    oracle="""
WITH quotes AS (
    SELECT user_id, ts, value AS quote_value FROM events WHERE event_id % 2 = 0
),
trades AS (
    SELECT event_id, user_id, ts, value AS trade_value FROM events WHERE event_id % 2 = 1
)
SELECT t.event_id, t.user_id, t.ts, t.trade_value, q.quote_value
FROM trades t
ASOF LEFT JOIN quotes q
  ON t.user_id = q.user_id AND t.ts >= q.ts
""",
)
def asof_join_quotes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (market-data canonical op, beyond the reference):
    each trade gets the most recent quote at-or-before its timestamp.
    Implemented as union + last-value window — one shuffle, no range
    explosion (operators/temporal.py)."""
    e = load(spark, sf_dir, "events")
    quotes = e.filter(F.col("event_id") % 2 == 0).select(
        "user_id", "ts", F.col("value").alias("quote_value")
    )
    trades = e.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "ts", F.col("value").alias("trade_value")
    )
    return asof_join(
        trades, quotes, on=["user_id"], ts="ts", right_values=["quote_value"]
    ).select("event_id", "user_id", "ts", "trade_value", "quote_value")


@register(
    "resample_ohlc",
    oracle="""
SELECT user_id,
       date_trunc('hour', ts)                        AS bucket_start,
       arg_min(value, ts)                            AS open,
       max(value)                                    AS high,
       min(value)                                    AS low,
       arg_max(value, ts)                            AS close,
       count(*)                                      AS n
FROM events
WHERE ts IS NOT NULL
GROUP BY 1, 2
""",
)
def resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucket OHLC resampling (hypertable-rollup style): one hash
    aggregation; open/close picked via struct min/max on (ts, value) so
    duplicate timestamps stay deterministic (operators/temporal.py)."""
    e = load(spark, sf_dir, "events")
    return resample_bars(e, ts="ts", key="user_id", value="value", bucket="1 hour")

_WEEK_MICROS = 7 * 24 * 3600 * 1_000_000


@register(
    "rolling_mean_time_range",
    oracle="""
SELECT event_id, user_id, ts, value,
       CAST((SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) OVER w * 100)
            // COUNT(*) OVER w AS BIGINT) AS avg_7d_e4
FROM events
WINDOW w AS (
    PARTITION BY user_id ORDER BY ts
    RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW
)
""",
)
def rolling_mean_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based trailing mean: RANGE frame over microsecond event time.

    The calendar-time sibling of the reference's row-based ``mm_7d``
    (SURVEY.md §2.6 W1): the frame is [t - 7 days, t] regardless of how
    many rows fall inside it. ``rangeBetween`` needs a numeric ordering
    key, so we order by ``unix_micros(ts)`` — exact integer µs, no
    double truncation — and bound the frame in µs. One shuffle on
    user_id; the frame is evaluated streamingly within each sorted
    partition.

    The mean itself is computed in EXACT integer arithmetic (cents in,
    1e-4-dollar units out): tick values are 2dp, so their frame
    averages land exactly on round-half boundaries where Spark's
    incremental frame sum and DuckDB's recomputed sum tie-break
    differently — no ROUND precision fixes that. Integer division of
    integer cents is bit-deterministic on both engines (the same
    micro-unit idiom the embedding oracles use).
    """
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-_WEEK_MICROS, 0)
    )
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    # `div` = integral division truncating toward zero — and DuckDB's
    # `//` ALSO truncates when both operands are integers (it floors
    # only in float mode), so the engines agree for ANY sign of the
    # frame sum; tests/test_sql_surface5.py pins this with negative
    # sums so the fixture never has to guarantee non-negative values.
    return e.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        (F.sum(cents).over(w) * 100).alias("__sum_e4"),
        F.count("*").over(w).alias("__n"),
    ).select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.expr("__sum_e4 div __n").alias("avg_7d_e4"),
    )


@register(
    "gap_fill_locf",
    oracle="""
WITH daily AS (
    SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
           MAX(value) AS day_value
    FROM events GROUP BY 1, 2
),
bounds AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1),
spine AS (
    SELECT user_id,
           CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                       CAST(d1 AS TIMESTAMP),
                                       INTERVAL 1 DAY)) AS DATE) AS day
    FROM bounds
)
SELECT s.user_id, s.day,
       ROUND(LAST_VALUE(d.day_value IGNORE NULLS) OVER (
           PARTITION BY s.user_id ORDER BY s.day), 6) AS value_ff
FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
""",
)
def gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill + LOCF forward fill (hypertable-rollup staple).

    Builds a continuous daily spine per user with ``sequence`` +
    ``explode`` (distributed — each user's spine is generated on its own
    executor, no driver-side date loop), left-joins the observed daily
    value, and carries the last observation forward with
    ``last(ignorenulls=True)`` over an unbounded-preceding row frame.
    Two shuffles (daily agg, spine join on the same key); the LOCF
    window reuses the join's user_id partitioning. Day values use
    ``MAX`` so duplicate timestamps stay deterministic.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).agg(F.max("value").alias("day_value"))
    bounds = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = bounds.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("interval 1 day"))
        ).alias("day"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            # DATE comes back from DuckDB's pandas bridge as a midnight
            # timestamp; emit the same type so the driver's isoformat
            # hash agrees.
            "user_id",
            F.col("day").cast("timestamp").alias("day"),
            F.round(F.last("day_value", ignorenulls=True).over(w), 6).alias(
                "value_ff"
            ),
        )
    )

SEASON_LAG = 5


@register(
    "twap_daily",
    oracle="""
WITH e AS (
    SELECT 'TICK' || CAST(user_id % 8 AS VARCHAR) AS ativo,
           date_trunc('day', ts) AS day, ts, event_id, value
    FROM events
),
w AS (
    SELECT ativo, day, value,
           epoch_us(LEAD(ts) OVER win) - epoch_us(ts) AS dt_us
    FROM e
    WINDOW win AS (PARTITION BY ativo, day ORDER BY ts, event_id)
)
SELECT ativo, day,
       CAST(COUNT(*) AS BIGINT) AS n_ticks,
       ROUND(SUM(value * dt_us) / nullif(SUM(dt_us), 0), 6) AS twap
FROM w
GROUP BY ativo, day
""",
)
def twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price per (asset, day): each tick's price
    weighted by its holding time until the next tick (exact integer
    microseconds via unix_micros, so both engines weight identically;
    the day's last tick has no successor and drops out of both sums —
    single-tick days yield NULL twap). One window + one aggregate, both
    partitioned on (ativo, day) — the sort is reused, no extra
    exchange."""
    e = (
        load(spark, sf_dir, "events")
        .withColumn(
            "ativo", F.concat(F.lit("TICK"), (F.col("user_id") % 8).cast("string"))
        )
        .withColumn("day", F.date_trunc("day", F.col("ts")))
    )
    win = Window.partitionBy("ativo", "day").orderBy("ts", "event_id")
    w = e.withColumn(
        "dt_us", F.unix_micros(F.lead("ts").over(win)) - F.unix_micros(F.col("ts"))
    )
    return w.groupBy("ativo", "day").agg(
        F.count("*").alias("n_ticks"),
        F.round(
            F.sum(F.col("value") * F.col("dt_us"))
            / F.nullif(F.sum("dt_us"), F.lit(0).cast("bigint")),
            6,
        ).alias("twap"),
    )


@register(
    "seasonal_backtest",
    oracle=OHLCV_SQL
    + f"""
, f AS (
    SELECT ativo, close_price,
           LAG(close_price, {SEASON_LAG}) OVER (PARTITION BY ativo ORDER BY "date")
               AS forecast
    FROM ohlcv
)
SELECT ativo,
       CAST(COUNT(*) AS BIGINT) AS n_scored,
       ROUND(AVG(ABS(close_price - forecast)), 6) AS mae,
       ROUND(AVG(ABS(close_price - forecast) / nullif(ABS(close_price), 0)), 6) AS mape
FROM f WHERE forecast IS NOT NULL
GROUP BY ativo
""",
)
def seasonal_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of the seasonal-naive forecast (predict
    close = close {SEASON_LAG} bars ago): per-asset MAE/MAPE in one
    window + one aggregate. The evaluation harness every forecasting
    pipeline needs — entirely shuffle-shared with the indicator
    windows."""
    bars = rename_columns(derive_ohlcv(load_events(spark, sf_dir)))
    win = Window.partitionBy("ativo").orderBy("date")
    f = bars.withColumn("forecast", F.lag("close_price", SEASON_LAG).over(win)).filter(
        F.col("forecast").isNotNull()
    )
    ae = F.abs(F.col("close_price") - F.col("forecast"))
    close_nz = F.nullif(F.abs(F.col("close_price")), F.lit(0.0))
    return f.groupBy("ativo").agg(
        F.count("*").alias("n_scored"),
        F.round(F.avg(ae), 6).alias("mae"),
        F.round(F.avg(ae / close_nz), 6).alias("mape"),
    )


@register(
    "rolling_median",
    oracle=OHLCV_SQL
    + """
SELECT ativo, "date", close_price,
       CASE WHEN COUNT(close_price) OVER win >= 7
            THEN ROUND(median(close_price) OVER win, 6) END AS med_7d
FROM ohlcv
WINDOW win AS (PARTITION BY ativo ORDER BY "date"
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
""",
)
def rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier-robust trailing smoother: EXACT 7-bar rolling median with
    the same min-periods NULL guard as ``mm_7d`` — the median shrugs off
    a single bad tick that would drag a mean. percentile(0.5) runs as a
    window AGGREGATE over the sorted frame (O(frame) state per row,
    same single shuffle as every per-asset window); with the count
    guard every emitted frame holds exactly 7 values, so the median is
    the 4th order statistic on both engines — no interpolation
    tie-break to diverge on."""
    bars = rename_columns(derive_ohlcv(load_events(spark, sf_dir)))
    win = Window.partitionBy("ativo").orderBy("date").rowsBetween(-6, 0)
    med = F.expr("percentile(close_price, 0.5)").over(win)
    guard = F.count("close_price").over(win) >= 7
    return bars.select(
        "ativo",
        "date",
        "close_price",
        F.when(guard, F.round(med, 6)).alias("med_7d"),
    )


@register(
    "partial_agg_merge",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(SUM(l_quantity), 6) AS sum_qty,
       MIN(l_extendedprice) AS min_price,
       MAX(l_extendedprice) AS max_price,
       ROUND(SUM(l_quantity) / COUNT(*), 6) AS avg_qty
FROM lineitem
GROUP BY l_returnflag
""",
)
def partial_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-aggregation algebra: split the fact table into two
    'batches', compute algebraic partials (count/sum/min/max) per
    batch, then MERGE the partials — count+count, sum+sum, min(min),
    max(max), avg re-derived from merged sums. The oracle is the direct
    one-shot aggregate, proving the merge is exact: the pattern that
    lets a 100 TB materialized view absorb a daily batch without
    rescanning history."""
    li = load(spark, sf_dir, "lineitem")
    partials = (
        li.withColumn("batch", F.col("l_orderkey") % 2)
        .groupBy("batch", "l_returnflag")
        .agg(
            F.count("*").alias("p_cnt"),
            F.sum("l_quantity").alias("p_sum_qty"),
            F.min("l_extendedprice").alias("p_min"),
            F.max("l_extendedprice").alias("p_max"),
        )
    )
    return partials.groupBy("l_returnflag").agg(
        F.sum("p_cnt").alias("n_rows"),
        F.round(F.sum("p_sum_qty"), 6).alias("sum_qty"),
        F.min("p_min").alias("min_price"),
        F.max("p_max").alias("max_price"),
        F.round(F.sum("p_sum_qty") / F.sum("p_cnt"), 6).alias("avg_qty"),
    )


@register(
    "realized_volatility",
    oracle="""
WITH e AS (
    SELECT 'TICK' || CAST(user_id % 8 AS VARCHAR) AS ativo,
           date_trunc('day', ts) AS day, ts, event_id, value
    FROM events
),
r AS (
    SELECT ativo, day,
           (value - LAG(value) OVER win) / nullif(LAG(value) OVER win, 0) AS ret
    FROM e
    WINDOW win AS (PARTITION BY ativo, day ORDER BY ts, event_id)
)
SELECT ativo, day,
       CAST(COUNT(ret) AS BIGINT) AS n_returns,
       ROUND(sqrt(SUM(ret * ret)), 6) AS realized_vol
FROM r
GROUP BY ativo, day
""",
)
def realized_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily realized volatility from intraday ticks: sqrt of the sum of
    squared tick-over-tick returns per (asset, day) — the standard
    high-frequency volatility estimator. Same single-exchange shape as
    TWAP: the lag() window and the aggregate share the (ativo, day)
    partitioning. Days with a single tick have no returns and report
    NULL vol over a 0 count, matching SQL COUNT/SUM-over-empty
    semantics on both engines."""
    e = (
        load(spark, sf_dir, "events")
        .withColumn(
            "ativo", F.concat(F.lit("TICK"), (F.col("user_id") % 8).cast("string"))
        )
        .withColumn("day", F.date_trunc("day", F.col("ts")))
    )
    win = Window.partitionBy("ativo", "day").orderBy("ts", "event_id")
    # nullif on the divisor: zero prices exist in the tick stream, and
    # ANSI Spark raises on x/0 where DuckDB yields NULL — make the
    # drop-this-return semantics explicit and identical on both engines.
    prev = F.nullif(F.lag("value").over(win), F.lit(0.0))
    r = e.withColumn("ret", (F.col("value") - prev) / prev)
    return r.groupBy("ativo", "day").agg(
        F.count("ret").alias("n_returns"),
        F.round(F.sqrt(F.sum(F.col("ret") * F.col("ret"))), 6).alias("realized_vol"),
    )
