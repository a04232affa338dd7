"""Window-function surface (SURVEY.md §2.5 W1-W6).

Every window carries a TOTAL order (tiebreak on the unique key) so that
order-dependent functions (row_number, ntile, lag, first/last_value) are
deterministic — rank ties are where cross-engine hash mismatches breed
(SURVEY.md §7 hard-part 2).

Running/sliding SUMs over doubles go through the decimal canon: both
engines evaluate window aggregates with their own internal orders
(DuckDB uses segment trees), so only an associative-exact accumulator
gives bit-equal results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_programming_spark.functions.canonical import DEC, dbl_sql, dec_sql, dsum, dsum_sql
from big_data_programming_spark.operators.sessions import session_ids, session_ids_sql
from big_data_programming_spark.registry import register
from big_data_programming_spark.sources.loaders import load


@register(
    "w1_ranking",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice,
       ROW_NUMBER()   OVER w AS rn,
       RANK()         OVER w AS rnk,
       DENSE_RANK()   OVER w AS drnk,
       ROUND(PERCENT_RANK() OVER w, 6) AS prnk,
       NTILE(4)       OVER w AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
""",
    tags=("W1",),
)
def w1_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rank-function family over per-customer order history."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "w2_lag_lead",
    oracle="""
SELECT event_id, user_id,
       EPOCH_US(ts) - EPOCH_US(LAG(ts)  OVER w) AS gap_us,
       EPOCH_US(LEAD(ts) OVER w) - EPOCH_US(ts) AS next_gap_us,
       LAG(event_type, 1, 'none') OVER w AS prev_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
    tags=("W2",),
)
def w2_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset analytics: inter-event gaps per user, in exact integer
    microseconds (float seconds would reintroduce rounding drift)."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731 — NTZ→LTZ is identity in UTC
    return e.select(
        "event_id",
        "user_id",
        (us(F.col("ts")) - us(F.lag("ts").over(w))).alias("gap_us"),
        (us(F.lead("ts").over(w)) - us(F.col("ts"))).alias("next_gap_us"),
        F.lag("event_type", 1, "none").over(w).alias("prev_type"),
    )


@register(
    "w3_value_functions",
    oracle="""
SELECT o_custkey, o_orderkey,
       FIRST_VALUE(o_orderkey) OVER w AS first_order,
       LAST_VALUE(o_orderkey)  OVER w AS last_order,
       NTH_VALUE(o_orderkey, 2) OVER w AS second_order,
       ROUND(CUME_DIST() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 6) AS cd
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
    tags=("W3",),
)
def w3_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value with an explicit full frame — last_value
    over the default frame is a classic footgun (it's the current row)."""
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wcd = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
        F.round(F.cume_dist().over(wcd), 6).alias("cd"),
    )


#: w4's window: one customer's orders in date order, framed per column.
_W4_FRAME = (
    "PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey"
    " ROWS BETWEEN {} PRECEDING AND CURRENT ROW"
)


@register(
    "w4_running_sum",
    oracle=f"""
SELECT o_custkey, o_orderkey, o_orderdate,
       {dsum_sql('o_totalprice', over=_W4_FRAME.format('UNBOUNDED'))} AS running_spend,
       {dsum_sql('o_totalprice', over=_W4_FRAME.format(2))} AS last3_spend
FROM orders
""",
    tags=("W4",),
)
def w4_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative and moving-window (ROWS frame) aggregates."""
    o = load(spark, sf_dir, "orders")
    base = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mov = base.rowsBetween(-2, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        dsum("o_totalprice", over=run).alias("running_spend"),
        dsum("o_totalprice", over=mov).alias("last3_spend"),
    )


@register(
    "w5_range_frame",
    oracle=f"""
WITH daily AS (
  SELECT CAST(DATE_TRUNC('day', o_orderdate) AS TIMESTAMP) AS day,
         SUM({dec_sql('o_totalprice')}) AS day_sales
  FROM orders GROUP BY 1
)
SELECT day,
       {dbl_sql('day_sales')} AS day_sales,
       {dsum_sql('day_sales', over=(
           'ORDER BY CAST(EPOCH(day) AS BIGINT)'
           ' RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW'))} AS sales_7d
FROM daily
""",
    tags=("W5", "F2"),
)
def w5_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame: trailing-7-day sales. Pre-aggregating to
    days first keeps the window state tiny (one row per day, not per
    order) — the scale-correct shape for time-series rollups."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).cast("timestamp_ntz").alias("day")
    ).agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("day_sales"))
    w = Window.orderBy(F.unix_seconds(F.col("day").cast("timestamp"))).rangeBetween(
        -6 * 86400, 0
    )
    return daily.select(
        "day",
        F.col("day_sales").cast("double").alias("day_sales"),
        F.sum("day_sales").over(w).cast("double").alias("sales_7d"),
    )


@register(
    "w6_topk_per_group",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice
FROM orders
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) <= 3
""",
    tags=("W6", "W1"),
)
def w6_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — the rank-and-filter idiom. Spark
    pushes a per-partition top-k (WindowGroupLimit) below the shuffle,
    so each partition ships at most k rows per key."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@register(
    "w7_session_features",
    oracle=f"""
WITH sess AS ({session_ids_sql(30 * 60 * 1_000_000)})
SELECT event_id, user_id, session_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                               ORDER BY ts, event_id) AS BIGINT) AS event_idx,
       EPOCH_US(ts) - MIN(EPOCH_US(ts)) OVER
         (PARTITION BY user_id, session_id) AS us_since_start,
       CASE WHEN is_new_session = 1 THEN NULL ELSE gap_us END AS us_since_prev
FROM sess
""",
    tags=("W1", "W2", "W4", "ST4"),
)
def w7_session_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-EVENT session-relative features — the sequence-model
    feature-generation twin of e3's per-session rollup: session
    ordinal, µs since session start, µs since the previous event
    (NULL at session opens). The session assignment is the
    session_ids kernel of operators/sessions.py (30-min gap, total
    order via event_id tiebreak), then two more window passes over the SAME (user_id)
    partitioning — Catalyst reuses one exchange for all three, so the
    whole feature set costs a single shuffle at any scale. Time
    arithmetic stays in exact integer µs: no float seconds, so every
    engine agrees bit-for-bit."""
    sess = session_ids(
        load(spark, sf_dir, "events").select("event_id", "user_id", "ts"),
        30 * 60 * 1_000_000,
    )
    w_sess = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    w_sess_all = Window.partitionBy("user_id", "session_id")
    return sess.select(
        "event_id",
        "user_id",
        "session_id",
        F.row_number().over(w_sess).cast("bigint").alias("event_idx"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.min(F.unix_micros(F.col("ts").cast("timestamp"))).over(w_sess_all)
        ).alias("us_since_start"),
        F.when(F.col("is_new_session") == 1, F.lit(None).cast("bigint"))
        .otherwise(F.col("gap_us"))
        .alias("us_since_prev"),
    )
