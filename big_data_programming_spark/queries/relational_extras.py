"""Relational extensions added in round 3 (SURVEY.md §2.12)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_programming_spark.functions.canonical import dsum, dsum_sql
from big_data_programming_spark.registry import register
from big_data_programming_spark.sources.loaders import load


@register(
    "a24_transpose",
    oracle=f"""
WITH m AS (
  SELECT l_returnflag AS f,
         {dsum_sql('l_quantity')} AS sum_qty,
         {dsum_sql('l_extendedprice')} AS sum_price,
         CAST(COUNT(*) AS DOUBLE) AS n_rows
  FROM lineitem GROUP BY 1
)
SELECT 'sum_qty' AS key,
       MAX(CASE WHEN f = 'A' THEN sum_qty END) AS "A",
       MAX(CASE WHEN f = 'N' THEN sum_qty END) AS "N",
       MAX(CASE WHEN f = 'R' THEN sum_qty END) AS "R"
FROM m
UNION ALL
SELECT 'sum_price',
       MAX(CASE WHEN f = 'A' THEN sum_price END),
       MAX(CASE WHEN f = 'N' THEN sum_price END),
       MAX(CASE WHEN f = 'R' THEN sum_price END)
FROM m
UNION ALL
SELECT 'n_rows',
       MAX(CASE WHEN f = 'A' THEN n_rows END),
       MAX(CASE WHEN f = 'N' THEN n_rows END),
       MAX(CASE WHEN f = 'R' THEN n_rows END)
FROM m
""",
    tags=("A11", "A1"),
)
def a24_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`df.transpose()` (Spark 4): flip a metrics-by-group aggregate so
    measures become rows and groups become columns — the
    report/crosstab shape pivot('…').agg can't produce (pivot moves a
    VALUE column into headers; transpose moves the whole row axis).
    Spark requires the non-header cells to share one least-common
    type, so every measure is emitted as double (decimal-canon sums).
    Scale note: transpose materializes the frame column-per-row, so it
    belongs strictly AFTER aggregation — here 3 rows × 3 groups; never
    transpose a fact table. The oracle is the static CASE crosstab,
    which also pins the dynamic header values (A/N/R) — a domain
    change would surface as a schema mismatch, exactly what you want
    from a report whose columns are data-derived."""
    m = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_price"),
            F.count(F.lit(1)).cast("double").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )
    return m.transpose()


@register(
    "a25_mode",
    oracle="""
WITH c AS (
  SELECT user_id, event_type, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
), m AS (
  SELECT user_id, event_type AS modal_event_type, cnt AS modal_count
  FROM c
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY user_id ORDER BY cnt DESC, event_type ASC) = 1
)
SELECT m.user_id, m.modal_event_type, m.modal_count, t.n_events
FROM m
JOIN (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY 1) t
  USING (user_id)
""",
    tags=("A8", "A1"),
)
def a25_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user modal event type via the native `mode()` aggregate with
    deterministic=true — ties resolve to the LOWEST value, which is
    what makes a mode hash-comparable at all (the default mode() picks
    an arbitrary tied value per partition layout). The oracle spells
    the same contract as a count + (cnt DESC, value ASC) row_number —
    also the portable fallback on engines without a deterministic
    mode. One hash aggregate over (user, type) pre-counts internally;
    modal_count rides along via max_by semantics. Bounded state per
    group (distinct event types), so the aggregate is map-side
    combinable and skew-safe at any scale."""
    ev = load(spark, sf_dir, "events")
    modal = ev.groupBy("user_id").agg(
        F.mode("event_type", True).alias("modal_event_type"),
        F.count(F.lit(1)).alias("n_events"),
    )
    # tied modes share the max per-type count, so modal_count == max(cnt)
    counts = (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("user_id")
        .agg(F.max("cnt").alias("modal_count"))
    )
    return modal.join(counts, "user_id").select(
        "user_id", "modal_event_type", "modal_count", "n_events"
    )


@register(
    "e11_interpolation",
    oracle="""
WITH bounds AS (
  SELECT CAST(MIN(DATE_TRUNC('hour', ts)) AS TIMESTAMP) AS lo,
         CAST(MAX(DATE_TRUNC('hour', ts)) AS TIMESTAMP) AS hi
  FROM events
), hours AS (
  SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
), types AS (SELECT DISTINCT event_type FROM events),
counts AS (
  SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS hour, event_type,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
), grid AS (
  SELECT h.hour, t.event_type, c.n AS n_obs,
         CAST(EPOCH(h.hour) AS BIGINT) // 3600 AS hr
  FROM hours h CROSS JOIN types t
  LEFT JOIN counts c ON c.hour = h.hour AND c.event_type = t.event_type
), nb AS (
  SELECT hour, event_type, n_obs, hr,
         LAST_VALUE(n_obs IGNORE NULLS) OVER wp AS pv,
         LAST_VALUE(CASE WHEN n_obs IS NOT NULL THEN hr END IGNORE NULLS) OVER wp AS ph,
         FIRST_VALUE(n_obs IGNORE NULLS) OVER wn AS nv,
         FIRST_VALUE(CASE WHEN n_obs IS NOT NULL THEN hr END IGNORE NULLS) OVER wn AS nh
  FROM grid
  WINDOW
    wp AS (PARTITION BY event_type ORDER BY hr
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
    wn AS (PARTITION BY event_type ORDER BY hr
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT hour, event_type, n_obs,
       CASE
         WHEN n_obs IS NOT NULL THEN CAST(n_obs AS DOUBLE)
         WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
           CAST(pv AS DOUBLE)
           + CAST((nv - pv) * (hr - ph) AS DOUBLE) / CAST(nh - ph AS DOUBLE)
       END AS n_filled,
       (n_obs IS NULL AND pv IS NOT NULL AND nv IS NOT NULL) AS is_interpolated
FROM nb
""",
    tags=("E8", "W3", "F2", "J2"),
)
def e11_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of time-series gaps — e8's densification
    upgraded from zero-fill to value estimation: each missing hour gets
    prev + (next−prev)·(gap position/gap length) from its nearest
    OBSERVED neighbors (the resample/interpolate of every time-series
    library, as pure window algebra). Two ignore-nulls window passes
    over one event_type exchange (forward: last observed value/hour;
    backward: first observed ahead); leading/trailing gaps have no
    bracket and stay NULL, flagged by is_interpolated=false. All
    arithmetic is integer counts and epoch-hours up to one final
    double division in identical order — hash-exact cross-engine.
    The grid is dimension-sized (hours × types); the only full scan
    is the hourly pre-aggregate, so event volume only touches one
    map-side-combined aggregate at any scale."""
    from pyspark.sql.window import Window

    e = load(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz")
    bounds = e.agg(F.min(hour).alias("lo"), F.max(hour).alias("hi"))
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    types = e.select("event_type").distinct()
    counts = e.groupBy(hour.alias("hour"), "event_type").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    grid = (
        hours.crossJoin(types)
        .join(counts, ["hour", "event_type"], "left")
        .withColumn(
            "hr", (F.unix_timestamp(F.col("hour").cast("timestamp")) / 3600).cast("long")
        )
    )
    wp = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    obs_hr = F.when(F.col("n_obs").isNotNull(), F.col("hr"))
    nb = grid.select(
        "hour",
        "event_type",
        "n_obs",
        "hr",
        F.last("n_obs", ignorenulls=True).over(wp).alias("pv"),
        F.last(obs_hr, ignorenulls=True).over(wp).alias("ph"),
        F.first("n_obs", ignorenulls=True).over(wn).alias("nv"),
        F.first(obs_hr, ignorenulls=True).over(wn).alias("nh"),
    )
    interp = F.col("pv").cast("double") + (
        (F.col("nv") - F.col("pv")) * (F.col("hr") - F.col("ph"))
    ).cast("double") / (F.col("nh") - F.col("ph")).cast("double")
    return nb.select(
        "hour",
        "event_type",
        "n_obs",
        F.when(F.col("n_obs").isNotNull(), F.col("n_obs").cast("double"))
        .when(F.col("pv").isNotNull() & F.col("nv").isNotNull(), interp)
        .alias("n_filled"),
        (
            F.col("n_obs").isNull()
            & F.col("pv").isNotNull()
            & F.col("nv").isNotNull()
        ).alias("is_interpolated"),
    )


@register(
    "e12_event_sequences",
    oracle="""
WITH s AS (
  SELECT user_id, event_type,
         LEAD(event_type, 1) OVER w AS t2,
         LEAD(event_type, 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type || '>' || t2 || '>' || t3 AS sequence,
       COUNT(*) AS n_occurrences,
       COUNT(DISTINCT user_id) AS n_users
FROM s
WHERE t3 IS NOT NULL
GROUP BY 1
""",
    tags=("W2", "A1", "A3"),
)
def e12_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral 3-gram mining: the most common ordered event-type
    sequences per user stream (view>view>purchase and friends) — the
    path-analysis primitive behind funnel discovery (e6 checks a
    KNOWN funnel; this finds candidates). One user_id exchange powers
    both LEAD offsets, then a hash aggregate on the sequence string;
    n-gram fan-out is 1:1 with events (each row starts at most one
    trigram), so the shuffle volume is the event count at any scale —
    no self-joins, unlike the naive three-way formulation."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    return (
        s.select(
            F.concat_ws(">", "event_type", "t2", "t3").alias("sequence"),
            "user_id",
        )
        .groupBy("sequence")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


@register(
    "w8_ratio_to_report",
    oracle=f"""
WITH base AS (
  SELECT o_orderpriority,
         COUNT(*) AS n_orders,
         {dsum_sql('o_totalprice')} AS total_price
  FROM orders
  GROUP BY 1
)
SELECT o_orderpriority, n_orders, total_price,
       ROUND(total_price
         / {dsum_sql('total_price', over='')},
         8) AS revenue_share,
       ROUND(CAST(n_orders AS DOUBLE) / SUM(n_orders) OVER (), 8) AS order_share
FROM base
""",
    tags=("W4", "A1"),
)
def w8_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each group's share of the global total via an
    empty-frame window over the AGGREGATED rows — the contribution
    column of every revenue report. The unpartitioned window is safe
    precisely because it runs post-aggregation (5 priority rows, not
    1.5M orders); the denominators are decimal-canon sums, and the
    emitted shares are ROUNDED to 8dp (r7 sf0.1 finding: the per-row
    double->DECIMAL(38,10) conversion differs between engines on rare
    edge values — Spark converts via the double's shortest decimal
    representation, DuckDB rounds the exact binary expansion — so at
    large row counts the decimal totals can differ in the 10th
    decimal and the unrounded share flips its last ulp; 8dp rounding
    absorbs it, the st29 keep_rate precedent). Running the same window pre-aggregation
    would single-partition the fact table — the documented
    anti-pattern (compute shares AFTER the rollup, always)."""
    o = load(spark, sf_dir, "orders")
    base = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total_price"),
    )
    w = Window.partitionBy()
    # Denominator through the decimal canon: a plain double window sum
    # is summation-order-dependent and drifted 1 ulp between partition
    # counts (observed 8 vs 200); exact decimal addition is invariant.
    total_all = dsum("total_price", over=w)
    return base.select(
        "o_orderpriority",
        "n_orders",
        "total_price",
        F.round(F.col("total_price") / total_all, 8).alias("revenue_share"),
        F.round(
            F.col("n_orders").cast("double") / F.sum("n_orders").over(w), 8
        ).alias("order_share"),
    )


@register(
    "e13_rfm_segmentation",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         CAST(DATE_TRUNC('day', MAX(ts)) AS TIMESTAMP) AS last_day,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS monetary_cents
  FROM events
  GROUP BY 1
), scored AS (
  SELECT user_id, frequency, monetary_cents,
         DATEDIFF('day', last_day, MAX(last_day) OVER ()) AS recency_days
  FROM per_user
)
SELECT user_id, recency_days, frequency, monetary_cents,
       NTILE(4) OVER (ORDER BY recency_days, user_id) AS r_quartile,
       NTILE(4) OVER (ORDER BY frequency DESC, user_id) AS f_quartile,
       NTILE(4) OVER (ORDER BY monetary_cents DESC, user_id) AS m_quartile
FROM scored
""",
    tags=("W1", "A1", "F2"),
)
def e13_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer-analytics rollup:
    per-user Recency (days since last activity, measured against the
    corpus max day), Frequency (event count), Monetary (integer-cents
    spend), each cut into quartiles by NTILE. Every NTILE ordering
    carries user_id as the tiebreak, so quartile boundaries are
    deterministic under any partitioning (the a8/O2 rule: ranked
    outputs need total orders). The three quartile windows are
    unpartitioned but run over the per-user AGGREGATE (bounded by
    user cardinality, not event volume) — same post-aggregation
    discipline as w8; the one full scan is the map-side-combined
    per-user rollup."""
    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.date_trunc("day", F.max("ts")).cast("timestamp_ntz").alias("last_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias("monetary_cents"),
    )
    scored = per_user.select(
        "user_id",
        "frequency",
        "monetary_cents",
        F.datediff(
            F.max("last_day").over(Window.partitionBy()), F.col("last_day")
        ).alias("recency_days"),
    )
    return scored.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_cents",
        F.ntile(4).over(Window.orderBy("recency_days", "user_id")).alias("r_quartile"),
        F.ntile(4).over(Window.orderBy(F.col("frequency").desc(), "user_id")).alias("f_quartile"),
        F.ntile(4).over(Window.orderBy(F.col("monetary_cents").desc(), "user_id")).alias("m_quartile"),
    )


@register(
    "e14_bounce_rate",
    oracle="""
WITH gaps AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), ids AS (
  SELECT *, SUM(is_new_session) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM gaps
), sess AS (
  SELECT user_id, session_id,
         CAST(DATE_TRUNC('day', MIN(ts)) AS TIMESTAMP) AS day,
         COUNT(*) AS n_events
  FROM ids GROUP BY 1, 2
)
SELECT day,
       COUNT(*) AS n_sessions,
       COUNT(*) FILTER (WHERE n_events = 1) AS n_bounces,
       CAST(COUNT(*) FILTER (WHERE n_events = 1) AS DOUBLE) / COUNT(*) AS bounce_rate
FROM sess
GROUP BY 1
""",
    tags=("ST4", "W2", "A1"),
)
def e14_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: the share of sessions (30-minute gap rule,
    e3's sessionization) containing exactly one event, bucketed by the
    session's start day — the engagement KPI sessionization exists to
    feed. Reuses the sessionize operator wholesale, then one
    day-grain aggregate with a conditional count (a23 discipline) and
    a single double division — partition-count invariant by
    construction."""
    from big_data_programming_spark.operators.sessions import sessionize

    sess = sessionize(load(spark, sf_dir, "events"), gap_minutes=30)
    daily = sess.select(
        F.date_trunc("day", F.col("session_start")).cast("timestamp_ntz").alias("day"),
        "n_events",
    )
    return daily.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count(F.when(F.col("n_events") == 1, True)).alias("n_bounces"),
        (
            F.count(F.when(F.col("n_events") == 1, True)).cast("double")
            / F.count(F.lit(1))
        ).alias("bounce_rate"),
    )
