"""Event-stream analytics, batch side (SURVEY.md §7 M4).

These are the batch twins of the §2.9 streaming operators — identical
logical plans over the bounded events table. The streaming variants in
queries/streaming_queries.py replay the same data through readStream
and must produce these exact results (tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_programming_spark.functions.canonical import (
    davg,
    davg_sql,
    dsum,
    dsum_sql,
)
from big_data_programming_spark.operators.sessions import (
    sessionize,
    sessionize_sql,
    window_bounds,
    window_sql,
)
from big_data_programming_spark.registry import register
from big_data_programming_spark.sources.loaders import load


@register(
    "e1_hourly_event_stats",
    oracle=f"""
SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS hour,
       event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       {dsum_sql('value')} AS total_value
FROM events
GROUP BY 1, 2
""",
    tags=("ST2", "F2", "A1"),
)
def e1_hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour aggregation (batch twin of the streaming window
    agg). date_trunc keys the hash aggregate; low-cardinality output."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            dsum("value").alias("total_value"),
        )
    )


#: DuckDB twin of F.window("ts", "1 hour", "15 minutes") — each event
#: lands in exactly 4 overlapping windows, one per start offset j * 900 s
#: (operators/sessions.py window_sql). Shared with the streaming variant
#: (queries/streaming_queries.py st3).
E2_SLIDING_ORACLE = f"""
WITH offsets(j) AS (VALUES (0), (1), (2), (3)),
win AS (
  SELECT {window_sql("ts", 3600, "window_start", "window_end", offset="j * 900")},
         value
  FROM events CROSS JOIN offsets
)
SELECT window_start, window_end,
       COUNT(*) AS n_events,
       {dsum_sql('value')} AS total_value
FROM win
GROUP BY 1, 2
"""


@register(
    "e2_sliding_windows",
    oracle=E2_SLIDING_ORACLE,
    tags=("ST3",),
)
def e2_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/15m window counts via F.window — each event lands in
    exactly 4 overlapping windows (the oracle reconstructs them with the
    offset arithmetic Spark uses internally)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            *window_bounds("w", "window_start", "window_end"),
            "n_events",
            "total_value",
        )
    )


@register(
    "e3_sessionization",
    oracle=sessionize_sql(30),
    tags=("ST4", "W2", "W4"),
)
def e3_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute inactivity gap) — batch twin
    of session_window; see operators/sessions.py for the algorithm."""
    return sessionize(load(spark, sf_dir, "events"), gap_minutes=30)


@register(
    "e4_transition_counts",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
FROM seq
WHERE prev_type IS NOT NULL
GROUP BY 1, 2
""",
    tags=("W2", "A1"),
)
def e4_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-style event-type transition matrix from per-user lag."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


@register(
    "e5_daily_users",
    oracle="""
WITH firsts AS (
  SELECT user_id, MIN(CAST(DATE_TRUNC('day', ts) AS TIMESTAMP)) AS first_day
  FROM events GROUP BY user_id
), daily AS (
  SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day, user_id
  FROM events GROUP BY 1, 2
)
SELECT d.day,
       COUNT(*) AS active_users,
       COUNT(*) FILTER (f.first_day = d.day) AS new_users
FROM daily d JOIN firsts f USING (user_id)
GROUP BY d.day
""",
    tags=("A1", "A3", "J1"),
)
def e5_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU with new-vs-returning split (first-touch attribution)."""
    e = load(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).cast("timestamp_ntz")
    daily = e.select(day.alias("day"), "user_id").distinct()
    firsts = daily.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        daily.join(firsts, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.sum(F.when(F.col("first_day") == F.col("day"), 1).otherwise(0)).alias("new_users"),
        )
    )


@register(
    "e6_funnel",
    oracle="""
WITH v AS (
  SELECT user_id, MIN(ts) AS v_ts FROM events WHERE event_type = 'view' GROUP BY 1
), c AS (
  SELECT e.user_id, MIN(e.ts) AS c_ts
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.v_ts
    AND e.ts <= v.v_ts + INTERVAL 24 HOUR
  GROUP BY 1
), p AS (
  SELECT e.user_id, MIN(e.ts) AS p_ts
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
    AND e.ts <= c.c_ts + INTERVAL 24 HOUR
  GROUP BY 1
)
SELECT stage, n_users FROM (
  SELECT '1_view' AS stage, COUNT(*) AS n_users FROM v
  UNION ALL SELECT '2_click', COUNT(*) FROM c
  UNION ALL SELECT '3_purchase', COUNT(*) FROM p
)
""",
    tags=("E6", "J1", "A1", "W2"),
)
def e6_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase, each step
    within 24h of the previous (greedy earliest-qualifying-event
    semantics, so the result is deterministic). Each stage is one
    filtered aggregate joined to the previous stage's first-touch
    time — three key-partitioned shuffles total, no window over the
    whole event stream, no per-user collect."""
    e = load(spark, sf_dir, "events")
    day = F.expr("INTERVAL 24 HOURS")

    def first_after(prev: DataFrame, prev_ts: str, etype: str, alias: str) -> DataFrame:
        return (
            e.filter(F.col("event_type") == etype)
            .join(prev, "user_id")
            .filter((F.col("ts") > F.col(prev_ts)) & (F.col("ts") <= F.col(prev_ts) + day))
            .groupBy("user_id")
            .agg(F.min("ts").alias(alias))
        )

    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = first_after(v, "v_ts", "click", "c_ts")
    p = first_after(c, "c_ts", "purchase", "p_ts")
    counts = [
        v.agg(F.lit("1_view").alias("stage"), F.count(F.lit(1)).alias("n_users")),
        c.agg(F.lit("2_click").alias("stage"), F.count(F.lit(1)).alias("n_users")),
        p.agg(F.lit("3_purchase").alias("stage"), F.count(F.lit(1)).alias("n_users")),
    ]
    return counts[0].unionAll(counts[1]).unionAll(counts[2])


@register(
    "e7_retention_cohorts",
    oracle="""
WITH daily AS (
  SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day, user_id
  FROM events GROUP BY 1, 2
), firsts AS (
  SELECT user_id, MIN(day) AS cohort_day FROM daily GROUP BY 1
)
SELECT f.cohort_day,
       DATE_DIFF('day', CAST(f.cohort_day AS DATE), CAST(d.day AS DATE)) AS day_k,
       COUNT(*) AS n_users
FROM daily d JOIN firsts f USING (user_id)
WHERE DATE_DIFF('day', CAST(f.cohort_day AS DATE), CAST(d.day AS DATE)) BETWEEN 0 AND 7
GROUP BY 1, 2
""",
    tags=("E7", "A1", "A3", "J1"),
)
def e7_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity day,
    counted on each of the next 7 days they return. Two hash
    aggregates + one key join on user_id — the daily-distinct
    pre-aggregation shrinks the join input to (days × users), so the
    fact table is scanned once regardless of event volume."""
    e = load(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).cast("timestamp_ntz")
    daily = e.select(day.alias("day"), "user_id").distinct()
    firsts = daily.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    # DuckDB's DATE_DIFF yields BIGINT; widen Spark's int to match.
    k = F.date_diff(F.col("day"), F.col("cohort_day")).cast("long")
    return (
        daily.join(firsts, "user_id")
        .withColumn("day_k", k)
        .filter(F.col("day_k").between(0, 7))
        .groupBy("cohort_day", "day_k")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "e8_gap_fill",
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
         COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT h.hour, t.event_type, COALESCE(c.n_events, 0) AS n_events
FROM hours h
CROSS JOIN types t
LEFT JOIN counts c ON c.hour = h.hour AND c.event_type = t.event_type
""",
    tags=("E8", "F2", "F4", "J2"),
)
def e8_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification: an explicit hour×event_type grid
    (sequence + explode over the observed bounds, cross join with the
    tiny type dimension) left-joined to the real counts, zeros filled
    — silent gaps become visible zeros, which downstream anomaly
    detection and charting require. The grid is dimension-sized
    (hours × types, never event-sized), so the only full scan is the
    one hourly aggregate."""
    e = load(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz")
    bounds = e.agg(F.min(hour).alias("lo"), F.max(hour).alias("hi"))
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    types = e.select("event_type").distinct()
    counts = e.groupBy(hour.alias("hour"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        hours.crossJoin(types)
        .join(counts, ["hour", "event_type"], "left")
        .select("hour", "event_type", F.coalesce("n", F.lit(0)).alias("n_events"))
    )


@register(
    "e9_anomaly_zscore",
    oracle="""
WITH hourly AS (
  SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS hour,
         event_type,
         COUNT(*) AS n_events
  FROM events
  GROUP BY 1, 2
),
rolled AS (
  SELECT hour, event_type, n_events,
         COUNT(*) OVER w AS w_n,
         CAST(SUM(n_events) OVER w AS BIGINT) AS s,
         CAST(SUM(n_events * n_events) OVER w AS BIGINT) AS ss
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT hour, event_type, n_events,
       ROUND(CAST(s AS DOUBLE) / w_n, 6) AS mean_24h,
       ROUND((n_events - CAST(s AS DOUBLE) / w_n)
             / SQRT(GREATEST((ss - CAST(s AS DOUBLE) * s / w_n) / (w_n - 1), 1e-12)), 6)
         AS zscore,
       CASE WHEN ABS((n_events - CAST(s AS DOUBLE) / w_n)
             / SQRT(GREATEST((ss - CAST(s AS DOUBLE) * s / w_n) / (w_n - 1), 1e-12))) > 2.5
            THEN 1 ELSE 0 END AS is_anomaly
FROM rolled
WHERE w_n = 24
""",
    tags=("W4", "W5", "A5", "F2"),
)
def e9_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection on the hourly event-count
    series: each (type, hour)'s count is scored against the mean/stddev
    of the previous 24 observed hours; |z| > 2.5 flags an anomaly.

    Two-level shape built for scale: the raw stream first collapses to
    the tiny hourly grid (one map-side-combined aggregate — the only
    shuffle that sees raw events), then the window pass runs over
    ~720 rows per type. The rolling stddev is derived from integer
    window sums (Σn, Σn²) rather than `stddev` — the integer sums are
    exact and associative, so the derivation is bit-identical across
    engines AND across partition counts, where streaming Welford
    kernels are not. The 1e-12 variance floor absorbs the
    constant-series case without branching."""
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("hour"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-24, -1)
    )
    rolled = hourly.select(
        "hour",
        "event_type",
        "n_events",
        F.count(F.lit(1)).over(w).alias("w_n"),
        F.sum("n_events").over(w).alias("s"),
        F.sum(F.col("n_events") * F.col("n_events")).over(w).alias("ss"),
    ).filter(F.col("w_n") == 24)
    mean = F.col("s").cast("double") / F.col("w_n")
    var = (F.col("ss") - F.col("s").cast("double") * F.col("s") / F.col("w_n")) / (
        F.col("w_n") - 1
    )
    z = (F.col("n_events") - mean) / F.sqrt(F.greatest(var, F.lit(1e-12)))
    return rolled.select(
        "hour",
        "event_type",
        "n_events",
        F.round(mean, 6).alias("mean_24h"),
        F.round(z, 6).alias("zscore"),
        F.when(F.abs(z) > 2.5, 1).otherwise(0).alias("is_anomaly"),
    )


@register(
    "e10_rolling_7d_users",
    oracle="""
WITH du AS (
  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id FROM events
),
days AS (SELECT DISTINCT event_type, day FROM du)
SELECT d.event_type, d.day, COUNT(DISTINCT u.user_id) AS users_7d
FROM days d
JOIN du u ON u.event_type = d.event_type AND u.day BETWEEN d.day - 6 AND d.day
GROUP BY 1, 2
""",
    tags=("A3", "W5", "E7"),
)
def e10_rolling_7d_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users per event type (trailing WAU) —
    the windowed-DISTINCT aggregate Spark's window frames cannot
    express directly (no COUNT(DISTINCT) OVER). Formulated as
    dedupe → bounded explode → count-distinct: the fact table
    collapses to day-grain (event_type, day, user_id) rows FIRST, each
    such row then fans out to the ≤7 window-ends it can serve, and one
    hash aggregate counts distincts per (type, window-end). At 100 TB
    the explode factor is a constant 7 on *day-grain deduped* data
    (≪ raw events), every operator is an equi-shuffle, and no per-key
    id set is ever materialized — contrast the collect_set-over-frame
    formulation, whose per-row state is O(users/day × 7) and whose
    frame re-evaluates per row. Window ends are restricted to observed
    (type, day) combinations via a semi-join so an empty day emits no
    phantom row."""
    e = load(spark, sf_dir, "events")
    du = e.select(
        "event_type", F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    days = du.select("event_type", "day").distinct()
    spans = du.select(
        "event_type",
        "user_id",
        F.explode(F.sequence(F.col("day"), F.date_add("day", 6))).alias("day"),
    )
    return (
        spans.join(days, ["event_type", "day"], "left_semi")
        .groupBy("event_type", "day")
        .agg(F.count_distinct("user_id").alias("users_7d"))
    )


@register(
    "e16_conversion_attribution",
    oracle=f"""
WITH touched AS (
  SELECT event_type, ts,
         LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS touch_type,
         LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN ts END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS touch_ts
  FROM events
), conv AS (
  SELECT CASE WHEN touch_ts IS NOT NULL
                   AND touch_ts >= ts - INTERVAL 7 DAY
              THEN touch_type ELSE 'none' END AS attributed_channel,
         CASE WHEN touch_ts IS NOT NULL
                   AND touch_ts >= ts - INTERVAL 7 DAY
              THEN (epoch_us(ts) // 1000000 - epoch_us(touch_ts) // 1000000)
                   / 3600.0 END AS hours_to_convert
  FROM touched WHERE event_type = 'purchase'
), agg AS (
  SELECT attributed_channel,
         CAST(COUNT(*) AS BIGINT) AS n_conversions,
         {davg_sql('hours_to_convert')} AS avg_hours_to_convert
  FROM conv GROUP BY attributed_channel
)
SELECT attributed_channel, n_conversions, avg_hours_to_convert,
       CAST(n_conversions AS DOUBLE)
         / CAST(SUM(n_conversions) OVER () AS BIGINT) AS share
FROM agg
""",
    tags=("W3", "A1", "F2"),
)
def e16_conversion_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: each purchase is credited to
    the user's most recent NON-purchase event within a 7-day lookback
    (older or absent touches fall into the 'none' bucket), with
    conversion share and mean touch→purchase latency per channel — the
    marketing-analytics op the e4/e6/e12 path family doesn't cover.

    One user-keyed window (last_value IGNORE NULLS over a running
    frame) does the touch carry-forward in a single shuffle of the
    event stream; everything after runs on |purchases| rows, then
    |channels| rows. The share denominator is an integer window sum
    over ≤6 aggregated rows; latency means use the decimal canon
    (integer epoch-second diffs, one double division per row)."""
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    not_purchase = F.col("event_type") != "purchase"
    touched = e.select(
        "event_type",
        "ts",
        F.last(F.when(not_purchase, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(not_purchase, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("touch_ts"),
    ).filter(F.col("event_type") == "purchase")
    in_window = F.col("touch_ts").isNotNull() & (
        F.col("touch_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAY")
    )
    conv = touched.select(
        F.when(in_window, F.col("touch_type")).otherwise("none").alias(
            "attributed_channel"
        ),
        F.when(
            in_window,
            (
                F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000000")
                - F.expr("unix_micros(CAST(touch_ts AS TIMESTAMP)) div 1000000")
            )
            / 3600.0,
        ).alias("hours_to_convert"),
    )
    agg = conv.groupBy("attributed_channel").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        davg("hours_to_convert").alias("avg_hours_to_convert"),
    )
    share_w = Window.partitionBy()
    return agg.select(
        "attributed_channel",
        "n_conversions",
        "avg_hours_to_convert",
        (
            F.col("n_conversions").cast("double")
            / F.sum("n_conversions").over(share_w)
        ).alias("share"),
    )


@register(
    "e17_wow_kpi",
    oracle=f"""
WITH weekly AS (
  SELECT CAST(DATE_TRUNC('week', ts) AS DATE) AS week,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         {dsum_sql('value')}
           AS revenue
  FROM events GROUP BY 1
)
SELECT week, n_events, revenue,
       LAG(revenue) OVER (ORDER BY week) AS prev_revenue,
       (revenue - LAG(revenue) OVER (ORDER BY week))
         / LAG(revenue) OVER (ORDER BY week) AS wow_pct
FROM weekly
""",
    tags=("W2", "A1", "F2"),
)
def e17_wow_kpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week KPI report: weekly event volume and revenue with
    the previous week's revenue and percent change alongside — the
    period-over-period framing dashboards live on (w2 demos LAG
    mechanically; this is the KPI composition with ISO-week truncation,
    identical Monday-start in both engines).

    The LAG window runs over ≤#weeks aggregated rows, never event
    volume. Weekly revenues are decimal-canon doubles, so the
    subtraction and division in wow_pct are single deterministic IEEE
    ops on bit-identical inputs — no float drift enters the oracle
    hash."""
    e = load(spark, sf_dir, "events")
    weekly = e.groupBy(
        F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("revenue"),
    )
    w = Window.orderBy("week")
    prev = F.lag("revenue").over(w)
    return weekly.select(
        "week",
        "n_events",
        "revenue",
        prev.alias("prev_revenue"),
        ((F.col("revenue") - prev) / prev).alias("wow_pct"),
    )


@register(
    "e18_peak_concurrency",
    oracle=f"""
WITH sessions AS ({sessionize_sql(30)}), bounds0 AS (
  SELECT session_start AS ts, 1 AS delta,
         user_id * 1000000 + session_id AS sid
  FROM sessions
  UNION ALL
  SELECT session_end, -1, user_id * 1000000 + session_id FROM sessions
), bounds AS (
  SELECT * FROM bounds0
  UNION ALL
  -- midnight ticks: one zero-delta row per day in the observed span,
  -- so every day sees its carry-in concurrency (sessions straddling
  -- midnight) even when its first real boundary is an end
  SELECT CAST(d.day AS TIMESTAMP), 0, -1
  FROM (SELECT UNNEST(generate_series(
          (SELECT CAST(MIN(ts) AS DATE) FROM bounds0),
          (SELECT CAST(MAX(ts) AS DATE) FROM bounds0),
          INTERVAL 1 DAY)) AS day) d
), running AS (
  SELECT ts, delta,
         CAST(SUM(delta) OVER (
           ORDER BY ts, delta DESC, sid
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS concurrent
  FROM bounds
)
SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
       MAX(concurrent) AS peak_concurrent,
       CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sessions_started
FROM running GROUP BY 1
""",
    tags=("W4", "A1", "F2", "U1"),
)
def e18_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day by sweep line over e3's
    sessions: each session emits a +1 boundary at its start and a −1
    at its end; the running sum of boundaries IS the live-session
    count, and its daily max is the capacity number (connection pools,
    rate limits, streaming-state sizing) that avg/count KPIs can't
    give. Starts sort before ends at equal timestamps (delta DESC), so
    a session ending exactly when another starts counts as overlap —
    pinned identically in both engines via the (ts, delta, sid) total
    order. A zero-delta midnight tick per day carries the inherited
    live-session count into each day (review catch: without it, a day
    whose peak IS the midnight carry-in — e.g. 3 sessions straddling
    midnight that all end by 00:10 — under-reported, and a day with
    no boundaries vanished).

    Scale shape: boundaries are 2 rows per SESSION (not per event),
    and the sweep is day-partitioned — per-day running sums plus a
    carry-in prefix sum over the |days|-sized day-total table (the
    only unpartitioned window; w8 discipline). The biggest sort at
    100 TB is the busiest single day, not the corpus; plan-pinned in
    tests/test_plans.py (no unpartitioned WindowExec over the
    boundary-row table)."""
    from big_data_programming_spark.operators.sessions import peak_concurrency

    return peak_concurrency(sessionize(load(spark, sf_dir, "events")))


@register(
    "e19_cohort_ltv",
    oracle=f"""
WITH firsts AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
  FROM events GROUP BY user_id
), sizes AS (
  SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_users
  FROM firsts GROUP BY cohort_day
), rev AS (
  SELECT f.cohort_day,
         DATE_DIFF('day', f.cohort_day, CAST(e.ts AS DATE)) AS age_days,
         {dsum_sql('e.value')}
           AS day_revenue
  FROM events e JOIN firsts f USING (user_id)
  WHERE e.event_type = 'purchase'
  GROUP BY 1, 2
), cum AS (
  SELECT cohort_day, age_days, day_revenue,
         {dsum_sql('day_revenue', over=(
             'PARTITION BY cohort_day ORDER BY age_days'
             ' ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW'))} AS cum_revenue
  FROM rev
)
SELECT c.cohort_day, CAST(c.age_days AS BIGINT) AS age_days,
       s.cohort_users, c.cum_revenue,
       c.cum_revenue / s.cohort_users AS ltv_per_user
FROM cum c JOIN sizes s USING (cohort_day)
WHERE c.age_days <= 14
""",
    tags=("A1", "W4", "J1", "F2"),
)
def e19_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users grouped by first-seen day,
    purchase revenue accumulated by cohort age (days since first
    touch), normalized per cohort member — e7's retention twin on the
    REVENUE axis, the curve growth teams read payback periods off.
    Ages capped at 14 days for a bounded report.

    Scale shape: the only event-volume work is the firsts aggregate
    and one purchase-filtered join against it (both user-keyed); the
    cumulative window runs over (cohort × age) AGGREGATED rows — w8's
    post-agg-window discipline — through the decimal window-sum canon
    (partition count changes float summation order, decimal doesn't).
    ltv_per_user divides two bit-identical values, so it's hash-stable
    too."""
    e = load(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("cohort_day")
    )
    sizes = firsts.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    rev = (
        e.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .groupBy(
            "cohort_day",
            F.date_diff(F.col("ts").cast("date"), F.col("cohort_day")).alias(
                "age_days"
            ),
        )
        .agg(dsum("value").alias("day_revenue"))
    )
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("age_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = rev.select(
        "cohort_day",
        F.col("age_days").cast("long").alias("age_days"),
        dsum("day_revenue", over=w).alias(
            "cum_revenue"
        ),
    )
    return (
        cum.join(F.broadcast(sizes), "cohort_day")
        .filter(F.col("age_days") <= 14)
        .select(
            "cohort_day",
            "age_days",
            "cohort_users",
            "cum_revenue",
            (F.col("cum_revenue") / F.col("cohort_users")).alias(
                "ltv_per_user"
            ),
        )
    )
