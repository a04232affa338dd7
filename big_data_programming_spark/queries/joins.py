"""Join surface (SURVEY.md §2.3 J1-J9).

Physical-strategy posture per query (what survives a 100× scale-up):
dimension sides are broadcast (explicitly or via the threshold), the
only shuffles are fact-table equi-keys, and the non-equi joins (range,
as-of) are written so the equi component carries the shuffle and the
range predicate rides along — never a bare Cartesian.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_programming_spark.functions.canonical import DEC, dec_sql, dsum, dsum_sql
from big_data_programming_spark.registry import register
from big_data_programming_spark.sources.loaders import load
from big_data_programming_spark.streaming.harness import scratch_dir


@register(
    "j1_inner_join",
    oracle=f"""
SELECT o.o_orderstatus,
       COUNT(*) AS n_lines,
       {dsum_sql('l.l_extendedprice * (1.0 - l.l_discount)')} AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderstatus
""",
    tags=("J1", "A1"),
)
def j1_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact equi-join on the natural key; Spark shuffles both sides
    on l_orderkey/o_orderkey once and AQE picks SMJ or shuffled-hash."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey, "inner")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            .alias("revenue"),
        )
    )


@register(
    "j2_left_outer_join",
    oracle=f"""
SELECT c.c_custkey,
       COUNT(o.o_orderkey) AS n_orders,
       {dsum_sql('COALESCE(o.o_totalprice, 0.0)')} AS total_spend
FROM customer c
LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey
""",
    tags=("J2", "A1"),
)
def j2_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer: customers with zero orders survive with n_orders=0.
    COUNT(col) skips the null-padded rows in both engines."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dsum(F.coalesce(F.col("o_totalprice"), F.lit(0.0)))
            .alias("total_spend"),
        )
    )


@register(
    "j2b_full_outer_join",
    oracle="""
SELECT c.c_custkey, c.c_acctbal, o.o_orderkey, o.o_totalprice
FROM (SELECT * FROM customer WHERE c_acctbal < 0.0) c
FULL JOIN (SELECT * FROM orders WHERE o_totalprice > 400000.0) o
  ON c.c_custkey = o.o_custkey
""",
    tags=("J2",),
)
def j2b_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer with unmatched rows on BOTH sides (filters guarantee
    each side has keys the other lacks)."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") < 0.0)
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
    return c.join(o, c.c_custkey == o.o_custkey, "full").select(
        "c_custkey", "c_acctbal", "o_orderkey", "o_totalprice"
    )


@register(
    "j3_semi_join",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
)
""",
    tags=("J3",),
)
def j3_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence filter: left_semi never duplicates the left side, so it
    beats join+distinct at scale (half the shuffle, no dedup state)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "j4_anti_join",
    oracle="""
SELECT c_custkey, c_name, c_acctbal
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
    tags=("J4",),
)
def j4_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-existence: customers who never ordered."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@register(
    "j5_cross_join",
    oracle="""
SELECT r.r_name, n.n_name,
       CASE WHEN n.n_regionkey = r.r_regionkey THEN 1 ELSE 0 END AS is_home
FROM region r
CROSS JOIN nation n
""",
    tags=("J5",),
)
def j5_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product — only ever sane between tiny dims (5×25); both
    sides fit in a single broadcast."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return r.crossJoin(n).select(
        "r_name",
        "n_name",
        F.when(F.col("n_regionkey") == F.col("r_regionkey"), 1).otherwise(0).alias("is_home"),
    )


@register(
    "j6_range_join",
    oracle=f"""
WITH bands(band, lo, hi) AS (
  VALUES ('tiny', 0.0, 50.0), ('small', 50.0, 150.0),
         ('medium', 150.0, 400.0), ('large', 400.0, 1e18)
)
SELECT b.band, COUNT(*) AS n_events,
       {dsum_sql('e.value')} AS total_value
FROM events e
JOIN bands b ON e.value >= b.lo AND e.value < b.hi
GROUP BY b.band
""",
    tags=("J6", "J8"),
)
def j6_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join: event value into a price band. The band table is a
    broadcast literal, so the 'non-equi join' is physically a broadcast
    nested-loop over 4 rows — O(n) at any scale."""
    e = load(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [("tiny", 0.0, 50.0), ("small", 50.0, 150.0), ("medium", 150.0, 400.0), ("large", 400.0, 1e18)],
        "band string, lo double, hi double",
    )
    return (
        e.join(F.broadcast(bands), (e.value >= bands.lo) & (e.value < bands.hi))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )


@register(
    "j7_asof_join",
    oracle="""
SELECT e.event_id, e.user_id, e.ts,
       MAX(o.o_orderdate) AS last_order_date
FROM events e
LEFT JOIN orders o
  ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
GROUP BY e.event_id, e.user_id, e.ts
""",
    tags=("J7",),
)
def j7_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: latest order at-or-before each event, per user.

    Spark has no native DataFrame as-of join; the scalable formulation
    is equi-join on the user key (carries the shuffle) + range predicate
    + max() re-aggregation keyed by the left row's unique id. Emitting
    MAX(o_orderdate) rather than an arbitrary matched row keeps the
    result deterministic under orderdate ties (midnight timestamps
    collide). DuckDB's native ASOF JOIN validates the semantics in
    tests; the oracle here uses the same portable formulation.
    At extreme per-user fan-out one would pre-aggregate orders to
    (user, date) pairs first — noted, not needed at fixture skew."""
    e = load(spark, sf_dir, "events")
    o = load(spark, sf_dir, "orders")
    return (
        e.join(o, (o.o_custkey == e.user_id) & (o.o_orderdate <= e.ts), "left")
        .groupBy("event_id", "user_id", "ts")
        .agg(F.max("o_orderdate").alias("last_order_date"))
    )


@register(
    "j8_broadcast_join",
    oracle=f"""
SELECT p.p_brand,
       {dsum_sql('l.l_extendedprice * (1.0 - l.l_discount)')} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
""",
    tags=("J8", "J1", "A1"),
)
def j8_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast hint: part is a dim, lineitem never shuffles
    for the join — the only exchange is the final group-by on p_brand."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "j9_self_join",
    oracle="""
SELECT o1.o_custkey,
       COUNT(*) AS n_pairs_within_30d
FROM orders o1
JOIN orders o2
  ON o1.o_custkey = o2.o_custkey
 AND o1.o_orderkey < o2.o_orderkey
 AND ABS(DATE_DIFF('day', CAST(o1.o_orderdate AS DATE), CAST(o2.o_orderdate AS DATE))) <= 30
GROUP BY o1.o_custkey
""",
    tags=("J9",),
)
def j9_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join with aliased sides: pairs of orders by the same customer
    placed within 30 days. Equi key (custkey) bounds the blow-up to
    per-customer order count squared — safe because customer fan-out is
    small and AQE splits any skewed key."""
    o = load(spark, sf_dir, "orders")
    o1 = o.alias("o1")
    o2 = o.alias("o2")
    return (
        o1.join(
            o2,
            (F.col("o1.o_custkey") == F.col("o2.o_custkey"))
            & (F.col("o1.o_orderkey") < F.col("o2.o_orderkey"))
            & (
                F.abs(
                    F.datediff(
                        F.col("o1.o_orderdate").cast("date"),
                        F.col("o2.o_orderdate").cast("date"),
                    )
                )
                <= 30
            ),
        )
        .groupBy(F.col("o1.o_custkey").alias("o_custkey"))
        .agg(F.count(F.lit(1)).alias("n_pairs_within_30d"))
    )


@register(
    "j10_null_safe_join",
    oracle=f"""
WITH counts AS (
  SELECT NULLIF(l_linenumber % 4, 0) AS kn, COUNT(*) AS n_lines
  FROM lineitem GROUP BY 1
), qtys AS (
  SELECT NULLIF(l_linenumber % 4, 0) AS kn,
         CAST(SUM({dec_sql('l_quantity')}) AS BIGINT) AS total_qty
  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1
)
SELECT c.kn, c.n_lines, q.total_qty
FROM counts c JOIN qtys q ON c.kn IS NOT DISTINCT FROM q.kn
""",
    tags=("J10", "J1", "A1"),
)
def j10_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing — required when a derived
    bucketing key is legitimately absent and both sides must still
    line up. Planner-wise it stays a hash-partitionable equi-join
    (EqualNullSafe is a valid shuffle key), NOT a nested loop."""
    li = load(spark, sf_dir, "lineitem")
    kn = F.nullif(F.col("l_linenumber") % 4, F.lit(0)).alias("kn")
    counts = li.groupBy(kn).agg(F.count(F.lit(1)).alias("n_lines"))
    qtys = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy(kn)
        .agg(F.sum(F.col("l_quantity").cast(DEC)).cast("bigint").alias("total_qty"))
    )
    return counts.alias("c").join(
        qtys.alias("q"), F.col("c.kn").eqNullSafe(F.col("q.kn"))
    ).select("c.kn", "n_lines", "total_qty")


@register(
    "j6b_binned_range_join",
    oracle=f"""
WITH promos AS (
  SELECT i AS promo_id,
         TIMESTAMP '2024-01-01 00:30:00' + to_hours(7 * i) AS p_start,
         TIMESTAMP '2024-01-01 00:30:00' + to_hours(7 * i + 2) AS p_end
  FROM generate_series(0, 99) AS t(i)
)
SELECT p.promo_id,
       COUNT(*) AS n_events,
       {dsum_sql('e.value')} AS total_value
FROM events e
JOIN promos p ON e.ts >= p.p_start AND e.ts < p.p_end
GROUP BY 1
""",
    tags=("J6", "J1", "A1"),
)
def j6b_binned_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned range join — the scale path for interval/theta joins.

    A bare ``e.ts BETWEEN p.start AND p.end`` join has no equi
    component, so Spark plans a BroadcastNestedLoopJoin: O(|e|·|p|)
    comparisons, and a hard wall once the interval side outgrows the
    broadcast threshold (at 100 TB a promo/maintenance/campaign table
    easily reaches 1e6+ rows). The binned formulation makes the join
    an EQUI join on a coarse time bucket: each interval is exploded to
    the hour-bins it overlaps (bounded fan-out: a 2-hour window spans
    ≤3 bins), each event maps to exactly ONE bin, the join key is the
    bin, and the true range predicate rides along as a residual
    filter. Catalyst then plans a plain hash join — broadcast here
    (the exploded side is tiny), shuffle-hash at scale — and both
    sides partition-prune and scale linearly. Because an event lands
    in exactly one bin, no post-join dedup is needed.

    Promo windows are deterministic literals (100 two-hour windows
    every 7 h from 2024-01-01 00:30), offset from hour boundaries so
    the residual predicate and the multi-bin expansion are both
    actually exercised. The join itself is the reusable
    operators/interval_join.py:binned_interval_join, which a
    theta-equivalence test exercises on adversarial boundary cases.
    """
    from big_data_programming_spark.operators.interval_join import binned_interval_join

    e = load(spark, sf_dir, "events")
    promos = (
        spark.range(100)
        .select(
            F.col("id").alias("promo_id"),
            (
                F.lit("2024-01-01 00:30:00").cast("timestamp_ntz")
                + F.expr("make_interval(0, 0, 0, 0, CAST(id * 7 AS INT), 0, 0)")
            ).alias("p_start"),
        )
        .withColumn("p_end", F.col("p_start") + F.expr("INTERVAL 2 HOURS"))
    )
    return (
        binned_interval_join(e, promos, "ts", "p_start", "p_end", bin_unit="hour")
        .groupBy("promo_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )


@register(
    "j12_dynamic_partition_pruning",
    oracle=f"""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS total_value
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY 1
""",
    tags=("J8", "S6", "P2"),
)
def j12_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is laid out
    Hive-partitioned on o_orderpriority, and the *only* priority
    filter lives on the joined dimension — no static predicate touches
    the fact. At planning time Spark injects a dynamic pruning
    subquery into the fact scan (asserted in tests/test_plans.py), so
    only the 2 of 5 partition directories matching the broadcast dim
    are ever listed and read. This is THE mechanism that makes
    star-schema joins survive 100 TB facts: the dim filter prunes the
    fact at file-listing time, reading 40% (here) or 0.1% (a date-dim
    month filter in production) of the table without the query author
    repeating the predicate on the fact side."""
    out = scratch_dir("bdps_j12_")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    o.write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("1-URGENT", 1), ("2-HIGH", 2), ("3-MEDIUM", 3),
         ("4-NOT SPECIFIED", 4), ("5-LOW", 5)],
        "prio string, urgency int",
    ).filter(F.col("urgency") <= 2)
    return (
        fact.join(F.broadcast(dim), fact.o_orderpriority == dim.prio)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_value"),
        )
    )


@register(
    "j13_lateral_join",
    oracle="""
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) t
WHERE c.c_custkey <= 200
""",
    tags=("J1", "W6", "O2"),
)
def j13_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery — per-customer top-2 orders spelled
    as the SQL-standard lateral derived table. Catalyst DECORRELATES
    it: rather than re-running the subquery per outer row (the naive
    nested-loop reading of LATERAL), the plan rewrites to a single
    join + per-key window/limit — which is why the construct survives
    a 100 TB outer table. Covers the SQL surface w6 expresses with
    the DataFrame window API; both engines agree on the deterministic
    (price DESC, orderkey) tie-break."""
    from big_data_programming_spark.sources.loaders import register_views

    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c,
        LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
        WHERE c.c_custkey <= 200
        """
    )
