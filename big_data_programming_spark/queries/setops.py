"""Set operations, distinct & dedup (SURVEY.md §2.6 O1-O4, §2.7 U1-U5).

Distinct/intersect/except all shuffle on the full row; the queries here
project down to the minimal column set first — at 100 TB, distinct over
pruned keys is orders of magnitude cheaper than distinct over wide rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_programming_spark.registry import register
from big_data_programming_spark.sources.loaders import load


def _custkeys_in_year(spark: SparkSession, sf_dir: str, year: int) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderdate") >= F.lit(f"{year}-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit(f"{year + 1}-01-01").cast("timestamp_ntz"))
    ).select("o_custkey")


_YEAR_SQL = (
    "SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '{y}-01-01 00:00:00'"
    " AND o_orderdate < TIMESTAMP '{y1}-01-01 00:00:00'"
)


@register(
    "o1_multi_key_sort",
    oracle="""
SELECT o_orderstatus, o_orderpriority, o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > 450000.0
ORDER BY o_orderstatus ASC, o_totalprice DESC NULLS LAST, o_orderkey
""",
    tags=("O1",),
)
def o1_multi_key_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global multi-key sort with explicit null placement (Spark default
    is nulls-first asc, DuckDB nulls-last — always say it explicitly).
    Physically a range-partitioned sort: sampled boundaries, no single-
    node bottleneck."""
    o = load(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_totalprice") > 450000.0)
        .select("o_orderstatus", "o_orderpriority", "o_orderkey", "o_totalprice")
        .orderBy(
            F.col("o_orderstatus").asc(),
            F.col("o_totalprice").desc_nulls_last(),
            F.col("o_orderkey"),
        )
    )


@register(
    "o2_topk",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 25
""",
    tags=("O2",),
)
def o2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k: Spark plans TakeOrderedAndProject — per-partition heaps of
    size k, merged on the driver; never a global sort. o_orderkey is the
    tiebreak so the selected SET is deterministic (SURVEY.md §7
    hard-part 2)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
    )


@register(
    "u1_union_all",
    oracle=(
        "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 400000.0 "
        "UNION ALL "
        "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderpriority = '1-URGENT' "
        "AND o_totalprice > 300000.0"
    ),
    tags=("U1",),
)
def u1_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag union — overlapping rows appear twice (no implicit dedup).
    Physically free: partitions are concatenated, no shuffle."""
    o = load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_totalprice") > 400000.0).select("o_orderkey", "o_totalprice")
    b = o.filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 300000.0)
    ).select("o_orderkey", "o_totalprice")
    return a.unionAll(b)


@register(
    "u1b_union_by_name",
    oracle=(
        "SELECT c_custkey AS entity_key, c_acctbal AS balance FROM customer WHERE c_acctbal > 9000.0 "
        "UNION ALL "
        "SELECT s_suppkey AS entity_key, s_acctbal AS balance FROM supplier WHERE s_acctbal > 9000.0"
    ),
    tags=("U1",),
)
def u1b_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-independent union: columns aligned by NAME, the safe
    default when the two sides evolved separately."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000.0)
    s = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 9000.0)
    a = c.select(F.col("c_custkey").alias("entity_key"), F.col("c_acctbal").alias("balance"))
    b = s.select(F.col("s_acctbal").alias("balance"), F.col("s_suppkey").alias("entity_key"))
    return a.unionByName(b)


@register(
    "u2_intersect",
    oracle=_YEAR_SQL.format(y=1996, y1=1997) + " INTERSECT " + _YEAR_SQL.format(y=1997, y1=1998),
    tags=("U2",),
)
def u2_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersect (distinct): customers active in both 1996 and 1997."""
    return _custkeys_in_year(spark, sf_dir, 1996).intersect(
        _custkeys_in_year(spark, sf_dir, 1997)
    )


@register(
    "u2b_intersect_all",
    oracle=_YEAR_SQL.format(y=1996, y1=1997)
    + " INTERSECT ALL "
    + _YEAR_SQL.format(y=1997, y1=1998),
    tags=("U2",),
)
def u2b_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag intersect — multiplicity = min of the two sides."""
    return _custkeys_in_year(spark, sf_dir, 1996).intersectAll(
        _custkeys_in_year(spark, sf_dir, 1997)
    )


@register(
    "u3_except",
    oracle=_YEAR_SQL.format(y=1996, y1=1997) + " EXCEPT " + _YEAR_SQL.format(y=1997, y1=1998),
    tags=("U3",),
)
def u3_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (distinct): churned customers — active in 1996,
    gone in 1997. ``subtract`` is Spark's EXCEPT-DISTINCT."""
    return _custkeys_in_year(spark, sf_dir, 1996).subtract(
        _custkeys_in_year(spark, sf_dir, 1997)
    )


@register(
    "u3b_except_all",
    oracle=_YEAR_SQL.format(y=1996, y1=1997) + " EXCEPT ALL " + _YEAR_SQL.format(y=1997, y1=1998),
    tags=("U3",),
)
def u3b_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag difference — multiplicity = left count minus right count."""
    return _custkeys_in_year(spark, sf_dir, 1996).exceptAll(
        _custkeys_in_year(spark, sf_dir, 1997)
    )


@register(
    "u4_distinct",
    oracle="SELECT DISTINCT c_nationkey, c_mktsegment FROM customer",
    tags=("U4",),
)
def u4_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct over a pruned projection — the scan reads 2 columns."""
    c = load(spark, sf_dir, "customer")
    return c.select("c_nationkey", "c_mktsegment").distinct()


@register(
    "u5_dedup_subset",
    oracle="""
SELECT user_id, event_type, event_id AS latest_event_id, value AS latest_value
FROM events
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) = 1
""",
    tags=("U5", "W1"),
)
def u5_dedup_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest dedup on a key subset. dropDuplicates picks an
    ARBITRARY survivor, so the deterministic formulation is a rank
    window with a total order (ts DESC, event_id DESC) — same cost, one
    shuffle on the dedup key, and the survivor is defined."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("latest_event_id"),
            F.col("value").alias("latest_value"),
        )
    )
