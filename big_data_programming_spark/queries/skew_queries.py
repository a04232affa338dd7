"""Skew-mitigation queries (SURVEY.md §4, L7) — thin wrappers over
operators/skew.py. Both are row-preserving rewrites, so the oracle is
the plain unsalted formulation."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_programming_spark.functions.canonical import dsum, dsum_sql
from big_data_programming_spark.operators.skew import salted_join, salted_sum_count
from big_data_programming_spark.registry import register
from big_data_programming_spark.sources.loaders import load


@register(
    "sk1_salted_hot_key_agg",
    oracle=f"""
SELECT event_type,
       COUNT(*) AS n_rows,
       {dsum_sql('value')} AS total
FROM events
GROUP BY event_type
""",
    tags=("A1", "A13", "O4"),
)
def sk1_salted_hot_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation over 5 hot keys (event_type) via explicit salting:
    partials over (key, salt) spread the reduce work across
    16×|keys| reducers, the final merge touches 16 rows per key. With
    millions of rows per key and a handful of keys, the unsalted plan
    parks each whole group on one reducer — the textbook 100 TB
    hot-key aggregation fix."""
    return salted_sum_count(
        load(spark, sf_dir, "events"), group_col="event_type", value_col="value"
    )


@register(
    "sk2_salted_join",
    oracle=f"""
SELECT c.c_nationkey,
       COUNT(*) AS n_orders,
       {dsum_sql('o.o_totalprice')} AS total_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1
""",
    tags=("J1", "J8", "O4"),
)
def sk2_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key join with the fact side salted on a per-row column
    (o_orderkey) and the dimension replicated 8× — the fix when one
    key dominates AND the dimension exceeds broadcast size. Identical
    rows to the plain join (the oracle); tests/test_plans.py pins the
    shuffle-hash path with the (key, salt) composite shuffle key."""
    o = load(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "custkey")
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_nationkey"
    )
    joined = salted_join(o, c, key="custkey", salt_source="o_orderkey", n_salts=8)
    return joined.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total_price"),
    )
