"""Bounded sources and sinks (SURVEY.md §2.1 S1-S7).

The parquet scan path is deliberately bare: ``spark.read.parquet`` hands
Catalyst a relation it can push filters into and prune columns from —
tests in tests/test_plans.py assert ``PushedFilters``/``ReadSchema``
actually narrow. Anything clever here (caching, pre-collecting,
repartitioning on load) would fight the optimizer at 100 TB, so we
don't.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from big_data_programming_spark.sources.schemas import SCHEMAS

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """S1 — parquet scan of one fixture table at a scale-factor dir.

    Every table, ``events`` included, reads natively: PySpark 4.1
    reads the ns-precision ``events.ts`` parquet column directly as
    ``TIMESTAMP_NTZ`` truncated to µs, which is bit-identical to what
    DuckDB (the oracle) yields for the same file — verified
    empirically, no conf or cast needed. Keeping the scan bare also
    preserves filter pushdown into the parquet relation (a
    ``withColumn`` over ``ts`` would block ``PushedFilters`` on it).

    Deliberately NOT memoized (r12 — examined and REJECTED): returning
    one shared DataFrame handle per (session, sf_dir, table) would save
    ~9 ms of py4j + DataSource resolution per call, but Dataset
    IDENTITY is load-bearing in Spark: the observation registry keys on
    (metric name, dataset id), so two ``observe()`` attachments to the
    same shared handle collide — the second Observation is silently
    never registered and its ``get`` blocks forever (reproduced:
    constructing po2_observed_quality_gate twice on a shared handle
    hangs the second ``obs.get``; the full test suite hung exactly
    there). Self-join disambiguation (AMBIGUOUS_SELF_JOIN) is the same
    hazard class. A fresh Dataset per call is the contract callers
    already rely on.
    """
    if table not in SCHEMAS:
        raise KeyError(f"unknown fixture table: {table!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{table}.parquet")
    # Explicit schema (r11 optimization, guide §1/§5): without it every
    # load() pays driver-side schema inference — list + open the file
    # and parse a parquet footer — measured at 70-95 ms per call vs
    # ~9 ms with the schema declared (25-rep A/B, exp_schema). The
    # declared schema is asserted identical to the independently
    # inferred one for all 10 tables
    # (tests/test_entry.py::test_fixture_schemas_match), so plans and
    # results are unchanged; at 100 TB this is the difference between
    # "read one footer per query per table" and "read none" on the
    # driver.
    return spark.read.schema(SCHEMAS[table]).parquet(path)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table. Plans only — nothing is materialized."""
    return {t: load(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """S5 — expose fixture tables to ``spark.sql`` under their bare names."""
    for t in tables:
        load(spark, sf_dir, t).createOrReplaceTempView(t)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """S2 — schema-explicit CSV ingest. ``inferSchema`` is deliberately
    not exposed: inference is a second pass over the data and its
    results drift between engines (SURVEY.md §1.3)."""
    return spark.read.schema(schema).option("header", header).options(**options).csv(path)


def read_json(spark: SparkSession, path: str, schema: StructType, **options: str) -> DataFrame:
    """S3 — schema-explicit JSON-lines ingest."""
    return spark.read.schema(schema).options(**options).json(path)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """S6 — parquet sink. ``partition_by`` date/categorical columns so
    downstream scans get static + dynamic partition pruning for free."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    n_buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """S6b — bucketed parquet table (external, at ``path``).

    Bucketing is the at-rest half of the shuffle story: two tables
    bucketed on the same key with the same bucket count join with NO
    exchange on either side — at 100 TB that deletes the single most
    expensive stage of every fact-fact join and repeated fact-dim
    aggregation. ``sort_cols`` additionally pre-sorts within buckets so
    a sort-merge join skips its sort. Requires ``saveAsTable`` (bucket
    metadata lives in the catalog, not the files); the table is
    external so the warehouse dir is never touched.
    """
    w = df.write.mode(mode).format("parquet").option("path", path)
    w = w.bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S7 — CSV export."""
    df.write.mode(mode).option("header", True).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S7 — JSON-lines export."""
    df.write.mode(mode).json(path)
