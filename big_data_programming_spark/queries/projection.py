"""Projection / filter / predicate surface (SURVEY.md §2.2 P1-P5).

Each query keeps its filter conjuncts directly on the scan so Catalyst
pushes them into the parquet reader (verified by tests/test_plans.py),
and projects only the columns it emits — at 100 TB the scan cost *is*
the query cost for this family.

Oracle dialect notes baked in here:
* double→int casts: Spark truncates toward zero, DuckDB rounds — so
  casts are always written as an explicit FLOOR/ROUND first on both
  sides, never a bare cast;
* double→string is never emitted (Java vs C++ float formatting drift).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_programming_spark.registry import register
from big_data_programming_spark.sources.loaders import load


@register(
    "p1_project_compute",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1.0 - l_discount) AS disc_price,
       l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS charge,
       l_quantity * 2.0 AS double_qty
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2001-01-01 00:00:00'
""",
    tags=("P1",),
)
def p1_project_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Computed/renamed columns; row-level expressions are identical
    IEEE double ops in both engines, so no canon needed."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_shipdate") >= F.lit("2001-01-01").cast("timestamp_ntz")).select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("disc_price"),
        (
            F.col("l_extendedprice")
            * (F.lit(1.0) - F.col("l_discount"))
            * (F.lit(1.0) + F.col("l_tax"))
        ).alias("charge"),
        (F.col("l_quantity") * F.lit(2.0)).alias("double_qty"),
    )


@register(
    "p2_filter_predicates",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
  AND o_totalprice BETWEEN 50000.0 AND 200000.0
  AND o_orderstatus <> 'P'
  AND (o_orderpriority LIKE '1%' OR NOT o_orderpriority LIKE '%HIGH')
  AND o_custkey IS NOT NULL
""",
    tags=("P2",),
)
def p2_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN / BETWEEN / LIKE / null-test / negation predicate composition."""
    o = load(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        & F.col("o_totalprice").between(50000.0, 200000.0)
        & (F.col("o_orderstatus") != "P")
        & (F.col("o_orderpriority").like("1%") | ~F.col("o_orderpriority").like("%HIGH"))
        & F.col("o_custkey").isNotNull()
    ).select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


@register(
    "p3_case_when",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_totalprice >= 300000.0 THEN 'jumbo'
            WHEN o_totalprice >= 150000.0 THEN 'large'
            WHEN o_totalprice >= 50000.0  THEN 'medium'
            ELSE 'small' END AS size_bucket,
       COALESCE(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status_or_pending
FROM orders
""",
    tags=("P3",),
)
def p3_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN ladder + COALESCE/NULLIF null plumbing."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 300000.0, "jumbo")
        .when(F.col("o_totalprice") >= 150000.0, "large")
        .when(F.col("o_totalprice") >= 50000.0, "medium")
        .otherwise("small")
        .alias("size_bucket"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING")).alias(
            "status_or_pending"
        ),
    )


@register(
    "p4_cast",
    oracle="""
SELECT l_orderkey,
       CAST(FLOOR(l_quantity) AS BIGINT) AS qty_int,
       CAST(l_linenumber AS BIGINT) AS line_long,
       CAST(l_linenumber AS VARCHAR) AS line_str,
       CAST(ROUND(CAST(l_extendedprice AS DECIMAL(12,2)), 2) AS DOUBLE) AS price_dec,
       TRY_CAST(l_returnflag AS INTEGER) AS flag_as_int
FROM lineitem
WHERE l_orderkey <= 1000
""",
    tags=("P4",),
)
def p4_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit conversions incl. try_cast-to-null (ANSI mode stays on;
    TRY_CAST is the sanctioned no-error path in both engines).

    The DECIMAL(12,2) cast stays in the plan (that is the P4
    demonstration) but the emitted column is ROUND(..,2)::DOUBLE on
    both engines: the driver's hash canonicalizes DECIMAL output
    differently from DuckDB's, so a raw decimal column hash-mismatches
    on byte-identical values (CORRECTNESS_r02 p4 row)."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") <= 1000).select(
        "l_orderkey",
        F.floor("l_quantity").cast("bigint").alias("qty_int"),
        F.col("l_linenumber").cast("bigint").alias("line_long"),
        F.col("l_linenumber").cast("string").alias("line_str"),
        F.round(F.col("l_extendedprice").cast("decimal(12,2)"), 2)
        .cast("double")
        .alias("price_dec"),
        F.col("l_returnflag").try_cast("int").alias("flag_as_int"),
    )


@register(
    "p5_sample",
    oracle=None,
    rows_only_reason=(
        "Bernoulli sampling draws from engine-specific RNG streams; p5b/p5c "
        "are the deterministic hash-sampling twins that ARE oracle-paired, "
        "and tests pin p5's rate within binomial bounds"
    ),  # rows-only check
    tags=("P5",),
)
def p5_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sample — the scale-down dev tool. Deterministic
    for a fixed seed+partitioning but not reproducible in DuckDB."""
    li = load(spark, sf_dir, "lineitem")
    return li.sample(fraction=0.1, seed=42).select("l_orderkey", "l_linenumber", "l_quantity")


@register(
    "p5b_hash_sample",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem
WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)), 1, 1)
      IN ('0', '1')
""",
    tags=("P5", "F6"),
)
def p5b_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~12.5% sample keyed on md5 of the row key — the
    reproducible twin of p5's RNG sample. Hash-keyed sampling is the
    scale tool of choice for pipelines: the same rows are selected on
    every engine, every partitioning, every rerun (and a re-run over
    appended data keeps the previously-sampled rows stable). Fully
    pushdown-friendly: one scan, no shuffle, no state."""
    li = load(spark, sf_dir, "lineitem")
    key = F.md5(
        F.concat_ws("-", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string"))
    )
    return li.filter(F.substring(key, 1, 1).isin("0", "1")).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@register(
    "p5c_stratified_hash_sample",
    oracle="""
SELECT doc_id, lang
FROM documents
WHERE CASE WHEN lang = 'en'
           THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
           ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                IN ('0', '1', '2', '3', '4', '5', '6', '7') END
""",
    tags=("P5", "F7"),
)
def p5c_stratified_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-stratum rates (majority
    'en' kept at ~12.5%, minority languages at ~50%) via hash-prefix
    thresholds — the language-rebalancing step of corpus curation.
    Same scale properties as p5b (pure scan-side filter: no RNG state,
    no shuffle, stable under reruns and appends), but the rate is a
    function of the stratum column."""
    d = load(spark, sf_dir, "documents")
    prefix = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    keep = F.when(
        F.col("lang") == "en", prefix.isin("0", "1")
    ).otherwise(prefix.isin(*"01234567"))
    return d.filter(keep).select("doc_id", "lang")
