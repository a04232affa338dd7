"""Source/sink operators beyond the parquet scan (SURVEY.md §2.1
S2-S5/S7) and physical-layout ops (§2.6 O3/O4).

Round-trip queries write through the engine's own sinks into a scratch
dir and read back through the matching schema-explicit source, proving
both directions; the oracle sees only the logical content, which the
round trip must preserve exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from big_data_programming_spark.functions.canonical import DEC, dsum, dsum_sql
from big_data_programming_spark.registry import register
from big_data_programming_spark.session import scoped_conf
from big_data_programming_spark.sources.loaders import (
    load,
    read_csv,
    read_json,
    register_views,
    write_bucketed,
    write_csv,
    write_json,
    write_parquet,
)
from big_data_programming_spark.streaming.harness import scratch_dir


@register(
    "s2_csv_roundtrip",
    oracle="""
SELECT n.n_nationkey, n.n_name, r.r_name AS region_name
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
""",
    tags=("S2", "S7", "J1"),
)
def s2_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink → schema-explicit CSV scan. The declared StructType is
    the contract: no inferSchema pass, so int stays int and the
    DuckDB comparison can't drift (SURVEY.md §1.3)."""
    joined = (
        load(spark, sf_dir, "nation")
        .join(load(spark, sf_dir, "region"), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name", F.col("r_name").alias("region_name"))
    )
    out = scratch_dir("bdps_s2_")
    write_csv(joined, out)
    schema = StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("n_name", StringType()),
            StructField("region_name", StringType()),
        ]
    )
    return read_csv(spark, out, schema)


@register(
    "s3_json_roundtrip",
    oracle="""
SELECT p_partkey, p_name, p_retailprice
FROM part
WHERE p_size <= 10
""",
    tags=("S3", "S7", "P2"),
)
def s3_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink → schema-explicit JSON scan. Doubles survive the
    round trip exactly (Spark prints shortest-roundtrip decimals and
    parses them back to the same bits)."""
    small = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 10)
        .select("p_partkey", "p_name", "p_retailprice")
    )
    out = scratch_dir("bdps_s3_")
    write_json(small, out)
    schema = StructType(
        [
            StructField("p_partkey", LongType()),
            StructField("p_name", StringType()),
            StructField("p_retailprice", DoubleType()),
        ]
    )
    return read_json(spark, out, schema)


#: (tier, floor) thresholds — the literal in-memory dimension.
_TIERS = [("platinum", 300000.0), ("gold", 150000.0), ("standard", 0.0)]


@register(
    "s4_in_memory_source",
    oracle=f"""
WITH tiers(tier, price_floor) AS (
  VALUES {", ".join(f"('{t}', CAST({f} AS DOUBLE))" for t, f in _TIERS)}
)
SELECT t.tier, COUNT(*) AS n_orders
FROM orders o
JOIN tiers t
  ON o.o_totalprice >= t.price_floor
 AND t.price_floor = (SELECT MAX(price_floor) FROM tiers WHERE price_floor <= o.o_totalprice)
GROUP BY t.tier
""",
    tags=("S4", "J6", "A1"),
)
def s4_in_memory_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-memory literal source (Arrow-backed createDataFrame) used as
    a broadcast dimension: classify orders into price tiers via a
    range join against the tiny threshold table — the idiomatic way to
    ship constants/config to executors without a file."""
    tiers = spark.createDataFrame(_TIERS, "tier string, price_floor double")
    o = load(spark, sf_dir, "orders")
    best = (
        o.join(F.broadcast(tiers), F.col("o_totalprice") >= F.col("price_floor"))
        .groupBy("o_orderkey")
        .agg(F.max_by("tier", "price_floor").alias("tier"))
    )
    return best.groupBy("tier").agg(F.count(F.lit(1)).alias("n_orders"))


@register(
    "s5_sql_over_views",
    oracle="""
SELECT r.r_name AS region_name,
       COUNT(DISTINCT c.c_custkey) AS n_customers,
       COUNT(o.o_orderkey) AS n_orders
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
LEFT JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY 1
""",
    tags=("S5", "J1", "J2", "A3"),
)
def s5_sql_over_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Register the fixture tables as temp views and run plain Spark
    SQL over them — the SQL-string surface is the same Catalyst plan
    as the DataFrame API, so nothing else in the engine changes."""
    register_views(spark, sf_dir, ("region", "nation", "customer", "orders"))
    return spark.sql(
        """
        SELECT r.r_name AS region_name,
               COUNT(DISTINCT c.c_custkey) AS n_customers,
               COUNT(o.o_orderkey) AS n_orders
        FROM region r
        JOIN nation n ON n.n_regionkey = r.r_regionkey
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY r.r_name
        """
    )


@register(
    "o3_sort_within_partitions",
    oracle="""
SELECT s_suppkey, s_nationkey, s_acctbal
FROM supplier
""",
    tags=("O3", "O4"),
)
def o3_sort_within_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """repartition(nation) + sortWithinPartitions: the write-side
    layout idiom (co-located, locally ordered files for downstream
    merge scans) — a partial, shuffle-then-local-sort, never a global
    sort. Row *content* is unchanged, which is what the oracle checks;
    the layout effect is asserted plan-side in tests/test_plans.py."""
    s = load(spark, sf_dir, "supplier")
    return (
        s.repartition(8, "s_nationkey")
        .sortWithinPartitions("s_nationkey", "s_acctbal")
        .select("s_suppkey", "s_nationkey", "s_acctbal")
    )


@register(
    "o4_repartition_coalesce",
    oracle=f"""
SELECT l_suppkey,
       COUNT(*) AS n_lines,
       {dsum_sql('l_quantity')} AS total_qty
FROM lineitem
GROUP BY l_suppkey
""",
    tags=("O4", "A1"),
)
def o4_repartition_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit repartition on the aggregation key followed by
    coalesce for output sizing: pre-partitioning lets the aggregate
    run without its own exchange (the groupBy reuses the partitioning)
    and coalesce merges result partitions without another shuffle —
    the sink-file-count control at scale."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.repartition(16, "l_suppkey")
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_quantity").alias("total_qty"),
        )
        .coalesce(4)
    )


@register(
    "s6_partitioned_roundtrip",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
""",
    tags=("S6", "S1", "P2"),
)
def s6_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet sink → scan with a partition filter.

    ``partitionBy(o_orderpriority)`` lays the data out as one directory
    per priority; the read-back filter then prunes at *file-listing*
    time (PartitionFilters, asserted in tests/test_plans.py) — at
    100 TB the difference between scanning 2/5ths of the data and
    scanning none of it but the matching directories."""
    out = scratch_dir("bdps_s6_")
    write_parquet(
        load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
        ),
        out,
        partition_by=["o_orderpriority"],
    )
    return spark.read.parquet(out).filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )


@register(
    "o5_bucketed_join",
    oracle=f"""
SELECT c.c_mktsegment, COUNT(*) AS n_orders,
       {dsum_sql("o.o_totalprice")} AS segment_value
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY 1
""",
    tags=("O5", "S6", "J1", "A1"),
)
def o5_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed fact-fact join: both sides written bucketed+sorted on
    the join key, so the join plans with NO exchange and NO sort on
    either side (asserted in tests/test_plans.py). This is the at-rest
    co-location strategy for 100 TB fact-fact joins — pay one shuffle
    at write time, never again; the aggregate's own exchange over 5
    mktsegment groups is trivially small."""
    base = scratch_dir("bdps_o5_")
    write_bucketed(
        load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
        "bdps_o5_customer",
        f"{base}/customer",
        n_buckets=8,
        bucket_cols=["c_custkey"],
        sort_cols=["c_custkey"],
    )
    write_bucketed(
        load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice"),
        "bdps_o5_orders",
        f"{base}/orders",
        n_buckets=8,
        bucket_cols=["o_custkey"],
        sort_cols=["o_custkey"],
    )
    c = spark.table("bdps_o5_customer")
    o = spark.table("bdps_o5_orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("segment_value"),
        )
    )


@register(
    "o6_range_layout",
    oracle="""
SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
FROM lineitem
""",
    tags=("O6", "O1", "O3", "S6"),
)
def o6_range_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioned, locally-sorted layout: `repartitionByRange`
    on ship date + `sortWithinPartitions` — the time-series archive
    write shape. Files come out globally range-clustered, so parquet
    min/max stats make any date-range scan skip whole files (and the
    range boundaries come from a sampled sketch, Spark's scalable
    sort machinery — no global sort barrier). Content is unchanged,
    which the oracle checks; layout is a plan property."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.repartitionByRange(8, "l_shipdate")
        .sortWithinPartitions("l_shipdate", "l_orderkey", "l_linenumber")
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
    )


#: Deliberately dirty CSV staged by s2b — two malformed lines among
#: five good ones. A fixed literal, so the expected output is too.
_DIRTY_CSV = """id,qty,price
1,10,1.5
2,twenty,2.5
3,30,3.5
4,40,not-a-price
5,50,5.5
6,60,6.5
"""


@register(
    "s2b_corrupt_records",
    oracle="""
SELECT * FROM (VALUES
  (1, 10, 1.5, FALSE),
  (2, NULL, 2.5, TRUE),
  (3, 30, 3.5, FALSE),
  (4, 40, NULL, TRUE),
  (5, 50, 5.5, FALSE),
  (6, 60, 6.5, FALSE)
) t(id, qty, price, is_corrupt)
""",
    tags=("S2", "P2", "F8"),
)
def s2b_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE CSV ingest with corrupt-record capture: malformed
    fields become NULL and the raw line is preserved in a
    ``_corrupt_record`` column instead of killing the job — on a
    100 TB ingest a handful of bad lines is a certainty, and FAILFAST
    would turn each into a full-job retry. The query flags (not drops)
    bad rows, keeping the quarantine decision downstream. Input is a
    fixed literal, so the oracle is the expected literal output."""
    out = scratch_dir("bdps_s2b_")
    with open(f"{out}/dirty.csv", "w") as f:
        f.write(_DIRTY_CSV)
    schema = StructType(
        [
            StructField("id", IntegerType()),
            StructField("qty", IntegerType()),
            StructField("price", DoubleType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    raw = (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
    )
    return raw.select(
        "id",
        "qty",
        "price",
        F.col("_corrupt_record").isNotNull().alias("is_corrupt"),
    )


def _zorder_oracle_expr() -> str:
    """DuckDB twin of the 6-bit×2 Morton interleave in o7."""
    terms = []
    for i in range(6):
        terms.append(f"(((x >> {i}) & 1) << {2 * i})")
        terms.append(f"(((y >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@register(
    "o7_zorder_layout",
    oracle=f"""
WITH keyed AS (
  SELECT p_partkey,
         CAST(p_size & 63 AS BIGINT) AS x,
         CAST(p_partkey % 64 AS BIGINT) AS y
  FROM part
)
SELECT p_partkey, x, y, CAST({_zorder_oracle_expr()} AS BIGINT) AS zval
FROM keyed
""",
    tags=("O7", "O6", "F3", "S6"),
)
def o7_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustered layout: interleave the bits of two
    query dimensions into one sort key, then range-partition and
    locally sort on it — multi-dimensional data skipping from
    one-dimensional file layout. After this write shape, parquet
    min/max stats prune files for predicates on EITHER dimension
    (a date-only or size-only range sort can prune only its own
    column). The interleave is pure integer bit arithmetic in
    whole-stage codegen; the range partitioner samples boundaries, so
    there is no global sort barrier. Content is what the oracle
    checks; clustering is a layout property (cf. o6)."""
    p = load(spark, sf_dir, "part")
    x = (F.col("p_size").cast("bigint").bitwiseAND(F.lit(63))).alias("x")
    y = (F.col("p_partkey") % 64).cast("bigint").alias("y")
    keyed = p.select("p_partkey", x, y)
    z = None
    for i in range(6):
        xb = F.shiftleft(F.shiftright(F.col("x"), i).bitwiseAND(F.lit(1)), 2 * i)
        yb = F.shiftleft(F.shiftright(F.col("y"), i).bitwiseAND(F.lit(1)), 2 * i + 1)
        z = xb + yb if z is None else z + xb + yb
    zdf = keyed.withColumn("zval", z.cast("bigint"))
    return zdf.repartitionByRange(8, "zval").sortWithinPartitions("zval", "p_partkey")


@register(
    "s10_orc_roundtrip",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
FROM orders
WHERE o_totalprice > 300000.0
""",
    tags=("S2", "S7", "P2"),
)
def s10_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink → ORC scan. ORC is the second columnar at-rest format
    Spark supports natively (JVM-side reader/writer, predicate
    pushdown, column pruning — same scan machinery as parquet), so a
    lakehouse mixing parquet and ORC needs no extra code path. Types
    survive the round trip bit-exactly; the oracle checks logical
    content from the parquet original."""
    big = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000.0)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    )
    out = scratch_dir("bdps_s10_")
    big.write.mode("overwrite").orc(out)
    return spark.read.orc(out)


@register(
    "s11_text_source",
    oracle="""
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang
""",
    tags=("S2", "S7", "F1", "A1"),
)
def s11_text_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text sink → text scan (spark.read.text): the
    lowest-common-denominator interchange format (log shipping, WET
    dumps). One delimited line per document is written through the
    text sink, re-read as raw `value` lines, and parsed back with
    split() — the parse stays JVM-side in whole-stage codegen. The
    aggregate proves the round trip preserved every row and field."""
    docs = load(spark, sf_dir, "documents")
    lines = docs.select(
        F.concat_ws("|", F.col("doc_id"), F.col("lang"), F.col("n_chars")).alias("value")
    )
    out = scratch_dir("bdps_s11_")
    lines.write.mode("overwrite").text(out)
    parts = F.split(F.col("value"), r"\|")
    return (
        spark.read.text(out)
        .select(
            parts.getItem(1).alias("lang"),
            parts.getItem(2).cast("bigint").alias("n_chars"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@register(
    "s12_binaryfile_source",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents
WHERE doc_id < 8
""",
    tags=("S2", "L6"),
)
def s12_binaryfile_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile source — the ingest path for opaque media payloads
    (images/audio/video, SURVEY.md §2.11 L6): each file becomes one
    row of (path, modificationTime, length, content BINARY). Fixture
    files are materialized executor-side via foreachPartition (no
    driver collect; on a cluster this setup step would target shared
    storage — the READ path under test is identical either way). The
    query verifies payload integrity end-to-end: byte length and md5
    of the binary content against the source-of-truth text."""
    out = scratch_dir("bdps_s12_")

    def _write_files(rows) -> None:
        import os

        for r in rows:
            with open(os.path.join(out, f"{r['doc_id']}.bin"), "wb") as f:
                f.write(r["text"].encode("utf-8"))

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 8)
    docs.select("doc_id", "text").foreachPartition(_write_files)
    return (
        spark.read.format("binaryFile")
        .load(out)
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1).cast("bigint").alias("doc_id"),
            F.col("length").alias("n_bytes"),
            F.md5(F.col("content")).alias("content_md5"),
        )
    )


@register(
    "s13_schema_evolution",
    oracle=f"""
SELECT COUNT(*) AS n_rows,
       COUNT(CASE WHEN p_size > 5 THEN p_retailprice END) AS n_with_price,
       {dsum_sql('CASE WHEN p_size > 5 THEN p_retailprice END')} AS price_total
FROM part
""",
    tags=("S1", "S6", "P2"),
)
def s13_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read (`mergeSchema`): two parquet batches with
    different schemas — an old extract without `p_retailprice` and a
    new one with it — land in one dataset; the merged scan unions the
    footers into the superset schema and fills the missing column
    with NULL for old files. This is the append-only lakehouse
    reality (columns arrive over time; nobody rewrites 100 TB of old
    files). mergeSchema costs a footer read per file at planning —
    which is why it's an explicit option, and why production tables
    pin the contract schema in a catalog once it stabilizes. The
    aggregate proves NULL-fill and type union: rows from both
    batches, prices only from the new one."""
    p = load(spark, sf_dir, "part")
    out = scratch_dir("bdps_s13_")
    old = p.filter(F.col("p_size") <= 5).select("p_partkey", "p_name")
    new = p.filter(F.col("p_size") > 5).select("p_partkey", "p_name", "p_retailprice")
    old.write.mode("overwrite").parquet(out + "/batch=1")
    new.write.mode("overwrite").parquet(out + "/batch=2")
    merged = spark.read.option("mergeSchema", True).parquet(out + "/batch=1", out + "/batch=2")
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("p_retailprice").alias("n_with_price"),
        dsum("p_retailprice").alias("price_total"),
    )


#: s15 geometry: the fragmented table's file count and the compacted one's.
_S15_FRAGMENTS = 48
_S15_FILES = 4


@register(
    "s15_compaction",
    oracle=f"""
SELECT CAST({_S15_FRAGMENTS} AS BIGINT) AS files_before,
       CAST({_S15_FILES} AS BIGINT) AS files_after,
       COUNT(*) AS n_rows,
       {dsum_sql('l_quantity')} AS total_qty
FROM lineitem
""",
    tags=("S6", "O4", "S1"),
)
def s15_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the lakehouse maintenance op every
    streaming/incremental sink eventually needs: a fragmented table
    (48 small parquet files, the shape micro-batch sinks produce) is
    rewritten through ``coalesce(4)`` into 4 right-sized files.
    ``coalesce`` merges partitions WITHOUT a shuffle (each output task
    concatenates ~12 input files), which is the point at 100 TB: a
    compaction pass is IO-bound rewriting, never an exchange;
    ``repartition`` would shuffle every byte to re-sort what doesn't
    need sorting. File counts are measured from the data itself
    (distinct ``input_file_name`` before and after) and pinned by the
    oracle to the spec'd 48→4; row count + quantity checksum prove the
    rewrite lost nothing. In production the same job targets
    ``spark.sql.files.maxPartitionBytes``-sized outputs per partition
    directory and runs table-incrementally."""
    frag_dir = scratch_dir("bdps_s15_frag_")
    comp_dir = scratch_dir("bdps_s15_comp_")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    li.repartition(_S15_FRAGMENTS).write.mode("overwrite").parquet(frag_dir)
    frag = spark.read.parquet(frag_dir)
    # One read split per fragment file at any core count: Spark packs
    # small files into splits of up to max(openCostInBytes, bytes /
    # parallelism), so on 2 cores the 48 files read back as 2 splits and
    # coalesce, which never adds partitions, wrote 2 files.
    with scoped_conf(spark, "spark.sql.files.minPartitionNum", str(_S15_FRAGMENTS)):
        frag.coalesce(_S15_FILES).write.mode("overwrite").parquet(comp_dir)
    comp = spark.read.parquet(comp_dir)
    before = frag.select(F.input_file_name().alias("f")).agg(
        F.count_distinct("f").alias("files_before")
    )
    return (
        comp.select("l_quantity", F.input_file_name().alias("f"))
        .agg(
            F.count_distinct("f").alias("files_after"),
            F.count(F.lit(1)).alias("n_rows"),
            dsum("l_quantity").alias("total_qty"),
        )
        .crossJoin(F.broadcast(before))
        .select("files_before", "files_after", "n_rows", "total_qty")
    )


@register(
    "s16_python_datasource",
    oracle="""
SELECT category,
       COUNT(*) AS n_rows,
       CAST(SUM((i * 2654435761) % 2147483647) AS BIGINT) AS val_sum,
       MIN(i) AS min_id,
       MAX(i) AS max_id
FROM (SELECT i, 'cat' || CAST(i % 5 AS VARCHAR) AS category
      FROM generate_series(0, 7999) AS t(i))
GROUP BY 1
""",
    tags=("S1", "S4", "A1"),
)
def s16_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python DataSource API: a pure-Python connector with
    REAL input partitions — the planner asks for splits once, each
    executor task reads only its own (sources/python_datasource.py),
    so a Python reader for an internal API/queue/exotic format
    parallelizes like a file scan instead of bottlenecking on the
    driver. The generated telemetry is deterministic (Knuth
    multiplicative hash), so the oracle replays all 8 partitions ×
    1000 rows bit-for-bit; the aggregate shape proves the rows flow
    through the normal JVM-side plan after the Arrow hand-off."""
    from big_data_programming_spark.sources.python_datasource import (
        register_telemetry_source,
    )

    register_telemetry_source(spark)
    df = (
        spark.read.format("synthetic_telemetry")
        .option("partitions", "8")
        .option("rowsPerPartition", "1000")
        .load()
    )
    return df.groupBy("category").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("val").alias("val_sum"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    )


@register(
    "s17_python_source_pushdown",
    oracle="""
SELECT category,
       COUNT(*) AS n_rows,
       CAST(SUM((i * 2654435761) % 2147483647) AS BIGINT) AS val_sum,
       MIN(i) AS min_id,
       MAX(i) AS max_id
FROM (SELECT i, 'cat' || CAST(i % 5 AS VARCHAR) AS category
      FROM generate_series(2500, 5499) AS t(i))
GROUP BY 1
""",
    tags=("S1", "S4", "P2", "A1"),
)
def s17_python_source_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter pushdown INTO a Python data source (Spark 4.1
    `pushFilters`): the id-range predicate is consumed by the reader,
    which prunes 4 of 8 input partitions at planning time and
    row-slices the survivors — Spark re-applies nothing (the post-scan
    filter is bare isnotnull, plan-asserted in tests/test_plans.py).
    This is the same pushdown contract parquet enjoys, extended to
    custom connectors: at 100 TB it is the difference between a
    Python API reader fetching everything and fetching the requested
    key range. Because accepted filters are not re-checked by Spark,
    the oracle directly certifies the reader's pruning arithmetic."""
    from big_data_programming_spark.sources.python_datasource import (
        register_pushdown_source,
    )

    register_pushdown_source(spark)
    df = (
        spark.read.format("pushdown_telemetry")
        .option("partitions", "8")
        .option("rowsPerPartition", "1000")
        .load()
        .filter((F.col("id") >= 2500) & (F.col("id") < 5500))
    )
    return df.groupBy("category").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("val").alias("val_sum"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    )


@register(
    "s18_xml_roundtrip",
    oracle="""
SELECT s_suppkey, s_name, s_nationkey, s_acctbal
FROM supplier
WHERE s_acctbal >= 0.0
""",
    tags=("S2", "S7", "P2"),
)
def s18_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink → schema-explicit XML scan (built into Spark since 4.0
    — no external package): the third markup round trip beside CSV
    (s2) and JSON-lines (s3), covering the B2B/legacy-feed ingestion
    path. As with the others, the declared schema is the contract (no
    inference pass) and doubles survive the trip exactly via
    shortest-roundtrip decimal printing. XML's scale caveat is
    structural, not ours: one rowTag element per record keeps the
    reader splittable per file; the multi-file directory layout is
    what parallelizes."""
    sup = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") >= 0.0)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    )
    out = scratch_dir("bdps_s18_")
    sup.write.format("xml").option("rootTag", "suppliers").option(
        "rowTag", "supplier"
    ).mode("overwrite").save(out)
    return (
        spark.read.format("xml")
        .option("rowTag", "supplier")
        .schema("s_suppkey long, s_name string, s_nationkey int, s_acctbal double")
        .load(out)
    )


@register(
    "s19_python_sink",
    oracle="""
SELECT s_suppkey, s_nationkey, s_acctbal
FROM supplier
""",
    tags=("S7", "S2"),
)
def s19_python_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python custom SINK (Spark 4 `DataSourceWriter`) with the real
    two-phase commit: executor tasks stage `_tmp_` files and return
    commit messages; the driver's `commit()` renames them visible,
    `abort()` deletes them — so speculative/failed tasks can never
    publish partial output (sources/python_datasource.py). The sink's
    output is read back through the schema-explicit CSV scan and must
    equal the source projection, which certifies both the task
    payloads and the commit protocol: an uncommitted or double-
    committed task file breaks the hash. Completes the Python
    connector matrix (batch read s16, pushdown s17, stream read st17,
    batch write here)."""
    from big_data_programming_spark.sources.python_datasource import (
        register_tsv_sink,
    )

    register_tsv_sink(spark)
    out = scratch_dir("bdps_s19_")
    sup = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", "s_acctbal"
    )
    sup.write.format("tsv_sink").option("path", out).mode("append").save()
    return (
        spark.read.schema("s_suppkey long, s_nationkey int, s_acctbal double")
        .option("sep", "\t")
        .csv(out + "/part_*.tsv")
    )


@register(
    "s20_parameterized_sql",
    oracle=f"""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS total_price
FROM orders
WHERE o_totalprice >= 150000.0
GROUP BY o_orderpriority
""",
    tags=("S5", "A1", "P2"),
)
def s20_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 4): the table name binds through the
    `IDENTIFIER(:tbl)` clause and the filter cutoff through a named
    `:cutoff` parameter — both resolved by the PARSER, not string
    interpolation, so user-supplied values can never splice SQL
    (injection-safe templating, the multi-tenant/report-template
    staple). Parameter markers bind literals into the plan before
    Catalyst runs: the cutoff is a real pushable predicate, identical
    to the hand-written query — zero plan cost for the indirection."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        f"""
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS {DEC})) AS DOUBLE) AS total_price
        FROM IDENTIFIER(:tbl)
        WHERE o_totalprice >= :cutoff
        GROUP BY o_orderpriority
        """,
        args={"tbl": "orders", "cutoff": 150000.0},
    )


@register(
    "o9_file_size_targeting",
    oracle="""
WITH src AS (
  SELECT COUNT(*) AS total_rows,
         CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS price_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
)
SELECT CAST(CEIL(total_rows / 10000.0) AS BIGINT) AS n_files,
       TRUE AS all_files_within_cap,
       total_rows,
       price_cents
FROM src
""",
    tags=("S6", "O4"),
)
def o9_file_size_targeting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output file-size targeting: `maxRecordsPerFile` caps rows per
    parquet file at the WRITER (each task rolls to a new file at the
    cap) — with s15's compaction, the two halves of small-file
    hygiene: compaction heals fragmentation after the fact, the cap
    prevents the opposite failure (one task writing a multi-GB file
    that a downstream reader can't split row-group-wise). The slice
    is coalesced to one task so the expected file count is the
    closed-form ceil(rows/cap), pinned by the oracle; the read-back
    audits actual per-file row counts against the cap and checksums
    the payload. On a cluster the same option rides on every
    partitioned/bucketed sink (s6/o5) unchanged."""
    out = scratch_dir("bdps_o9_")
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )
    li.coalesce(1).write.mode("overwrite").option("maxRecordsPerFile", 10000).parquet(out)
    back = spark.read.parquet(out)
    per_file = back.groupBy(F.input_file_name().alias("f")).agg(
        F.count(F.lit(1)).alias("rows_in_file"),
        F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")).alias("cents"),
    )
    return per_file.agg(
        F.count(F.lit(1)).alias("n_files"),
        (F.max("rows_in_file") <= 10000).alias("all_files_within_cap"),
        F.sum("rows_in_file").alias("total_rows"),
        F.sum("cents").alias("price_cents"),
    )
