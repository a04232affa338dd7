"""Modern-SQL surface added late in round 3 (SURVEY.md §2.12): the
Spark 4 SQL-language features a reference user would expect from a
current engine — pipe syntax, SQL-defined UDFs/UDTFs, GROUP BY ALL /
lateral column aliases, collation-aware comparison, approx_top_k, the
Arrow-native grouped map, and a deterministic train/val/test split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_programming_spark.functions.canonical import DEC, dsum_sql
from big_data_programming_spark.registry import register
from big_data_programming_spark.sources.loaders import load, register_views
from big_data_programming_spark.streaming.harness import scratch_dir


@register(
    "s21_pipe_syntax",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_rows,
       {dsum_sql('l_quantity')} AS sum_qty,
       {dsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY 1, 2
""",
    tags=("S5", "A1", "P1", "P2"),
)
def s21_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0, SQL:2023-adjacent `|>` operators):
    the q1-style pricing rollup written as a linear FROM → WHERE →
    EXTEND → AGGREGATE pipeline. Pipe stages parse to exactly the same
    Catalyst plan as the nested-SELECT form — same pushdown, same
    partial/final aggregate — so this is a language-surface feature
    with zero execution-model cost; the oracle is the classic-SQL
    twin, proving plan equivalence by value equality."""
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(
        f"""
        FROM lineitem
        |> WHERE l_shipdate <= DATE '1998-09-02'
        |> EXTEND l_extendedprice * (1 - l_discount) AS disc_price
        |> AGGREGATE COUNT(*) AS n_rows,
                     CAST(SUM(CAST(l_quantity AS {DEC})) AS DOUBLE) AS sum_qty,
                     CAST(SUM(CAST(disc_price AS {DEC})) AS DOUBLE) AS sum_disc_price
           GROUP BY l_returnflag, l_linestatus
        """
    )


@register(
    "s22_sql_sugar",
    oracle=f"""
WITH g AS (
  SELECT o_orderpriority, o_orderstatus,
         COUNT(*) AS n_orders,
         {dsum_sql('o_totalprice')} AS total_price
  FROM orders
  GROUP BY 1, 2
)
SELECT o_orderpriority, o_orderstatus, n_orders, total_price,
       total_price / n_orders AS avg_price,
       total_price / n_orders > 150000 AS is_premium_mix
FROM g
""",
    tags=("S5", "A1"),
)
def s22_sql_sugar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern SQL sugar: GROUP BY ALL (grouping keys inferred from the
    non-aggregate select items) + ORDER BY ALL in the aggregate, and
    lateral column aliases in the outer projection (`avg_price` is
    defined and then referenced by `is_premium_mix` in the SAME select
    list — resolved left-to-right at analysis time, no subquery
    nesting; Spark 4.1 does not yet allow a lateral alias to feed
    GROUP BY ALL inference, hence the two levels). Sugar only:
    Catalyst rewrites to the explicit form, so the oracle spells the
    aliases out and must match bit-for-bit."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        f"""
        SELECT o_orderpriority, o_orderstatus, n_orders, total_price,
               total_price / n_orders AS avg_price,
               avg_price > 150000 AS is_premium_mix
        FROM (
          SELECT o_orderpriority, o_orderstatus,
                 COUNT(*) AS n_orders,
                 CAST(SUM(CAST(o_totalprice AS {DEC})) AS DOUBLE) AS total_price
          FROM orders
          GROUP BY ALL
          ORDER BY ALL
        )
        """
    )


@register(
    "ud12_sql_scalar_udf",
    oracle="""
SELECT CASE WHEN value >= 90 THEN 'hot'
            WHEN value >= 50 THEN 'warm'
            ELSE 'cold' END AS band,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
GROUP BY 1
""",
    tags=("UD1", "S5", "A1"),
)
def ud12_sql_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar UDF (Spark 4 `CREATE FUNCTION ... RETURN
    expr`): the band() body is inlined into the plan at analysis time
    — unlike Python UDFs (ud1/ud10) there is NO executor-side language
    boundary, so a SQL UDF keeps whole-stage codegen and predicate
    pushdown intact. This is the right tool for shared business logic;
    Python UDFs stay the escape hatch for non-SQL computation."""
    register_views(spark, sf_dir, ("events",))
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION bdps_value_band(v DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN v >= 90 THEN 'hot' WHEN v >= 50 THEN 'warm' ELSE 'cold' END
        """
    )
    return spark.sql(
        """
        SELECT bdps_value_band(value) AS band,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
        FROM events
        GROUP BY 1
        """
    )


@register(
    "ud13_sql_table_udf",
    oracle="""
SELECT doc_id, CAST(0 AS INT) AS pos, string_split(text, ' ')[1] AS token
FROM documents
WHERE LEN(string_split(text, ' ')) >= 1
UNION ALL
SELECT doc_id, CAST(1 AS INT) AS pos, string_split(text, ' ')[2] AS token
FROM documents
WHERE LEN(string_split(text, ' ')) >= 2
""",
    tags=("UD7", "S5", "F4"),
)
def ud13_sql_table_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined TABLE function (`RETURNS TABLE(...)`) invoked per
    row via LATERAL correlation — the declarative sibling of the
    Python UDTF (ud7). The body is plain SQL, so Catalyst inlines and
    decorrelates it to a Generate over the outer scan (no per-row
    re-execution, no language boundary) — which is what lets a lateral
    table function survive a 100 TB outer table."""
    register_views(spark, sf_dir, ("documents",))
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION bdps_top2_tokens(s STRING)
        RETURNS TABLE(pos INT, token STRING)
        RETURN SELECT t.pos, t.token
               FROM (SELECT posexplode(split(s, ' ')) AS (pos, token)) t
               WHERE t.pos < 2
        """
    )
    return spark.sql(
        """
        SELECT d.doc_id, f.pos, f.token
        FROM documents d, LATERAL bdps_top2_tokens(d.text) f
        """
    )


@register(
    "f14_collation",
    oracle="""
WITH m AS (
  SELECT CASE WHEN doc_id % 2 = 0 THEN UPPER(lang) ELSE lang END AS mixed
  FROM documents
)
SELECT LOWER(mixed) AS lang_ci,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT mixed) AS n_case_variants
FROM m
GROUP BY 1
""",
    tags=("F1", "A1", "A3"),
)
def f14_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String collations (Spark 4.0): group case-insensitively via
    `collate(s, 'UTF8_LCASE')` — the collation rides the *type*, so
    every comparison downstream of the cast (grouping, joins, =,
    ORDER BY) is case-insensitive without wrapping each use in
    lower(). A mixed-case column is derived deterministically (UPPER
    on even doc_ids); `n_case_variants` counts distinct values under
    the default binary collation inside each case-insensitive group,
    proving the two collations coexist in one aggregate. The group key
    representative under UTF8_LCASE is an arbitrary case variant, so
    the output key is lowered — the deterministic canonical form."""
    d = load(spark, sf_dir, "documents").select(
        F.when(F.col("doc_id") % 2 == 0, F.upper("lang"))
        .otherwise(F.col("lang"))
        .alias("mixed")
    )
    return (
        d.groupBy(F.collate("mixed", "UTF8_LCASE").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("mixed").alias("n_case_variants"),
        )
        .select(
            F.lower("k").alias("lang_ci"),
            "n_docs",
            "n_case_variants",
        )
    )


@register(
    "a26_approx_top_k",
    oracle="""
SELECT event_type, COUNT(*) AS cnt
FROM events
GROUP BY 1
""",
    tags=("A4", "A1"),
)
def a26_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`approx_top_k` (Spark 4.1): single-pass mergeable frequent-items
    sketch returning (item, count) pairs — the heavy-hitters profile
    for a 100 TB column at constant state, the sibling of a18's
    freqItems but with counts attached. The sketch tracks up to
    maxItemsTracked (default 10k) items exactly and only then degrades
    to approximate counts; the event_type domain is far below that, so
    the result is exact at any scale factor and the plain GROUP BY is
    a true oracle (same contract as a4/a15: exact-below-capacity,
    bounded-error above)."""
    e = load(spark, sf_dir, "events")
    topk = e.agg(F.expr("approx_top_k(event_type, 16)").alias("tk"))
    return topk.select(F.explode("tk").alias("t")).select(
        F.col("t.item").alias("event_type"),
        F.col("t.count").alias("cnt"),
    )


@register(
    "ud14_apply_in_arrow",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
GROUP BY 1
""",
    tags=("UD4", "UD9", "A1"),
)
def ud14_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-native grouped map (Spark 4 `groupBy().applyInArrow`):
    per-group pyarrow.Table in, pyarrow.Table out — the grouped
    sibling of ud9's mapInArrow, skipping the pandas conversion layer
    of ud4 entirely (no object boxing, no index machinery; columnar
    buffers both directions). The body sums integer cents via
    pyarrow.compute, so the result is partition-order-invariant and
    exactly oracle-comparable. Same scale caveat as every grouped map:
    one group must fit one executor's memory — fine for bounded key
    domains, use built-in aggregates otherwise."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def per_type(key: tuple, tbl: pa.Table) -> pa.Table:
        cents = pc.cast(
            pc.floor(pc.add(pc.multiply(tbl.column("value"), pa.scalar(100.0)), pa.scalar(0.5))),
            pa.int64(),
        )
        return pa.table(
            {
                "event_type": pa.array([key[0]], pa.string()),
                "n_events": pa.array([tbl.num_rows], pa.int64()),
                "total_cents": pa.array([pc.sum(cents).as_py()], pa.int64()),
            }
        )

    e = load(spark, sf_dir, "events").select("event_type", "value")
    return e.groupBy("event_type").applyInArrow(
        per_type, "event_type string, n_events long, total_cents long"
    )


@register(
    "l4p_dataset_split",
    oracle="""
WITH s AS (
  SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c', 'd') THEN 'val'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('e', 'f') THEN 'test'
              ELSE 'train' END AS split,
         n_chars, lang
  FROM documents
)
SELECT split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       COUNT(DISTINCT lang) AS n_langs
FROM s
GROUP BY 1
""",
    tags=("L4", "P5", "A1"),
)
def l4p_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (~75/12.5/12.5) keyed on the
    md5 of doc_id — the dataset-assembly step after curation. Hash
    assignment (not RNG) means: the same doc lands in the same split
    on every engine, every partitioning, every rerun; appended docs
    never reshuffle existing assignments; and holding out by hash
    range keeps train/test disjoint across pipeline versions. Pure
    map + one aggregate — no shuffle of the documents themselves at
    assignment time (the split column is computed in-scan)."""
    d = load(spark, sf_dir, "documents")
    prefix = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(prefix.isin("c", "d"), "val")
        .when(prefix.isin("e", "f"), "test")
        .otherwise("train")
    )
    return (
        d.select(split.alias("split"), "n_chars", "lang")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.count_distinct("lang").alias("n_langs"),
        )
    )


@register(
    "s23_session_variables",
    oracle=f"""
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
WHERE l_quantity >= 30.0 AND l_discount >= 0.05
GROUP BY 1
""",
    tags=("S5", "P2", "A1"),
)
def s23_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (Spark 4.0 `DECLARE VARIABLE` / `SET
    VAR`): typed, session-scoped parameters referenced directly in
    queries — the ANSI-standard alternative to string templating for
    dashboard/report parameterization (s20's parameter markers are
    per-statement; variables persist across statements). Variables
    resolve to foldable literals at analysis time, so `l_quantity >=
    qty_floor` is STILL a pushable parquet predicate — parameterization
    without losing pruning is the scale property."""
    register_views(spark, sf_dir, ("lineitem",))
    spark.sql("DECLARE OR REPLACE VARIABLE qty_floor DOUBLE DEFAULT 0.0")
    spark.sql("DECLARE OR REPLACE VARIABLE disc_floor DOUBLE DEFAULT 0.0")
    spark.sql("SET VAR qty_floor = 30.0")
    spark.sql("SET VAR disc_floor = 0.05")
    return spark.sql(
        f"""
        SELECT l_returnflag,
               COUNT(*) AS n_rows,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS {DEC})) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_quantity >= qty_floor AND l_discount >= disc_floor
        GROUP BY 1
        """
    )


@register(
    "s24_execute_immediate",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE o_totalprice > 200000.0
GROUP BY 1
""",
    tags=("S5", "P2", "A1"),
)
def s24_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`EXECUTE IMMEDIATE` (Spark 4.0): dynamic SQL with `?`
    placeholder binding via USING — the injection-safe way to run a
    query assembled at runtime (rule engines, saved-report runners).
    Values bind as typed parameters in the parser, never concatenated
    into the string, so a hostile value cannot change the statement
    shape and the bound predicate still folds + pushes down. The
    statement text itself is a constant here; only data binds late."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT o_orderpriority, COUNT(*) AS n_orders
           FROM orders WHERE o_totalprice > ? GROUP BY 1'
          USING 200000.0
        """
    )


@register(
    "s25_sql_scripting",
    oracle="""
SELECT l_linestatus,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS price_cents
FROM lineitem
WHERE l_quantity >= 30.0
GROUP BY 1
""",
    tags=("S5", "P2", "A1"),
)
def s25_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4.0, SQL/PSM): BEGIN/END blocks with
    DECLARE, WHILE and IF running entirely in the session — procedural
    orchestration without a Python driver loop. The script derives its
    filter threshold through control flow (a loop accumulating to 30),
    then runs the real query; the RESULT is still one declarative
    SELECT, so everything Catalyst owns (pushdown, partial aggs) is
    untouched — scripting sequences queries, it never row-loops data.
    The oracle pins the final threshold arithmetic."""
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        BEGIN
          DECLARE threshold DOUBLE DEFAULT 0.0;
          DECLARE i INT DEFAULT 1;
          WHILE i <= 4 DO
            SET threshold = threshold + 5.0 + i;
            SET i = i + 1;
          END WHILE;
          IF threshold > 100.0 THEN
            SET threshold = 100.0;
          END IF;
          SELECT l_linestatus,
                 COUNT(*) AS n_rows,
                 CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS price_cents
          FROM lineitem
          WHERE l_quantity >= threshold
          GROUP BY 1;
        END
        """
    )


@register(
    "ud15_cogroup_arrow",
    oracle="""
WITH o AS (
  SELECT o_orderstatus AS status, COUNT(*) AS n
  FROM orders GROUP BY 1
), l AS (
  SELECT l_linestatus AS status, COUNT(*) AS n
  FROM lineitem GROUP BY 1
)
SELECT COALESCE(o.status, l.status) AS status,
       COALESCE(o.n, 0) AS n_orders,
       COALESCE(l.n, 0) AS n_lineitems
FROM o FULL OUTER JOIN l ON l.status = o.status
""",
    tags=("UD8", "UD9", "J2"),
)
def ud15_cogroup_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-native COGROUPED map (Spark 4
    `cogroup(...).applyInArrow`): both sides of a key arrive as
    pyarrow.Tables in one Python call — two-sided reconciliation
    (ud8's shape) without the pandas layer (ud14's win), completing
    the Arrow-UDF matrix. Either side may be EMPTY for a key that
    exists only in the other — the full-outer contract the batch twin
    spells as FULL OUTER JOIN. Keyed on the 3-value status domain, so
    groups are bounded; per-key volume streams through Arrow buffers
    without object boxing."""
    import pyarrow as pa

    def reconcile(key: tuple, orders_t: pa.Table, items_t: pa.Table) -> pa.Table:
        return pa.table(
            {
                "status": pa.array([key[0]], pa.string()),
                "n_orders": pa.array([orders_t.num_rows], pa.int64()),
                "n_lineitems": pa.array([items_t.num_rows], pa.int64()),
            }
        )

    o = load(spark, sf_dir, "orders").select(F.col("o_orderstatus").alias("status"))
    l = load(spark, sf_dir, "lineitem").select(F.col("l_linestatus").alias("status"))
    return (
        o.groupBy("status")
        .cogroup(l.groupBy("status"))
        .applyInArrow(reconcile, "status string, n_orders long, n_lineitems long")
    )


@register(
    "s26_zstd_compression",
    oracle="""
SELECT 'ZSTD' AS codec,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS price_cents
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
""",
    tags=("S6", "S1", "O6"),
)
def s26_zstd_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-codec control on the parquet sink: the fixture
    slice is rewritten with zstd (the modern archive-tier default —
    snappy-class decode speed at gzip-class ratios; at 100 TB the
    codec choice IS multiple PB of storage and scan I/O) and read
    back. The emitted `codec` column is read from the REAL parquet
    footer via pyarrow, then compared against the oracle's pinned
    'ZSTD' literal — so a silently ignored writer option fails the
    hash match, and the row count + cents checksum prove the rewrite
    was lossless. Codec metadata is per-column-chunk, so mixed-codec
    tables stay readable — rewriting history is optional, not forced."""
    import os

    import pyarrow.parquet as pq

    out = scratch_dir("bdps_s26_")
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz")
    )
    li.write.mode("overwrite").option("compression", "zstd").parquet(out)
    # Codec metadata lives in ROW GROUPS, and a task whose partition
    # filtered to zero rows still writes a (row-group-less) part file
    # — at sf0.1 such an empty part sorts first and row_group(0) is
    # out of bounds (r9 sweep finding). Read the first part that
    # actually holds data.
    codec = next(
        md.row_group(0).column(0).compression
        for f in sorted(os.listdir(out))
        if f.endswith(".parquet")
        and (md := pq.ParquetFile(os.path.join(out, f)).metadata).num_row_groups
    )
    back = spark.read.parquet(out)
    return back.agg(
        F.lit(codec).alias("codec"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")).alias("price_cents"),
    )


@register(
    "a27_crosstab",
    oracle="""
SELECT event_type AS event_type_dow,
       COUNT(*) FILTER (WHERE isodow(ts) = 1) AS "1",
       COUNT(*) FILTER (WHERE isodow(ts) = 2) AS "2",
       COUNT(*) FILTER (WHERE isodow(ts) = 3) AS "3",
       COUNT(*) FILTER (WHERE isodow(ts) = 4) AS "4",
       COUNT(*) FILTER (WHERE isodow(ts) = 5) AS "5",
       COUNT(*) FILTER (WHERE isodow(ts) = 6) AS "6",
       COUNT(*) FILTER (WHERE isodow(ts) = 7) AS "7"
FROM events
GROUP BY 1
""",
    tags=("A10", "A1", "F2"),
)
def a27_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`df.stat.crosstab` — the contingency-table shorthand (pairwise
    frequency of two categorical columns), headers derived from the
    data like pivot (a10) but with zero-filled cells and a combined
    `col1_col2` corner name by convention. Day-of-week is emitted as
    ISO 1-7 (Monday=1; Spark's `weekday`+1 == DuckDB's `isodow`) so
    both engines agree on header names. Same execution shape as a
    pivoted count: one hash aggregate over (type, dow) then a local
    transpose of the 7×5 cell grid — crosstab is for bounded×bounded
    domains only; at 100 TB the input scan dominates and the cell
    grid stays KB-sized. Crosstab derives its columns from OBSERVED
    values; the oracle's header set is the full 1-7 domain, so absent
    weekdays (possible on a narrow fixture) are padded with zero
    columns to keep the schema domain-stable."""
    e = load(spark, sf_dir, "events").select(
        "event_type", (F.weekday("ts") + 1).cast("string").alias("dow")
    )
    ct = e.stat.crosstab("event_type", "dow")
    for day in "1234567":
        if day not in ct.columns:
            ct = ct.withColumn(day, F.lit(0).cast("long"))
    return ct.select("event_type_dow", *list("1234567"))


@register(
    "f15_embedded_formats",
    oracle="""
WITH base AS (
  SELECT event_id, event_type,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
)
SELECT event_id,
       event_id AS parsed_id,
       event_type AS parsed_type,
       cents AS parsed_cents,
       'cents=' || CAST(cents AS VARCHAR) || '|' || 'type=' || event_type AS meta_entries,
       event_type AS map_type,
       TRUE AS roundtrip_ok
FROM base
""",
    tags=("F6", "F5", "S2"),
)
def f15_embedded_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedded-format scalar parsing — the functions for when a
    COLUMN contains a serialized record (log lines, K=V tags) rather
    than the file being CSV: `from_csv` parses a delimited string into
    a typed struct with a declared schema, `to_csv` round-trips it
    (pinned TRUE by the oracle), and `str_to_map` lifts k:v,k:v tags
    into a MapType (emitted as key-sorted entries, the deterministic
    cross-engine form) — f6's JSON family completed for the two other
    wire-text shapes. All row-local codegen'd maps, no shuffle; the
    cents column keeps the arithmetic integer-exact cross-engine."""
    e = load(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    line = F.concat_ws(",", F.col("event_id"), F.col("event_type"), cents)
    parsed = F.from_csv(line, F.lit("a BIGINT, b STRING, c BIGINT"))
    kv = F.concat(
        F.lit("type:"), F.col("event_type"), F.lit(",cents:"), cents.cast("string")
    )
    m = F.str_to_map(kv, F.lit(","), F.lit(":"))
    back = F.to_csv(F.struct(
        parsed["a"].alias("a"), parsed["b"].alias("b"), parsed["c"].alias("c")
    ))
    return e.select(
        "event_id",
        parsed["a"].alias("parsed_id"),
        parsed["b"].alias("parsed_type"),
        parsed["c"].alias("parsed_cents"),
        F.array_join(
            F.array_sort(
                F.transform(
                    F.map_entries(m),
                    lambda e: F.concat(e["key"], F.lit("="), e["value"]),
                )
            ),
            "|",
        ).alias("meta_entries"),
        F.element_at(m, "type").alias("map_type"),
        (back == line).alias("roundtrip_ok"),
    )


@register(
    "j14_null_aware_anti_join",
    oracle="""
SELECT
  (SELECT COUNT(*) FROM customer
   WHERE c_custkey NOT IN (SELECT NULLIF(o_custkey, 7) FROM orders)) AS n_with_null_in_set,
  (SELECT COUNT(*) FROM customer
   WHERE c_custkey NOT IN (SELECT NULLIF(o_custkey, 7) FROM orders
                           WHERE NULLIF(o_custkey, 7) IS NOT NULL)) AS n_null_filtered,
  (SELECT COUNT(*) FROM customer
   WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c_custkey)) AS n_not_exists
""",
    tags=("J4", "P3", "S5"),
)
def j14_null_aware_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-aware anti join — the `NOT IN (subquery)` three-valued-
    logic trap, executed correctly: when the subquery produces even
    ONE NULL (synthesized here via NULLIF on custkey 7), `x NOT IN
    (...)` is never TRUE and the count is 0; filtering the NULL
    restores the expected complement; `NOT EXISTS` (the j4 left-anti
    plan) differs from NOT IN exactly when NULLs are present. Spark
    plans the null-aware case as a single-key NAAJ broadcast (not a
    row-per-row nested loop) — ANSI semantics without the O(n·m)
    cost; all three counts are pinned by the oracle so an engine that
    'optimized' NOT IN into a plain anti join would fail the hash."""
    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql(
        """
        SELECT
          (SELECT COUNT(*) FROM customer
           WHERE c_custkey NOT IN (SELECT NULLIF(o_custkey, 7) FROM orders)) AS n_with_null_in_set,
          (SELECT COUNT(*) FROM customer
           WHERE c_custkey NOT IN (SELECT NULLIF(o_custkey, 7) FROM orders
                                   WHERE NULLIF(o_custkey, 7) IS NOT NULL)) AS n_null_filtered,
          (SELECT COUNT(*) FROM customer
           WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c_custkey)) AS n_not_exists
        """
    )


@register(
    "ud16_udtf_table_argument",
    oracle="""
WITH o AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rt
  FROM events
), runs AS (
  SELECT user_id, event_type, rn - rt AS grp, COUNT(*) AS streak
  FROM o GROUP BY 1, 2, 3
), counts AS (
  SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY 1
)
SELECT r.user_id, c.n_events, MAX(r.streak) AS max_streak
FROM runs r JOIN counts c USING (user_id)
GROUP BY 1, 2
""",
    tags=("UD7", "UD4", "W1"),
)
def ud16_udtf_table_argument(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF with a TABLE argument (Spark 4): `my_udtf(TABLE(t)
    PARTITION BY user_id ORDER BY ts)` streams each user's events, in
    event-time order, through ONE stateful UDTF instance — arbitrary
    sequential per-group logic (here: longest consecutive same-type
    streak) invocable from SQL, the declarative face of ud4's grouped
    map. The engine owns the shuffle and the ordering; the Python
    class owns only per-partition state, so the operator scales
    exactly like any keyed aggregation (one group's rows stream
    through, never materialized as a whole). The class is defined
    in-function so cloudpickle ships it by value — no worker-side
    import of this repo (the round-3 data-source lesson). Oracle:
    the gaps-and-islands window formulation."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="user_id bigint, n_events bigint, max_streak bigint")
    class StreakStats:
        def __init__(self) -> None:
            self.user = None
            self.n = 0
            self.prev_type = None
            self.cur = 0
            self.best = 0

        def eval(self, row) -> None:
            self.user = row["user_id"]
            self.n += 1
            if row["event_type"] == self.prev_type:
                self.cur += 1
            else:
                self.cur = 1
                self.prev_type = row["event_type"]
            if self.cur > self.best:
                self.best = self.cur

        def terminate(self):
            if self.user is not None:
                yield self.user, self.n, self.best

    spark.udtf.register("bdps_streak_stats", StreakStats)
    register_views(spark, sf_dir, ("events",))
    return spark.sql(
        """
        SELECT user_id, n_events, max_streak
        FROM bdps_streak_stats(TABLE(events) PARTITION BY user_id ORDER BY (ts, event_id))
        """
    )


@register(
    "a28_grouping_id",
    oracle="""
SELECT l_returnflag, l_linestatus,
       2 * GROUPING(l_returnflag) + GROUPING(l_linestatus) AS gid,
       GROUPING(l_returnflag) AS is_flag_total,
       GROUPING(l_linestatus) AS is_status_total,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    tags=("A9", "A1"),
)
def a28_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`grouping_id()` / `grouping()` over a rollup: the bitmask that
    tells subtotal rows apart from data rows whose key column is
    genuinely NULL — without it, rollup output is ambiguous the
    moment a grouping column is nullable (the a9 family shows the
    subtotals; this shows the disambiguator). gid here is
    2·grouping(flag) + grouping(status) — spelled out identically on
    both engines so the bit order is pinned rather than inherited
    from either engine's grouping_id() convention."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus").agg(
            (2 * F.grouping("l_returnflag") + F.grouping("l_linestatus")).alias("gid"),
            F.grouping("l_returnflag").alias("is_flag_total"),
            F.grouping("l_linestatus").alias("is_status_total"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
