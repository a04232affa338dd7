"""Scalar-function families (SURVEY.md §2.8 F1-F7).

All expressions are JVM built-ins inside whole-stage codegen — zero
Python-boundary crossings. Dialect traps handled per family:
regexp_replace is all-matches in Spark but first-match in DuckDB (→ 'g'
flag in the oracle); Spark dayofweek is 1-based Sunday, DuckDB 0-based
(→ +1 in the oracle); double→string formatting is never emitted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_programming_spark.registry import register
from big_data_programming_spark.sources.loaders import load


@register(
    "f1_string_funcs",
    oracle="""
SELECT p_partkey,
       LOWER(p_name) AS name_lower,
       UPPER(p_brand) AS brand_upper,
       SUBSTRING(p_name, 1, 8) AS name_prefix,
       LENGTH(p_name) AS name_len,
       CONCAT_WS('|', p_brand, p_type) AS brand_type,
       LPAD(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
       INSTR(p_name, 'a') AS first_a,
       REGEXP_EXTRACT(p_brand, '([0-9]+)', 1) AS brand_num,
       REGEXP_REPLACE(p_name, '[aeiou]', '_', 'g') AS devoweled,
       CASE WHEN REGEXP_MATCHES(p_name, '^[a-z]+ ') THEN 1 ELSE 0 END AS starts_word,
       LEVENSHTEIN(p_brand, 'Brand#00') AS brand_dist,
       PRINTF('%s/%03d', p_type, p_size) AS type_size,
       TRIM(CONCAT('  ', p_type, ' ')) AS trimmed
FROM part
""",
    tags=("F1",),
)
def f1_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family: case, substring, pad, concat, regex (POSIX-simple
    patterns only — Java vs RE2 agree on these), edit distance, printf."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.instr(F.col("p_name"), "a").alias("first_a"),
        F.regexp_extract("p_brand", r"([0-9]+)", 1).alias("brand_num"),
        F.regexp_replace("p_name", r"[aeiou]", "_").alias("devoweled"),
        F.when(F.col("p_name").rlike(r"^[a-z]+ "), 1).otherwise(0).alias("starts_word"),
        F.levenshtein("p_brand", F.lit("Brand#00")).alias("brand_dist"),
        F.format_string("%s/%03d", F.col("p_type"), F.col("p_size")).alias("type_size"),
        F.trim(F.concat(F.lit("  "), F.col("p_type"), F.lit(" "))).alias("trimmed"),
    )


@register(
    "f2_datetime_funcs",
    oracle="""
SELECT o_orderkey,
       CAST(YEAR(o_orderdate) AS INTEGER) AS yr,
       CAST(MONTH(o_orderdate) AS INTEGER) AS mo,
       CAST(DAY(o_orderdate) AS INTEGER) AS dom,
       CAST(DAYOFWEEK(o_orderdate) + 1 AS INTEGER) AS dow,
       CAST(QUARTER(o_orderdate) AS INTEGER) AS qtr,
       CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start,
       CAST(o_orderdate AS DATE) + 30 AS due_date,
       DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS days_to_y2k,
       LAST_DAY(CAST(o_orderdate AS DATE)) AS month_end,
       CAST(EPOCH(o_orderdate) AS BIGINT) AS epoch_sec
FROM orders
WHERE o_orderkey <= 2000
""",
    tags=("F2",),
)
def f2_datetime_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time family on the midnight-timestamp order dates."""
    o = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.filter(F.col("o_orderkey") <= 2000).select(
        "o_orderkey",
        F.year(d).alias("yr"),
        F.month(d).alias("mo"),
        F.dayofmonth(d).alias("dom"),
        F.dayofweek(d).alias("dow"),
        F.quarter(d).alias("qtr"),
        F.date_trunc("month", d).cast("timestamp_ntz").alias("month_start"),
        F.date_add(d.cast("date"), 30).alias("due_date"),
        F.datediff(F.lit("2000-01-01").cast("date"), d.cast("date")).alias("days_to_y2k"),
        F.last_day(d.cast("date")).alias("month_end"),
        F.unix_seconds(d.cast("timestamp")).alias("epoch_sec"),
    )


@register(
    "f3_math_funcs",
    oracle="""
SELECT l_orderkey, l_linenumber,
       ROUND(l_extendedprice, 1) AS price_r1,
       CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
       CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil,
       ABS(l_discount - 0.05) AS disc_dev,
       l_quantity * l_quantity AS qty_sq,
       SQRT(l_extendedprice) AS price_sqrt,
       ROUND(LN(l_extendedprice + 1.0), 6) AS price_ln,
       ROUND(EXP(l_discount), 6) AS disc_exp,
       CAST((CAST(l_orderkey AS BIGINT) % 7 + 7) % 7 AS BIGINT) AS key_mod7,
       CAST(SIGN(l_discount - 0.05) AS BIGINT) AS disc_sign,
       GREATEST(l_quantity, 25.0) AS qty_hi,
       LEAST(l_quantity, 25.0) AS qty_lo
FROM lineitem
WHERE l_orderkey <= 1000
""",
    tags=("F3",),
)
def f3_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family. sqrt/abs/floor/ceil are IEEE-exact in both engines;
    ln/exp are libm calls that can differ in the last ulp → rounded to
    6 dp on both sides. pmod is spelled ((x%n)+n)%n for the oracle."""
    li = load(spark, sf_dir, "lineitem")
    price, disc, qty = F.col("l_extendedprice"), F.col("l_discount"), F.col("l_quantity")
    return li.filter(F.col("l_orderkey") <= 1000).select(
        "l_orderkey",
        "l_linenumber",
        F.round(price, 1).alias("price_r1"),
        F.floor(price).alias("price_floor"),
        F.ceil(price).alias("price_ceil"),
        F.abs(disc - 0.05).alias("disc_dev"),
        (qty * qty).alias("qty_sq"),
        F.sqrt(price).alias("price_sqrt"),
        F.round(F.log(price + 1.0), 6).alias("price_ln"),
        F.round(F.exp(disc), 6).alias("disc_exp"),
        F.pmod(F.col("l_orderkey"), F.lit(7)).cast("bigint").alias("key_mod7"),
        F.signum(disc - 0.05).cast("long").alias("disc_sign"),
        F.greatest(qty, F.lit(25.0)).alias("qty_hi"),
        F.least(qty, F.lit(25.0)).alias("qty_lo"),
    )


@register(
    "f4_array_funcs",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
)
SELECT doc_id,
       LEN(tokens) AS n_tokens,
       LEN(list_distinct(tokens)) AS n_unique,
       array_to_string(list_slice(tokens, 1, 3), '|') AS first3,
       list_contains(tokens, 'the') AS has_the,
       CASE WHEN tokens IS NULL THEN NULL ELSE COALESCE(array_to_string(list_sort(list_distinct(list_filter(tokens, t -> LENGTH(t) > 5))), '|'), '') END AS long_tokens,
       array_to_string(list_transform(list_slice(tokens, 1, 3), t -> UPPER(t)), '|') AS first3_upper,
       list_reduce(list_transform(tokens, t -> LENGTH(t)), (a, b) -> a + b) AS total_chars,
       LEN(list_filter(tokens, t -> t = 'data')) > 0 AS mentions_data
FROM toks
""",
    tags=("F4", "L4"),
)
def f4_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family + higher-order functions over tokenized documents.
    HOFs (transform/filter/aggregate/exists) run as codegen'd lambda
    expressions — the JVM-side alternative to a Python UDF."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("tokens"))
    return toks.select(
        "doc_id",
        F.size("tokens").alias("n_tokens"),
        F.size(F.array_distinct("tokens")).alias("n_unique"),
        F.array_join(F.slice("tokens", 1, 3), "|").alias("first3"),
        F.array_contains("tokens", "the").alias("has_the"),
        F.array_join(
            F.sort_array(F.array_distinct(F.filter("tokens", lambda t: F.length(t) > 5))),
            "|",
        ).alias("long_tokens"),
        F.array_join(
            F.transform(F.slice("tokens", 1, 3), lambda t: F.upper(t)), "|"
        ).alias("first3_upper"),
        F.aggregate(
            F.transform("tokens", lambda t: F.length(t)), F.lit(0), lambda a, b: a + b
        ).alias("total_chars"),
        F.exists("tokens", lambda t: t == F.lit("data")).alias("mentions_data"),
    )


@register(
    "f5_struct_map",
    oracle="""
SELECT c_custkey,
       struct_pack(nation := c_nationkey, segment := c_mktsegment).nation AS s_nation,
       struct_pack(nation := c_nationkey, segment := c_mktsegment).segment AS s_segment,
       MAP(['balance'], [c_acctbal])['balance'][1] AS m_balance,
       CAST(CARDINALITY(MAP(['balance', 'key'], [c_acctbal, CAST(c_custkey AS DOUBLE)])) AS BIGINT) AS m_size
FROM customer
""",
    tags=("F5",),
)
def f5_struct_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct/map construction and field access. Outputs are re-flattened
    to scalars so the cross-engine hash compares primitives, not each
    engine's nested-type rendering."""
    c = load(spark, sf_dir, "customer")
    s = F.struct(F.col("c_nationkey").alias("nation"), F.col("c_mktsegment").alias("segment"))
    m = F.create_map(F.lit("balance"), F.col("c_acctbal"))
    m2 = F.create_map(
        F.lit("balance"), F.col("c_acctbal"), F.lit("key"), F.col("c_custkey").cast("double")
    )
    return c.select(
        "c_custkey",
        s.getField("nation").alias("s_nation"),
        s.getField("segment").alias("s_segment"),
        F.element_at(m, "balance").alias("m_balance"),
        F.size(m2).alias("m_size"),
    )


@register(
    "f6_json_funcs",
    oracle="""
SELECT event_id,
       CAST(json_extract(props, '$.k') AS INTEGER) AS k_typed,
       json_extract_string(props, '$.k') AS k_str,
       CAST(json_valid(props) AS BOOLEAN) AS is_valid
FROM events
""",
    tags=("F6",),
)
def f6_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the semi-structured events.props payload:
    typed via from_json schema, stringly via get_json_object."""
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.from_json("props", "k INT").getField("k").alias("k_typed"),
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$").isNotNull().alias("is_valid"),
    )


@register(
    "f7_hash_funcs",
    oracle="""
SELECT c_custkey,
       MD5(c_name) AS name_md5,
       SHA256(c_name) AS name_sha256,
       LENGTH(MD5(c_name)) AS md5_len
FROM customer
""",
    tags=("F7",),
)
def f7_hash_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable cryptographic hashes (md5/sha256 agree across engines;
    xxhash64 and crc32 are engine-specific and covered by unit tests)."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.md5(F.col("c_name").cast("binary")).alias("name_md5"),
        F.sha2(F.col("c_name").cast("binary"), 256).alias("name_sha256"),
        F.length(F.md5(F.col("c_name").cast("binary"))).alias("md5_len"),
    )


@register(
    "f8_try_funcs",
    oracle="""
SELECT event_id,
       CASE WHEN user_id % 3 = 0 THEN NULL
            ELSE value / CAST(user_id % 3 AS DOUBLE) END AS safe_ratio,
       TRY_CAST(event_type AS INTEGER) AS bogus_int,
       TRY_CAST(event_type AS TIMESTAMP) AS bogus_ts,
       string_split(event_type, '')[99] AS oob_char
FROM events
""",
    tags=("F8", "F1", "F3"),
)
def f8_try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic/casts (Spark 4 runs ANSI mode ON, so plain
    division by zero or a bad cast *throws*): the try_* family turns
    per-row failures into NULLs — the dirty-data posture every large
    ETL needs, since one malformed row must not kill a 1000-executor
    job. Oracle spells the same semantics via CASE/TRY_CAST."""
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.try_divide(F.col("value"), (F.col("user_id") % 3).cast("double")).alias(
            "safe_ratio"
        ),
        F.col("event_type").try_cast("int").alias("bogus_int"),
        F.try_to_timestamp(F.col("event_type")).cast("timestamp_ntz").alias("bogus_ts"),
        F.try_element_at(F.split(F.col("event_type"), ""), F.lit(99)).alias("oob_char"),
    )


@register(
    "f9_url_funcs",
    oracle="""
WITH urls AS (
  SELECT doc_id,
         'https://' || source || '.example.com/docs/' || lang || '/'
           || CAST(doc_id AS VARCHAR) || '?ref=' || source
           || '&page=' || CAST(doc_id % 7 AS VARCHAR) AS url
  FROM documents
)
SELECT doc_id,
       regexp_extract(url, 'https?://([^/]+)', 1) AS host,
       regexp_extract(url, 'https?://[^/]+([^?]*)', 1) AS path,
       regexp_extract(url, '\\?(.*)$', 1) AS query,
       regexp_extract(url, '[?&]page=([^&]*)', 1) AS page_param,
       regexp_extract(url, 'https?://(?:[^/.]+\\.)*([^/.]+\\.[^/.]+)(?:/|$)', 1)
         AS reg_domain
FROM urls
""",
    tags=("F9", "F1"),
)
def f9_url_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL dissection — host / path / query / named query param /
    registrable domain — via Spark's native `parse_url` (plus a regexp
    for the domain tail). Web-crawl curation runs this on every record:
    per-domain caps, blocklists, and dedup keys all start from these
    fields. URLs are synthesized deterministically from the fixture
    columns (corpus has none), so both engines parse identical inputs;
    the oracle twins `parse_url` with POSIX regexps."""
    d = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("lang"), F.lit("/"), F.col("doc_id").cast("string"),
        F.lit("?ref="), F.col("source"),
        F.lit("&page="), (F.col("doc_id") % 7).cast("string"),
    )
    return d.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("page")).alias("page_param"),
        F.regexp_extract(
            url, r"https?://(?:[^/.]+\.)*([^/.]+\.[^/.]+)(?:/|$)", 1
        ).alias("reg_domain"),
    )


@register(
    "f10_bitwise_funcs",
    oracle="""
SELECT event_type,
       bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT)) AS presence_mask,
       bit_count(bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT))) AS slots_used,
       bit_xor(user_id) AS xor_digest,
       bit_and(user_id | 1) AS and_low_bits
FROM events
GROUP BY event_type
""",
    tags=("F10", "F3", "A1"),
)
def f10_bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar + bitmap-aggregate surface: build a 32-slot
    presence bitmap per event type (`shiftleft` + `bit_or`), popcount
    it (`bit_count`), and fold XOR/AND digests. The bitmap-rollup
    idiom is the cheap exact-distinct for SMALL key domains — a
    64-bit mask per group instead of a distinct shuffle — and, like
    the HLL sketch (a15), it merges associatively across partitions.
    All integer ops: bit-identical across engines by construction."""
    e = load(spark, sf_dir, "events")
    # PySpark's shiftleft() only takes a literal shift; the SQL form
    # accepts a per-row column
    slot = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))")
    return e.groupBy("event_type").agg(
        F.bit_or(slot).alias("presence_mask"),
        F.bit_count(F.bit_or(slot)).alias("slots_used"),
        F.bit_xor("user_id").alias("xor_digest"),
        F.bit_and(F.col("user_id").bitwiseOR(F.lit(1))).alias("and_low_bits"),
    )


@register(
    "f6b_variant_funcs",
    oracle="""
SELECT event_id,
       CAST(json_extract(props, '$.k') AS INTEGER) AS k_int,
       CAST(json_extract(props, '$.k') AS VARCHAR) AS k_str,
       CAST(json_extract(props, '$.k') AS DOUBLE) AS k_dbl,
       'OBJECT<k: BIGINT>' AS var_schema,
       CAST(NULL AS INTEGER) AS missing_int
FROM events
""",
    tags=("F6", "P4"),
)
def f6b_variant_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path for semi-structured data: `parse_json`
    shreds the JSON payload into the binary VARIANT encoding once,
    then `variant_get` does typed path extraction without re-parsing.

    At 100 TB this is the semi-structured scale play: VARIANT columns
    persist as shredded binary (parse cost paid once at ingest, not
    per query), extraction stays in codegen, and `try_variant_get`
    gives the ANSI-safe NULL-on-miss behavior dirty payloads need.
    The oracle re-derives each typed value with DuckDB json_extract;
    `schema_of_variant` is asserted against the known payload shape
    (every props row is {"k": <int>})."""
    e = load(spark, sf_dir, "events")
    v = F.parse_json("props")
    return e.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("k_int"),
        F.variant_get(v, "$.k", "string").alias("k_str"),
        F.variant_get(v, "$.k", "double").alias("k_dbl"),
        F.schema_of_variant(v).alias("var_schema"),
        F.try_variant_get(v, "$.missing", "int").alias("missing_int"),
    )


@register(
    "f11_crypto_funcs",
    oracle="""
SELECT doc_id,
       sha256(text) AS sha256_hex,
       to_base64(encode(substr(text, 1, 12))) AS b64_prefix,
       TRUE AS aes_roundtrip_ok
FROM documents
WHERE doc_id < 50
""",
    tags=("F7", "F1"),
)
def f11_crypto_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic scalar functions (F7 extension): SHA-256 content
    fingerprints, base64 transport encoding, and an AES
    encrypt→decrypt round trip proved in-plan (ECB keeps it
    deterministic — demo only; production row-level crypto uses GCM,
    whose random IV is exactly what makes it non-oracle-checkable).
    The oracle recomputes sha256/base64 and pins the round trip to
    literal TRUE; crc32/xxhash64 live in f7 (no DuckDB twins)."""
    key = F.lit("0123456789abcdef")
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return d.select(
        "doc_id",
        F.sha2(F.col("text").cast("binary"), 256).alias("sha256_hex"),
        F.base64(F.substring(F.col("text"), 1, 12).cast("binary")).alias("b64_prefix"),
        (
            F.aes_decrypt(
                F.aes_encrypt(F.col("text").cast("binary"), key, F.lit("ECB")),
                key,
                F.lit("ECB"),
            ).cast("string")
            == F.col("text")
        ).alias("aes_roundtrip_ok"),
    )


@register(
    "f12_datetime_extended",
    oracle="""
SELECT event_id,
       CAST(WEEK(ts) AS INTEGER) AS iso_week,
       CAST(DAYOFYEAR(ts) AS INTEGER) AS doy,
       CAST(HOUR(ts) AS INTEGER) AS hr,
       CAST(MINUTE(ts) AS INTEGER) AS mi,
       CAST(SECOND(ts) AS INTEGER) AS sec,
       strftime(ts, '%Y-%m') AS year_month,
       CAST(CAST(ts AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus_2mo,
       CAST(CAST(ts AS DATE) +
            CAST(CASE WHEN (1 - ISODOW(CAST(ts AS DATE)) + 7) % 7 = 0 THEN 7
                      ELSE (1 - ISODOW(CAST(ts AS DATE)) + 7) % 7 END AS INTEGER)
            AS DATE) AS next_monday,
       make_date(CAST(YEAR(ts) AS INTEGER), CAST(MONTH(ts) AS INTEGER), 1)
         AS month_first,
       CAST(DATE_TRUNC('quarter', CAST(ts AS DATE)) AS DATE) AS quarter_start,
       EPOCH_MS(ts) AS epoch_ms
FROM events
WHERE event_id <= 2000
""",
    tags=("F2",),
)
def f12_datetime_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended date/time family on real (intra-day) event
    timestamps: ISO week/day-of-year ordinals, time-of-day parts,
    formatting, calendar arithmetic (add_months clamps end-of-month
    identically in both engines; next_day spelled as ISO-dow modular
    arithmetic in the oracle), constructors (make_date), quarter
    truncation, and epoch-millis export. All pure row-local maps —
    codegen'd, shuffle-free, pushdown-transparent."""
    e = load(spark, sf_dir, "events")
    ts = F.col("ts")
    return e.filter(F.col("event_id") <= 2000).select(
        "event_id",
        F.weekofyear(ts).alias("iso_week"),
        F.dayofyear(ts).alias("doy"),
        F.hour(ts).alias("hr"),
        F.minute(ts).alias("mi"),
        F.second(ts).alias("sec"),
        F.date_format(ts, "yyyy-MM").alias("year_month"),
        F.add_months(ts.cast("date"), 2).alias("plus_2mo"),
        F.next_day(ts.cast("date"), "Mon").alias("next_monday"),
        F.make_date(F.year(ts), F.month(ts), F.lit(1)).alias("month_first"),
        F.trunc(ts.cast("date"), "quarter").alias("quarter_start"),
        F.unix_millis(ts.cast("timestamp")).alias("epoch_ms"),
    )


@register(
    "f13_string_extended",
    oracle="""
SELECT p_partkey,
       CASE WHEN p_name IS NULL THEN NULL ELSE COALESCE(array_to_string(regexp_extract_all(p_name, '[a-z]{5,}'), '|'), '') END AS long_words,
       LEN(regexp_extract_all(p_name, '[aeiou]')) AS n_vowels,
       split_part(p_type, ' ', 1) AS type_head,
       split_part(p_type, ' ', -1) AS type_tail,
       reverse(p_brand) AS brand_rev,
       repeat('*', p_size % 5 + 1) AS size_stars,
       translate(p_name, 'aeiou', '.....') AS dotted,
       CASE WHEN p_name LIKE '%steel%' THEN 1 ELSE 0 END AS has_steel,
       CASE WHEN starts_with(p_brand, 'Brand#1') THEN 1 ELSE 0 END AS brand1x,
       CASE WHEN ends_with(p_type, 'd') THEN 1 ELSE 0 END AS ends_d
FROM part
WHERE p_partkey <= 1000
""",
    tags=("F1",),
)
def f13_string_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended string family beyond f1: multi-match extraction
    (`regexp_extract_all` — the list-out regex that powers shingling
    and PII sweeps), field access by delimiter from both ends
    (`substring_index`, spelled split_part in the oracle), reverse /
    repeat / translate transforms, and LIKE / prefix / suffix
    predicates. POSIX-simple patterns only, same rationale as f1
    (Java and RE2 regex dialects agree on these); everything is a
    row-local codegen'd map."""
    p = load(spark, sf_dir, "part")
    return p.filter(F.col("p_partkey") <= 1000).select(
        "p_partkey",
        F.array_join(
            F.expr("regexp_extract_all(p_name, '[a-z]{5,}', 0)"), "|"
        ).alias("long_words"),
        F.size(F.expr("regexp_extract_all(p_name, '[aeiou]', 0)")).alias("n_vowels"),
        F.substring_index("p_type", " ", 1).alias("type_head"),
        F.substring_index("p_type", " ", -1).alias("type_tail"),
        F.reverse("p_brand").alias("brand_rev"),
        F.repeat(F.lit("*"), (F.col("p_size") % 5 + 1).cast("int")).alias(
            "size_stars"
        ),
        F.translate("p_name", "aeiou", ".....").alias("dotted"),
        F.when(F.col("p_name").like("%steel%"), 1).otherwise(0).alias("has_steel"),
        F.when(F.startswith("p_brand", F.lit("Brand#1")), 1)
        .otherwise(0)
        .alias("brand1x"),
        F.when(F.endswith("p_type", F.lit("d")), 1).otherwise(0).alias("ends_d"),
    )
