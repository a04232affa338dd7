"""Pipeline-infrastructure operators (SURVEY.md §2.12 X125-X128):
bloom-filter semi-join prefiltering, zero-extra-pass observed metrics,
algebraic partial-aggregate rollup maintenance, and per-stratum
deterministic sampling.

These are the ops that make a 100 TB pipeline *operable*: pre-filtering
a fact scan with a broadcastable membership sketch instead of a shuffle
semi-join, collecting pipeline metrics inside the query that already
runs (``df.observe`` — no second scan), maintaining month-to-date
rollups from daily partials without re-reading history, and sampling
each stratum at its own rate without engine RNG.

Cross-engine determinism: every "random" bit here is md5 arithmetic
(identical in Spark and DuckDB), so even the bloom filter's FALSE
POSITIVES are bit-identical cross-engine and fully oracle-paired —
unlike Spark's internal ``bloom_filter_agg`` (not exposed as a SQL
routine in 4.1.2; its runtime-filter form is exercised in
tests/test_plans.py instead). Bloom words are 32-bit (stored in
BIGINT): the max shift is 31, so shift/overflow semantics cannot
diverge between engines the way ``1 << 63`` would.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from big_data_programming_spark.functions.canonical import (
    DEC,
    davg,
    davg_sql,
    dbl_sql,
    dsum,
    dsum_sql,
)
from big_data_programming_spark.registry import register
from big_data_programming_spark.sources.loaders import load

#: Bloom geometry: m = 1024 bits as 32 words x 32 bits, k = 3 hashes.
#: Deliberately SMALL so the FP audit is non-trivial at sf0.01 and the
#: saturation failure mode is visible at sf0.1 (reduction_pct decays as
#: the build set outgrows m) — production sizes m ≈ 14.4·n bits for 1%
#: FP from an approx_count_distinct of the build side.
_M_BITS = 1024
_WORD = 32

#: k=3 bit positions from disjoint 8-hex-char md5 slices (1-8, 9-16,
#: 17-24); 8 hex chars < 2^32 fits BIGINT exactly in both engines.
_SLICES = (1, 9, 17)


def _positions(key: Column) -> list[Column]:
    """Three bloom bit positions in [0, m) from md5(key), engine-portable."""
    return [
        F.conv(F.substring(F.md5(key), s, 8), 16, 10).cast("long") % _M_BITS
        for s in _SLICES
    ]


def _oracle_pos(key_sql: str, s: int) -> str:
    return (
        f"CAST(CONCAT('0x', SUBSTRING(md5({key_sql}), {s}, 8)) AS BIGINT)"
        f" % {_M_BITS}"
    )


def bloom_build(keys: DataFrame, key_col: str) -> DataFrame:
    """(word_idx, bits) bloom table — at most m/32 rows, broadcastable.

    Build is one explode (3 rows per key) + one 32-group bit_or
    aggregate: map-side combine reduces each partition to ≤32 rows
    before the shuffle, so build cost is one scan of the key set at
    any scale."""
    pos = F.explode(F.array(*_positions(F.col(key_col)))).alias("p")
    return (
        keys.select(pos)
        .select(
            (F.col("p") / _WORD).cast("long").alias("word_idx"),
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(p % {_WORD} AS INT))")
            .alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_probe(facts: DataFrame, key: Column, bloom: DataFrame) -> DataFrame:
    """``facts`` + a ``bloom_pass`` flag, via 3 broadcast 1:1 left joins.

    No explode and no shuffle of the fact side: each of the k probes is
    an in-row (word, mask) pair joined against the ≤32-row broadcast
    bloom table, so the fact scan stays map-side; a missing word row
    means those bits were never set (COALESCE 0)."""
    out = facts
    cond = F.lit(True)
    for i, p in enumerate(_positions(key)):
        b = bloom.select(
            F.col("word_idx").alias(f"w{i}"), F.col("bits").alias(f"bits{i}")
        )
        out = (
            out.withColumn(f"_p{i}", p)
            .withColumn(f"_w{i}", (F.col(f"_p{i}") / _WORD).cast("long"))
            .withColumn(
                f"_m{i}",
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), CAST(_p{i} % {_WORD} AS INT))"
                ),
            )
        )
        out = out.join(F.broadcast(b), out[f"_w{i}"] == b[f"w{i}"], "left")
        cond = cond & (
            F.coalesce(F.col(f"bits{i}"), F.lit(0)).bitwiseAND(F.col(f"_m{i}"))
            == F.col(f"_m{i}")
        )
    helper = [c for i in range(len(_SLICES))
              for c in (f"_p{i}", f"_w{i}", f"_m{i}", f"w{i}", f"bits{i}")]
    return out.withColumn("bloom_pass", cond).drop(*helper)


_B = {f"p{i}": _oracle_pos("CAST(o_custkey AS VARCHAR)", s)
      for i, s in enumerate(_SLICES)}


@register(
    "po1_bloom_prefilter",
    oracle=f"""
WITH keys AS (
  SELECT DISTINCT c_custkey FROM customer WHERE c_nationkey = 3
), pos AS (
  SELECT u.p FROM keys, UNNEST([
    {_oracle_pos('CAST(c_custkey AS VARCHAR)', 1)},
    {_oracle_pos('CAST(c_custkey AS VARCHAR)', 9)},
    {_oracle_pos('CAST(c_custkey AS VARCHAR)', 17)}]) AS u(p)
), bloom AS (
  SELECT p // {_WORD} AS word_idx,
         CAST(BIT_OR(CAST(1 AS BIGINT) << CAST(p % {_WORD} AS INT)) AS BIGINT)
           AS bits
  FROM pos GROUP BY 1
), probed AS (
  SELECT o.o_orderkey,
         ({_B['p0']}) AS p0, ({_B['p1']}) AS p1, ({_B['p2']}) AS p2,
         o.o_custkey IN (SELECT c_custkey FROM keys) AS is_member
  FROM orders o
), flagged AS (
  SELECT p.is_member,
         (COALESCE(b0.bits, 0) & (CAST(1 AS BIGINT) << CAST(p0 % {_WORD} AS INT)))
           = (CAST(1 AS BIGINT) << CAST(p0 % {_WORD} AS INT))
         AND (COALESCE(b1.bits, 0) & (CAST(1 AS BIGINT) << CAST(p1 % {_WORD} AS INT)))
           = (CAST(1 AS BIGINT) << CAST(p1 % {_WORD} AS INT))
         AND (COALESCE(b2.bits, 0) & (CAST(1 AS BIGINT) << CAST(p2 % {_WORD} AS INT)))
           = (CAST(1 AS BIGINT) << CAST(p2 % {_WORD} AS INT)) AS bloom_pass
  FROM probed p
  LEFT JOIN bloom b0 ON b0.word_idx = p.p0 // {_WORD}
  LEFT JOIN bloom b1 ON b1.word_idx = p.p1 // {_WORD}
  LEFT JOIN bloom b2 ON b2.word_idx = p.p2 // {_WORD}
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bloom_pass,
       CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
         AS n_members,
       CAST(SUM(CASE WHEN bloom_pass AND NOT is_member THEN 1 ELSE 0 END)
         AS BIGINT) AS n_false_pos,
       CAST(COUNT(*) - SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS reduction_share
FROM flagged
""",
    tags=("J3", "F10", "F7", "A1"),
)
def po1_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join prefilter with a full FP audit: build a
    1024-bit / 3-hash bloom over nation-3 customers, probe every order
    by custkey, and compare the bloom's verdict with the exact semi-join
    — n_false_pos and reduction_share quantify what the sketch buys.

    Scale shape: the bloom is a ≤32-row broadcast, so the fact side is
    pre-filtered map-side with NO shuffle — at 100 TB this is the
    semi-join-reduction pattern (scan → cheap membership test → exact
    join on the ~member-sized survivor set) that replaces shuffling the
    whole fact table; Spark's own runtime injection of exactly this
    (``bloom_filter_agg``/``might_contain`` around a shuffle join) is
    asserted in tests/test_plans.py. The no-false-negative guarantee
    (n_bloom_pass ⊇ members) is pinned in tests/test_pipeline_ops.py;
    the deliberately tiny m makes FP behaviour visible and the md5
    arithmetic makes it bit-identical in the DuckDB oracle."""
    cust = load(spark, sf_dir, "customer")
    keys = cust.filter(F.col("c_nationkey") == 3).select("c_custkey").distinct()
    bloom = bloom_build(
        keys.select(F.col("c_custkey").cast("string").alias("k")), "k"
    )
    orders = load(spark, sf_dir, "orders")
    probed = bloom_probe(
        orders.select("o_orderkey", "o_custkey"),
        F.col("o_custkey").cast("string"),
        bloom,
    )
    member = keys.select(F.col("c_custkey").alias("mk"))
    flagged = probed.join(
        F.broadcast(member), probed["o_custkey"] == member["mk"], "left"
    ).select(
        F.col("mk").isNotNull().alias("is_member"), "bloom_pass"
    )
    n = F.count(F.lit(1))
    npass = F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0))
    return flagged.agg(
        n.alias("n_orders"),
        npass.alias("n_bloom_pass"),
        F.sum(F.when(F.col("is_member"), 1).otherwise(0)).alias("n_members"),
        F.sum(
            F.when(F.col("bloom_pass") & ~F.col("is_member"), 1).otherwise(0)
        ).alias("n_false_pos"),
        ((n - npass).cast("double") / n).alias("reduction_share"),
    )


def observed_quality_gate(
    docs: DataFrame, min_chars: int = 200, min_tokens: int = 30
) -> tuple[DataFrame, Observation]:
    """Quality gate whose scan/reject metrics ride the SAME job via
    ``df.observe`` — zero extra passes. Returns (survivor per-lang
    profile, Observation); read ``obs.get`` after any action on the
    result. At 100 TB the alternative is a second full scan just to
    count rejects; observe() attaches the counters to the scan that
    already runs (metrics travel with task completion events, no
    shuffle, no collect)."""
    obs = Observation("quality_gate")
    passing = (F.col("n_chars") >= min_chars) & (
        F.size(F.split(F.col("text"), r"\s+")) >= min_tokens
    )
    watched = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_scanned"),
        F.sum(F.when(~passing, 1).otherwise(0)).alias("n_rejected"),
    )
    gated = watched.filter(passing)
    out = gated.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        davg(F.col("n_chars").cast("double")).alias("avg_chars"),
    )
    return out, obs


@register(
    "po2_observed_quality_gate",
    oracle=f"""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       {davg_sql('CAST(n_chars AS DOUBLE)')} AS avg_chars
FROM documents
WHERE n_chars >= 200 AND LEN(regexp_split_to_array(text, '\\s+')) >= 30
GROUP BY lang
""",
    tags=("A1", "P2", "F1"),
)
def po2_observed_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang survivor profile of the quality gate, with the gate's
    scan/reject counters observed inline (operators-style metrics
    without a second scan; the Observation equality vs the oracle is
    asserted in tests/test_pipeline_ops.py — this registered entry
    hash-checks the survivor profile)."""
    docs = load(spark, sf_dir, "documents")
    out, _obs = observed_quality_gate(docs)
    return out


@register(
    "po3_incremental_kpi_rollup",
    oracle=f"""
SELECT event_type,
       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       CAST(COUNT(*) AS BIGINT) AS total_events,
       {dsum_sql('value')} AS total_value,
       {davg_sql('value')} AS avg_value
FROM events
GROUP BY event_type
""",
    tags=("A1", "A13", "F2"),
)
def po3_incremental_kpi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-to-date KPI rollup maintained from DAILY PARTIAL
    aggregates: history days persist as (day, type, cnt, decimal-sum)
    partials; the newest day is re-aggregated from raw events; merging
    partials (SUM of counts, SUM of decimal sums) reproduces the full
    recompute BIT-EXACTLY because count/sum over DECIMAL are algebraic
    and order-free — that equality IS the oracle check here (the oracle
    recomputes from raw events).

    Scale shape: each refresh touches one day of raw data + |keys|·days
    partial rows; history raw data is never re-read. The decimal canon
    is what makes the merge safe — partial DOUBLE sums would drift with
    merge order. The newest-day split uses a 1-row broadcast max(day)
    (allowlisted tiny BNLJ), a scalar subquery in the oracle's terms."""
    ev = load(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"), "event_type", "value"
    )
    last = ev.agg(F.max("day").alias("last_day"))
    ev = ev.crossJoin(F.broadcast(last))

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("day", "event_type").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast(DEC)).alias("vsum"),
            F.count("value").alias("vcnt"),
        )

    hist = partials(ev.filter(F.col("day") < F.col("last_day")))
    fresh = partials(ev.filter(F.col("day") == F.col("last_day")))
    merged = hist.unionByName(fresh)
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("cnt").alias("total_events"),
        F.sum("vsum").cast("double").alias("total_value"),
        (F.sum("vsum").cast("double") / F.sum("vcnt")).alias("avg_value"),
    )


#: Per-stratum sampling rates: downsample the high-resource head hard,
#: keep half of everything else (literal so the oracle replays; at
#: scale this map is lm1's temperature weights joined broadcast).
_RATES = (("en", 0.1), ("de", 0.5), ("es", 0.5), ("fr", 0.5), ("zh", 0.5))
_RATE_VALUES = ", ".join(f"('{lang}', {r})" for lang, r in _RATES)


@register(
    "po4_stratified_hash_sample",
    oracle=f"""
WITH rates(lang, target_rate) AS (VALUES {_RATE_VALUES}),
s AS (
  SELECT d.lang, r.target_rate,
         CAST(CONCAT('0x', SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 8))
           AS BIGINT) < FLOOR(r.target_rate * 4294967296) AS keep
  FROM documents d JOIN rates r USING (lang)
)
SELECT lang, target_rate,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         AS realized_rate
FROM s GROUP BY lang, target_rate
""",
    tags=("P5", "J8", "A1"),
)
def po4_stratified_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: each language keeps its own
    rate (head languages downsampled 5×) via the md5-threshold test —
    doc_id's hash fraction under the stratum's cutoff. Rerun-, engine-
    and partitioning-stable, unlike ``sampleBy`` (RNG per partition);
    the integer threshold comparison (hash < floor(rate·2^32)) avoids
    any float comparison drift.

    Scale shape: rates are a broadcast map (here literals; in the full
    pipeline lm1's temperature weights), the filter is in-row on the
    scan — no shuffle until the audit aggregate, and the sample itself
    needs no aggregate at all. Membership stability under appends is
    what makes the sample reusable as a fixed eval slice."""
    rates = spark.createDataFrame(list(_RATES), ["lang", "target_rate"])
    docs = load(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
    keep = h.cast("long") < F.floor(F.col("target_rate") * F.lit(4294967296.0))
    s = docs.join(F.broadcast(rates), "lang").select(
        "lang", "target_rate", keep.alias("keep")
    )
    nkeep = F.sum(F.when(F.col("keep"), 1).otherwise(0))
    return s.groupBy("lang", "target_rate").agg(
        F.count(F.lit(1)).alias("n_total"),
        nkeep.alias("n_sampled"),
        (nkeep.cast("double") / F.count(F.lit(1))).alias("realized_rate"),
    )


@register(
    "po5_incremental_join_maintenance",
    oracle=f"""
SELECT c.c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {dsum_sql('o.o_totalprice')} AS total_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_nationkey
""",
    tags=("J1", "A1", "U1"),
)
def po5_incremental_join_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental maintenance of a JOIN materialization: with both
    sides receiving a batch (ΔA of orders, ΔB of customers), the
    delta of the join is the three delta-sized joins
    Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB; appending them to the stale
    materialization must equal the full recompute — which is exactly
    what the oracle does. po3 is the aggregate half of incremental
    view maintenance; this is the join half (counts and DECIMAL sums
    re-aggregate exactly over the union).

    Scale shape: each delta term joins a batch-sized side, so the
    refresh shuffles O(|Δ|) rows (broadcast the delta against the
    bucketed big side in production) instead of re-joining two 100 TB
    tables; the stale materialization is read, never re-derived. The
    %-bucket splits stand in for the arrival batches so both engines
    see identical inputs."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    a, da = o.filter(F.col("o_orderkey") % 10 != 9), o.filter(
        F.col("o_orderkey") % 10 == 9
    )
    b, db = c.filter(F.col("c_custkey") % 20 != 19), c.filter(
        F.col("c_custkey") % 20 == 19
    )

    def j(left: DataFrame, right: DataFrame) -> DataFrame:
        return left.join(
            right, left["o_custkey"] == right["c_custkey"]
        ).select("c_nationkey", "o_totalprice")

    merged = j(a, b).unionAll(j(da, b)).unionAll(j(a, db)).unionAll(j(da, db))
    return merged.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("o_totalprice").alias("total_price"),
    )


#: Count-Min geometry: depth 4 (one row per disjoint md5 slice), width
#: 256 — 1024 cells, broadcastable. Deliberately narrow so collisions
#: (the overestimate column) are visible at fixture scale; production
#: widths come from eps = e/width over the expected stream count.
_CM_DEPTH = 4
_CM_WIDTH = 256


def cm_col(key: Column, depth: int, width: int) -> Column:
    """CM cell column for one depth: md5 slice (1+8d, 8) mod width —
    shared by po6 and the streaming twin st28 so geometry can't
    drift."""
    h = F.conv(F.substring(F.md5(key), 1 + 8 * depth, 8), 16, 10)
    return (h.cast("long") % width).alias("col")


@register(
    "po6_countmin_heavy_hitters",
    oracle=f"""
WITH toks AS (
  SELECT u.token FROM documents, UNNEST(string_split(text, ' ')) AS u(token)
), counts AS (
  SELECT token, COUNT(*) AS n FROM toks GROUP BY token
), top AS (
  SELECT token, n FROM counts ORDER BY n DESC, token LIMIT 10
), depths AS (
  SELECT UNNEST([0, 1, 2, 3]) AS d
), cells AS (
  SELECT depths.d,
         CAST(CONCAT('0x', SUBSTRING(md5(token), 1 + 8 * depths.d, 8))
           AS BIGINT) % {_CM_WIDTH} AS col,
         COUNT(*) AS cnt
  FROM toks, depths GROUP BY 1, 2
), probes AS (
  SELECT t.token, t.n, depths.d,
         CAST(CONCAT('0x', SUBSTRING(md5(t.token), 1 + 8 * depths.d, 8))
           AS BIGINT) % {_CM_WIDTH} AS col
  FROM top t, depths
), est AS (
  SELECT p.token, MIN(c.cnt) AS cm_estimate
  FROM probes p JOIN cells c ON c.d = p.d AND c.col = p.col
  GROUP BY p.token
)
SELECT t.token, CAST(t.n AS BIGINT) AS exact_count,
       CAST(e.cm_estimate AS BIGINT) AS cm_estimate,
       CAST(e.cm_estimate - t.n AS BIGINT) AS overestimate
FROM top t JOIN est e USING (token)
""",
    tags=("A4", "A1", "F7"),
)
def po6_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch with a heavy-hitter audit: corpus token
    frequencies summarized into a 4×256 cell table (one md5-slice hash
    row per depth), then the top-10 exact tokens probed back through
    the sketch — ``cm_estimate`` = min over depths, ``overestimate``
    = collision error (always ≥ 0: CM never undercounts, pinned in
    tests/test_pipeline_ops.py). po1's bloom answers membership; this
    answers FREQUENCY from the same declarative-sketch family, and
    like it, the md5 arithmetic makes even the collision error
    bit-identical in the DuckDB oracle (Spark's count_min_sketch()
    binary is engine-internal, the a4/a15 situation — this formulation
    is what makes the sketch cross-engine checkable).

    Scale shape: the sketch build is one explode(4) + a ≤1024-group
    map-side-combined count — sketch size is CONSTANT however large
    the stream; merging two sketches is cell-wise addition (algebraic,
    the po3 property), which is why per-partition/per-day sketches
    roll up exactly. Probes are broadcast joins against the tiny cell
    table."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("token"))
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.col("n").desc(), "token").limit(10)

    def col_at(token: Column, depth: int) -> Column:
        return cm_col(token, depth, _CM_WIDTH)

    cells = (
        toks.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("d"), col_at(F.col("token"), i)
                        )
                        for i in range(_CM_DEPTH)
                    ]
                )
            ).alias("dc")
        )
        .select("dc.d", "dc.col")
        .groupBy("d", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    probes = top.select(
        "token",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("d"), col_at(F.col("token"), i))
                    for i in range(_CM_DEPTH)
                ]
            )
        ).alias("dc"),
    ).select("token", "n", "dc.d", "dc.col")
    est = (
        probes.join(F.broadcast(cells), ["d", "col"])
        .groupBy("token", "n")
        .agg(F.min("cnt").alias("cm_estimate"))
    )
    return est.select(
        "token",
        F.col("n").alias("exact_count"),
        "cm_estimate",
        (F.col("cm_estimate") - F.col("n")).alias("overestimate"),
    )


#: HLL geometry (shared by po7 and the streaming twin st27 — the
#: review-mandated single source of truth): md5 split = first 2 hex
#: chars mod m (bucket) + next 14 (56-bit rho window). Raw estimator
#: only (no small-range linear-counting correction: that needs ln(),
#: which is libm and banned from hashed paths) — so each consumer must
#: pick m small enough that its key cardinality sits in the raw
#: regime E > 2.5m (po7: 10k event_ids vs m=256; st27: ~350/day vs
#: m=64).
_HLL_M = 256
#: Standard HLL alpha constants, spelled as literal arithmetic so both
#: engines evaluate the identical double.
HLL_ALPHA_SQL = {64: "0.709", 256: "0.7213 / (1.0 + 1.079 / 256.0)"}
_HLL_ALPHA = HLL_ALPHA_SQL[256]
_POW2_57 = "144115188075855872.0"
POW2_57_INT = 144115188075855872


def hll_bucket(key: Column, m: int) -> Column:
    """Register index in [0, m) from the first 8 md5 bits."""
    return (
        F.conv(F.substring(F.md5(key), 1, 2), 16, 10).cast("long") % m
    ).alias("bucket")


def hll_h56(key: Column) -> Column:
    """56-bit rho window from md5 hex chars 3-16."""
    return F.conv(F.substring(F.md5(key), 3, 14), 16, 10).cast("long").alias(
        "h56"
    )


def hll_rho() -> Column:
    """rho = leading zeros of h56 + 1, via bin-string length (no libm)."""
    return F.when(F.col("h56") == 0, 57).otherwise(
        F.lit(57) - F.length(F.bin("h56"))
    )


def hll_oracle_hashed(key_sql: str, m: int) -> str:
    """DuckDB twin of hll_bucket/hll_h56 as SELECT-list fragments."""
    return (
        f"CAST(CONCAT('0x', SUBSTRING(md5({key_sql}), 1, 2)) AS BIGINT)"
        f" % {m} AS bucket,\n"
        f"         CAST(CONCAT('0x', SUBSTRING(md5({key_sql}), 3, 14))"
        f" AS BIGINT) AS h56"
    )


HLL_ORACLE_RHO = (
    "CASE WHEN h56 = 0 THEN 57 ELSE 57 - LENGTH(bin(h56)) END"
)


@register(
    "po7_hll_cardinality",
    oracle=f"""
WITH hashed AS (
  SELECT {hll_oracle_hashed("CAST(event_id AS VARCHAR)", 256)}
  FROM events
), regs AS (
  SELECT bucket, MAX({HLL_ORACLE_RHO}) AS m_reg
  FROM hashed GROUP BY bucket
), grid AS (
  SELECT g.range AS bucket FROM range(0, {_HLL_M}) g
), full_regs AS (
  SELECT grid.bucket, COALESCE(regs.m_reg, 0) AS m_reg
  FROM grid LEFT JOIN regs ON regs.bucket = grid.bucket
), s AS (
  SELECT {dbl_sql('SUM(CAST((CAST(1 AS BIGINT) << (57 - m_reg)) AS DECIMAL(38,0)))')} AS denom
  FROM full_regs
), e AS (
  SELECT CAST(COUNT(DISTINCT event_id) AS BIGINT) AS exact_distinct
  FROM events
)
SELECT e.exact_distinct,
       ({_HLL_ALPHA}) * {_HLL_M} * {_HLL_M} * {_POW2_57} / s.denom
         AS hll_estimate,
       (({_HLL_ALPHA}) * {_HLL_M} * {_HLL_M} * {_POW2_57} / s.denom
         - e.exact_distinct) / e.exact_distinct AS rel_error
FROM e, s
""",
    tags=("A4", "A2", "F7"),
)
def po7_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog over the event stream (event_id — the
    fixture's one genuinely high-cardinality key, keeping the raw
    estimator in its E > 2.5m regime; in production the key is the
    user/URL/doc being counted): md5 splits into an
    8-bit register bucket + a 56-bit rho window (rho = leading zeros
    + 1 via bin-string length — no libm), registers are MAX-merged,
    and the raw HLL estimator α·m²/Σ2^(-M_b) is evaluated in exact
    integer arithmetic (Σ2^(57-M) as DECIMAL, one deterministic
    double conversion at the end). Completes the declarative sketch
    family — membership (po1 bloom), frequency (po6 CM), cardinality
    (this) — and is the cross-engine-checkable formulation of what
    approx_count_distinct keeps engine-internal (the a4/a15
    rows-only justification, now with a pinnable twin).

    Scale shape: register state is CONSTANT (256 rows) at any stream
    size, built by one map-side-combined MAX aggregate; sketches merge
    by per-register MAX (pinned in tests), so per-day registers roll
    up without re-reading events. The two 1-row aggregates join by a
    broadcast 1-row attach (allowlisted tiny cross)."""
    ev = load(spark, sf_dir, "events")
    key = F.col("event_id").cast("string")
    hashed = ev.select(hll_bucket(key, _HLL_M), hll_h56(key))
    regs = hashed.groupBy("bucket").agg(F.max(hll_rho()).alias("m_reg"))
    grid = spark.range(_HLL_M).select(F.col("id").alias("bucket"))
    full_regs = grid.join(regs, "bucket", "left").select(
        F.coalesce(F.col("m_reg"), F.lit(0)).alias("m_reg")
    )
    denom = full_regs.agg(
        F.sum(
            F.expr("CAST(shiftleft(CAST(1 AS BIGINT), 57 - m_reg) AS DECIMAL(38,0))")
        )
        .cast("double")
        .alias("denom")
    )
    exact = ev.agg(F.count_distinct("event_id").alias("exact_distinct"))
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(256.0))
    est = alpha * _HLL_M * _HLL_M * F.lit(144115188075855872.0) / F.col("denom")
    return exact.crossJoin(F.broadcast(denom)).select(
        "exact_distinct",
        est.alias("hll_estimate"),
        ((est - F.col("exact_distinct")) / F.col("exact_distinct")).alias(
            "rel_error"
        ),
    )
