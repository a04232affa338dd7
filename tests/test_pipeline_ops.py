"""Pipeline-ops invariants beyond oracle parity (which
test_oracle_parity.py already covers for po1-po4): the bloom's
no-false-negative guarantee and bounded build size, the Observation's
zero-extra-pass metrics equality, bit-exact partial-merge invariance
under partitioning, and stratified-sample determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_programming_spark.functions.canonical import davg, dsum
from big_data_programming_spark.queries.pipeline_ops import (
    bloom_build,
    bloom_probe,
    observed_quality_gate,
    po1_bloom_prefilter,
    po3_incremental_kpi_rollup,
)
from big_data_programming_spark.sources.loaders import load
from tests.conftest import SF_DIR


def test_bloom_no_false_negatives(spark):
    """A bloom filter may pass non-members but must NEVER drop a
    member: every true member tests positive, so true positives ==
    n_members exactly."""
    row = po1_bloom_prefilter(spark, SF_DIR).collect()[0]
    true_positives = row["n_bloom_pass"] - row["n_false_pos"]
    assert true_positives == row["n_members"]
    assert 0.0 <= row["reduction_share"] <= 1.0
    # the deliberately tiny m=1024 makes the FP audit non-trivial
    assert row["n_bloom_pass"] <= row["n_orders"]


def test_bloom_build_bounded_and_probe_roundtrip(spark):
    """The bloom table never exceeds m/32 rows (broadcastable at any
    build-set size), and probing the build set itself passes 100%."""
    keys = spark.range(500).select(F.col("id").cast("string").alias("k"))
    bloom = bloom_build(keys, "k")
    assert bloom.count() <= 32
    probed = bloom_probe(keys, F.col("k"), bloom)
    assert probed.filter(~F.col("bloom_pass")).count() == 0


def test_observation_metrics_match_oracle(spark, oracle):
    """df.observe collects the gate's scan/reject counters on the SAME
    job as the survivor profile — values must equal a direct oracle
    recount (no sampling, no approximation in observed metrics)."""
    docs = load(spark, SF_DIR, "documents")
    out, obs = observed_quality_gate(docs)
    out.count()  # any action materializes the observation
    got = obs.get
    exp = oracle.execute(
        "SELECT COUNT(*) AS n, SUM(CASE WHEN NOT (n_chars >= 200 AND "
        "LEN(regexp_split_to_array(text, '\\s+')) >= 30) THEN 1 ELSE 0 END) "
        "AS r FROM documents"
    ).fetchone()
    assert got["n_scanned"] == exp[0]
    assert got["n_rejected"] == exp[1]


def test_partial_merge_is_bit_exact_under_partitioning(spark):
    """Merging daily DECIMAL partials must reproduce the single-pass
    aggregate bit-for-bit regardless of how the raw data was
    partitioned — the property that makes incremental rollup
    maintenance safe (double partials would drift with merge order)."""
    merged = {
        r["event_type"]: (r["total_value"], r["avg_value"])
        for r in po3_incremental_kpi_rollup(spark, SF_DIR).collect()
    }
    ev = load(spark, SF_DIR, "events")
    for parts in (3, 17):
        direct = (
            ev.repartition(parts)
            .groupBy("event_type")
            .agg(
                dsum("value").alias("tv"),
                davg("value").alias("av"),
            )
            .collect()
        )
        for r in direct:
            tv, av = merged[r["event_type"]]
            assert r["tv"] == tv  # bit equality, not approx
            assert r["av"] == av


def test_stratified_sample_membership_is_partition_invariant(spark):
    """The md5-threshold sample must select the SAME doc_ids however
    the input is partitioned (sampleBy's per-partition RNG does not) —
    that stability is what makes the sample a reusable eval slice."""
    docs = load(spark, SF_DIR, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    keep = h < F.floor(F.lit(0.5) * F.lit(4294967296.0))
    a = {r["doc_id"] for r in docs.filter(keep).select("doc_id").collect()}
    b = {
        r["doc_id"]
        for r in docs.repartition(13)
        .filter(keep)
        .select("doc_id")
        .collect()
    }
    assert a == b
    n = docs.count()
    assert abs(len(a) / n - 0.5) < 0.1  # uniform hash ≈ target rate


def test_lm5_banding_recall_is_exact_at_threshold(spark):
    """Pigeonhole guarantee of the 4×4-bit banding: EVERY history pair
    within hamming ≤ 3 of a new-batch signature must surface as a
    candidate (2 bands of 8 bits would only guarantee hamming ≤ 1 —
    the round-4 review catch). Verified against brute-force all-pairs
    hamming over the signature table."""
    from big_data_programming_spark.queries.llm_mixing import (
        _simhash_int,
        lm5_incremental_simhash_dedup,
    )
    from big_data_programming_spark.sources.loaders import load

    docs = load(spark, SF_DIR, "documents")
    sigs = {r["doc_id"]: r["sig"] for r in _simhash_int(docs).collect()}
    expected = {}
    for nd, ns in sigs.items():
        if nd % 10 != 9:
            continue
        hams = [
            (bin(ns ^ hs).count("1"), hd)
            for hd, hs in sigs.items()
            if hd % 10 != 9 and bin(ns ^ hs).count("1") <= 3
        ]
        if hams:
            expected[nd] = (len(hams), min(h for h, _ in hams))
    got = {
        r["new_doc_id"]: (r["n_near_dups"], r["best_hamming"])
        for r in lm5_incremental_simhash_dedup(spark, SF_DIR).collect()
    }
    assert got == expected


def test_countmin_never_undercounts_and_merges_cellwise(spark):
    """CM guarantees estimate ≥ true count for EVERY key (min over
    depths of colliding-sum cells), and two half-corpus sketches sum
    cell-wise into exactly the full-corpus sketch (algebraic merge —
    what makes per-day/per-partition sketches roll up losslessly)."""
    from big_data_programming_spark.queries.pipeline_ops import (
        _CM_DEPTH,
        _CM_WIDTH,
    )
    from big_data_programming_spark.sources.loaders import load

    docs = load(spark, SF_DIR, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )

    def cells_of(t):
        return (
            t.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(i).alias("d"),
                                (
                                    F.conv(
                                        F.substring(F.md5("token"), 1 + 8 * i, 8),
                                        16,
                                        10,
                                    ).cast("long")
                                    % _CM_WIDTH
                                ).alias("col"),
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

    cells = cells_of(toks)
    cell_map = {(r["d"], r["col"]): r["cnt"] for r in cells.collect()}
    import hashlib

    for r in toks.groupBy("token").count().collect():
        est = min(
            cell_map[
                (
                    i,
                    int(hashlib.md5(r["token"].encode()).hexdigest()[8 * i : 8 * i + 8], 16)
                    % _CM_WIDTH,
                )
            ]
            for i in range(_CM_DEPTH)
        )
        assert est >= r["count"], (r["token"], est, r["count"])

    half_a = cells_of(toks.filter(F.col("doc_id") % 2 == 0))
    half_b = cells_of(toks.filter(F.col("doc_id") % 2 == 1))
    merged = {
        (r["d"], r["col"]): r["m"]
        for r in half_a.unionByName(half_b)
        .groupBy("d", "col")
        .agg(F.sum("cnt").alias("m"))
        .collect()
    }
    assert merged == cell_map


def test_hll_registers_merge_by_max(spark):
    """HLL's merge is per-register MAX: sketching two halves of the
    stream and MAX-merging the registers must give the identical
    register table (hence identical estimate) as one pass — why
    per-day register tables roll up without re-reading events. Also
    sanity-pins the estimator: |rel_error| within 3x the theoretical
    1.04/sqrt(m) rsd."""
    from big_data_programming_spark.queries.pipeline_ops import (
        po7_hll_cardinality,
    )
    from big_data_programming_spark.sources.loaders import load

    ev = load(spark, SF_DIR, "events")
    key = F.col("event_id").cast("string")

    def regs_of(df):
        hashed = df.select(
            F.conv(F.substring(F.md5(key), 1, 2), 16, 10)
            .cast("long")
            .alias("bucket"),
            F.conv(F.substring(F.md5(key), 3, 14), 16, 10)
            .cast("long")
            .alias("h56"),
        )
        return {
            r["bucket"]: r["m_reg"]
            for r in hashed.groupBy("bucket")
            .agg(
                F.max(
                    F.when(F.col("h56") == 0, 57).otherwise(
                        F.lit(57) - F.length(F.bin("h56"))
                    )
                ).alias("m_reg")
            )
            .collect()
        }

    full = regs_of(ev)
    a = regs_of(ev.filter(F.col("event_id") % 2 == 0))
    b = regs_of(ev.filter(F.col("event_id") % 2 == 1))
    merged = {k: max(a.get(k, 0), b.get(k, 0)) for k in set(a) | set(b)}
    assert merged == full

    row = po7_hll_cardinality(spark, SF_DIR).collect()[0]
    assert abs(row["rel_error"]) < 3 * 1.04 / (256 ** 0.5)


def test_lpa_bridge_edge_does_not_merge_cliques(spark):
    """The property that distinguishes mode-vote label propagation
    from min-label connected components: two 4-cliques connected by a
    single bridge edge are ONE connected component but TWO LPA
    communities — each bridge endpoint has 3 in-clique votes vs 1
    across the bridge, so the cliques keep separate labels."""
    from big_data_programming_spark.operators.graph import label_propagation

    clique_a = [(i, j) for i in range(4) for j in range(4) if i < j]
    clique_b = [(i, j) for i in range(10, 14) for j in range(10, 14) if i < j]
    bridge = [(3, 10)]
    edges = spark.createDataFrame(
        clique_a + clique_b + bridge, ["src", "dst"]
    )
    labels = {
        r["node"]: r["label"] for r in label_propagation(edges).collect()
    }
    a_labels = {labels[n] for n in range(4)}
    b_labels = {labels[n] for n in range(10, 14)}
    assert len(a_labels) == 1 and len(b_labels) == 1
    assert a_labels != b_labels
    # same graph under 2^40-scale node ids: the two-stage mode is
    # domain-independent (a cnt*C - label score would invert here)
    big = edges.select(
        (F.col("src") + (1 << 40)).alias("src"),
        (F.col("dst") + (1 << 40)).alias("dst"),
    )
    blabels = {
        r["node"]: r["label"] for r in label_propagation(big).collect()
    }
    assert blabels == {n + (1 << 40): l + (1 << 40) for n, l in labels.items()}


def test_streaming_hll_daily_accuracy_bound(spark, oracle):
    """st27's m=64 must keep every fixture day inside the raw
    estimator's accuracy band (|rel_error| < 3·1.04/√64 ≈ 0.39) —
    the review catch this geometry fixes: m=256 put daily
    cardinalities (~350) below the 2.5m raw-regime floor and biased
    estimates high by up to 25%."""
    from big_data_programming_spark.queries.streaming_queries import (
        st27_streaming_hll_daily,
    )

    est = {
        r["day"]: r["hll_estimate"]
        for r in st27_streaming_hll_daily(spark, SF_DIR).collect()
    }
    exact = dict(
        oracle.execute(
            "SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day, "
            "COUNT(DISTINCT event_id) FROM events GROUP BY 1"
        ).fetchall()
    )
    assert set(est) == set(exact)
    for day, n in exact.items():
        assert n > 2.5 * 64, (day, n)  # raw-regime precondition holds
        assert abs(est[day] - n) / n < 3 * 1.04 / 8, (day, est[day], n)


def test_peak_concurrency_midnight_carry_in(spark):
    """The review-catch scenario: 3 sessions straddle midnight and all
    end by 00:10 of day 2, with no day-2 starts before then — day 2's
    true peak is the inherited 3, which only the midnight tick can
    report (boundary rows alone would show max 2 after the first −1).
    Also: a session spanning ALL of day 2 must keep day 2 in the
    output even with zero boundaries that day."""
    import datetime as dt

    from big_data_programming_spark.operators.sessions import peak_concurrency

    d1 = dt.datetime(2024, 3, 1)
    rows = [
        # user_id, session_id, session_start, session_end
        (1, 1, d1.replace(hour=23, minute=0), d1 + dt.timedelta(days=1, minutes=5)),
        (2, 1, d1.replace(hour=23, minute=10), d1 + dt.timedelta(days=1)),
        (3, 1, d1.replace(hour=23, minute=20), d1 + dt.timedelta(days=1, minutes=10)),
        # spans all of day 2 and 3: no boundaries inside day 3
        (4, 1, d1.replace(hour=22), d1 + dt.timedelta(days=3)),
    ]
    sessions = spark.createDataFrame(
        rows, ["user_id", "session_id", "session_start", "session_end"]
    )
    got = {
        str(r["day"]): r["peak_concurrent"]
        for r in peak_concurrency(sessions).collect()
    }
    assert got["2024-03-01"] == 4  # all four live late on day 1
    assert got["2024-03-02"] == 4  # carry-in: the tick sees all four
    assert got["2024-03-03"] == 1  # no boundaries that day — tick only
