"""Explain-plan scale-hygiene tests (SURVEY.md §5.2.5, L7 design rule).

Correctness tests prove the 60k-row answer; these prove the *plan*
is the one that survives 100 TB: filters reach the parquet scan,
scans prune columns, dimension joins broadcast, no accidental
cartesian products, aggregates keep partial (map-side) phases, and
top-k compiles to TakeOrderedAndProject instead of a global sort.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from big_data_programming_spark.plans import (
    executed_plan as plan_of,
    formatted_plan as formatted,
    scan_read_columns,
)
from big_data_programming_spark.registry import queries
from big_data_programming_spark.sources.loaders import load
from tests.conftest import SF_DIR


def test_filter_pushdown_reaches_parquet():
    """P2 predicates must appear as PushedFilters on the scan."""
    import big_data_programming_spark.session as S

    spark = S.get_spark("plan-tests", cpus=8)
    li = load(spark, SF_DIR, "lineitem").filter(F.col("l_quantity") < 24).select("l_orderkey")
    plan = formatted(li)
    assert "PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,24.0)" in plan


def test_column_pruning_narrows_scan():
    """A 2-column projection must not read the whole 16-column table."""
    import big_data_programming_spark.session as S

    spark = S.get_spark("plan-tests", cpus=8)
    li = load(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    assert set(scan_read_columns(li)) == {"l_orderkey", "l_quantity"}


def test_flagship_q1_has_partial_aggregate():
    """A13: groupBy compiles to partial → exchange → final hash
    aggregate (map-side combine), and stays in whole-stage codegen."""
    import big_data_programming_spark.session as S

    spark = S.get_spark("plan-tests", cpus=8)
    df = queries()["q1_pricing_summary"](spark, SF_DIR)
    df.collect()  # materialize so AQE finalizes the physical plan
    plan = plan_of(df)
    assert "partial_sum" in plan, plan  # map-side combine before the exchange
    assert plan.count("HashAggregate") >= 2, plan
    # whole-stage codegen spans render as "*(n) Operator" in the plan
    assert re.search(r"\*\(\d+\) HashAggregate", plan), plan


def test_dim_joins_broadcast_not_shuffle():
    """J8/L7: star-schema dim joins must be broadcast joins — a shuffle
    of the fact table per dim would dominate at scale."""
    import big_data_programming_spark.session as S

    spark = S.get_spark("plan-tests", cpus=8)
    df = queries()["q5_local_supplier_volume"](spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_topk_compiles_to_take_ordered():
    """O2: orderBy().limit() must become TakeOrderedAndProject, not a
    global Sort + CollectLimit."""
    import big_data_programming_spark.session as S

    spark = S.get_spark("plan-tests", cpus=8)
    df = (
        load(spark, SF_DIR, "orders")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(5)
    )
    assert "TakeOrderedAndProject" in plan_of(df)


def test_similarity_topk_is_single_pass():
    """L3: brute-force cosine top-k = one scan + broadcast of the
    1-row query vector + TakeOrderedAndProject; no shuffle of the
    corpus, no cartesian."""
    import big_data_programming_spark.session as S

    spark = S.get_spark("plan-tests", cpus=8)
    df = queries()["l3_cosine_topk"](spark, SF_DIR)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row side broadcast
    assert "CartesianProduct" not in plan


def test_bucketed_near_pairs_is_equi_join():
    """L7: the sign-LSH near-pair join must be keyed on the bucket (a
    real equi-join), never an all-pairs nested loop over the corpus."""
    import big_data_programming_spark.session as S

    spark = S.get_spark("plan-tests", cpus=8)
    df = queries()["l3b_bucketed_near_pairs"](spark, SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_exact_dedup_is_single_shuffle_agg():
    """L1: exact dedup = one hash aggregate over the content hash; no
    join, no window, no second shuffle."""
    import big_data_programming_spark.session as S

    spark = S.get_spark("plan-tests", cpus=8)
    df = queries()["l1_exact_dedup"](spark, SF_DIR)
    plan = plan_of(df)
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan


def test_salted_join_shuffles_on_composite_key():
    """sk2: the salted join must take the shuffle-hash path with the
    salt in the join key — a broadcast here would mean the salt did
    nothing (and a plain SMJ on custkey alone would mean the rewrite
    was silently lost)."""
    import big_data_programming_spark.session as S

    spark = S.get_spark("plan-tests", cpus=8)
    df = queries()["sk2_salted_join"](spark, SF_DIR)
    plan = plan_of(df)
    assert "ShuffledHashJoin [custkey" in plan and "_salt" in plan, plan
    assert "BroadcastHashJoin" not in plan.split("== Initial Plan ==")[0], plan


def test_partitioned_write_prunes_partitions():
    """S6: the partition-column filter must prune at file-listing time
    (PartitionFilters on the scan), not per-row after reading."""
    import big_data_programming_spark.session as S

    spark = S.get_spark("plan-tests", cpus=8)
    df = queries()["s6_partitioned_roundtrip"](spark, SF_DIR)
    plan = formatted(df)
    assert re.search(r"PartitionFilters: \[[^\]]*o_orderpriority[^\]]*IN ?\(", plan), plan
    # partition column comes from the directory names, never the files
    assert "o_orderpriority" not in scan_read_columns(df)


def test_bucketed_join_has_no_exchange():
    """O5: with both sides bucketed on the join key, the sort-merge
    join must plan with NO Exchange on either side — the write-time
    shuffle is the only shuffle that ever happens for this key."""
    import big_data_programming_spark.session as S

    spark = S.get_spark("plan-tests", cpus=8)
    queries()["o5_bucketed_join"](spark, SF_DIR)  # writes the bucketed tables
    c = spark.table("bdps_o5_customer")
    o = spark.table("bdps_o5_orders")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = c.join(o, c.c_custkey == o.o_custkey)
        plan = plan_of(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan


def test_no_accidental_cartesian_in_catalog():
    """Catalog-wide sweep: no declarative query may plan a
    CartesianProduct or an un-broadcast nested loop over non-tiny
    sides. Skipped: queries whose *construction* executes work
    (streaming drains, ml fits, sink round-trips, driver-side query
    vectors) and the one intentional cross join (j5)."""
    import big_data_programming_spark.session as S
    from big_data_programming_spark.registry import catalog

    spark = S.get_spark("plan-tests", cpus=8)
    skip_prefixes = ("st", "s2", "s3", "s6", "o5", "l2c", "l3e", "ud7")
    intentional_cross = {"j5_cross_join"}
    # BNLJ is acceptable ONLY when the broadcast side is provably tiny:
    # scalar subqueries (q11/q22/l4c), 1-row query vectors (l3*), or a
    # literal constant dim (s4/j6). Any new query planning one fails here.
    tiny_side_bnlj = {
        "q11_important_part_value",
        "q22_idle_rich_customers",
        "s4_in_memory_source",
        "j6_range_join",
        "l4c_tfidf_top_terms",
        "l3_cosine_topk",
        "l3d_knn_label_vote",
        "l3f_ivf_probe_topk",
        "l3g_batch_knn_join",  # 5-row broadcast query set, non-equi self-exclusion
        "e8_gap_fill",  # hours-grid × 5-type dimension densification, both tiny
        "e11_interpolation",  # same hours×types densification grid as e8
        "dq5_category_drift",  # days×types densification grid, both tiny
        "l4k_bm25_search",  # 1-row corpus-statistics broadcast
        "dq1_constraint_checks",  # 1-row × 1-row scalar-count attach (FK rule)
        "l3h_random_projection_topk",  # 1-row projection matrix + 1-row query vector broadcasts
        "l3m_hybrid_rrf_fusion",  # 1-row BM25-stats + 1-row query-vector broadcasts (the l4k/l3 legs)
        "l3o_ivf_recall_audit",  # 1-row query vector + 4-row nprobe-dimension broadcasts
        "l3k_adc_search",  # 1-row ADC lookup-table broadcast (PQ query side)
        "s15_compaction",  # 1-row files-before count attached to the 1-row summary
        "dq3_partition_drift",  # 1-row median + 1-row MAD broadcast attaches
        "lm6_negative_pair_audit",  # 1-row corpus-size broadcast (LCG partner modulo)
        "po3_incremental_kpi_rollup",  # 1-row max(day) broadcast (newest-day split)
        "l5k_train_quality_weights",  # 1-row N / bias / weight-vector attaches (GD steps)
        "l5k2_trained_quality_gate",  # 1-row trained wv + bias + prior-log-odds attaches (l5i gate shape; audited r9, prior added r10)
        "lm10_incremental_curation_funnel",  # 1-row wv model attach (l5i gate shape)
        "po7_hll_cardinality",  # 1-row exact x 1-row sketch-denominator attach
        "lm7_dsir_importance",  # 1-row feature-total broadcast (Laplace denominators)
        "l5e_unigram_logprob",  # 1-row vocab-total broadcast (the l4k corpus-stats shape)
        "l5e2_unigram_logprob_headtail",  # same 1-row vocab-total attach as l5e
        "l5e3_ccnet_ppl_buckets",  # same 1-row vocab-total attach (shared unigram_scored)
        "l5e4_bigram_interp_logprob",  # same 1-row unigram-total attach (interpolation backoff)
        "l4s_zipf_fit",  # 1-row regression sums x 1-row corpus-totals attach
        "l2m_semdedup",  # 1-row centroid-array broadcast (in-row argmax assignment)
        "l4t_semantic_decontamination",  # 1-row eval-array broadcast (in-row max-cos scan)
        "l5g_pipeline_verdict",  # 1-row eval-array broadcast (the l4t semantic gate inside)
        "l5h_gate_ablation",  # same 1-row eval-array broadcast (aggregates over l5g)
        "l5i_fasttext_quality_gate",  # 1-row 256-double model-vector broadcast
        "l5j_curation_pipeline",  # 1-row model-vector + 1-row eval-array broadcasts
        "l5e5_trigram_backoff_logprob",  # 1-row train-token-total broadcast (the l5e shape)
        "dq9_contamination_drift",  # 1-row eval-array broadcast (the l4t shape)
        "lm9_curated_mix_weights",  # aggregates l5j_doc_verdicts (same two 1-row attaches)
    }
    offenders, nl_offenders = [], []
    for name, q in catalog().items():
        if name.startswith(skip_prefixes) or name in intentional_cross:
            continue
        plan = plan_of(q.fn(spark, SF_DIR))
        if "CartesianProduct" in plan:
            offenders.append(name)
        if "BroadcastNestedLoopJoin" in plan and name not in tiny_side_bnlj:
            nl_offenders.append(name)
    assert not offenders, f"cartesian products in: {offenders}"
    assert not nl_offenders, f"unexpected nested-loop joins in: {nl_offenders}"


def test_chunking_is_shuffle_free():
    """X15: l4f must be a pure map — generate/explode/project with no
    Exchange at all; at 100 TB it runs at scan speed."""
    import big_data_programming_spark.session as S

    spark = S.get_spark("plan-tests", cpus=8)
    df = queries()["l4f_chunk_documents"](spark, SF_DIR)
    plan = plan_of(df)
    assert "Exchange" not in plan, plan
    assert "Generate" in plan, plan  # the posexplode


def test_decontamination_broadcasts_eval_side():
    """X18: the eval-set shingle table must broadcast — the training
    corpus is probed map-side, never shuffled for the join."""
    import big_data_programming_spark.session as S

    spark = S.get_spark("plan-tests", cpus=8)
    df = queries()["l4i_decontamination"](spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan


def test_runtime_bloom_filter_join_pruning():
    """Catalyst injects a bloom-filter runtime filter on the fact side
    of a selective join (Spark 3.3+ InjectRuntimeFilter): the filter is
    built from the dim side's join keys and applied at the fact scan,
    skipping rows that cannot match BEFORE the shuffle. At 100 TB this
    is the difference between shuffling the whole fact table and
    shuffling the ~matching fraction. Thresholds are lowered here only
    to trigger the rewrite on 60k-row fixtures — production sizes clear
    the defaults on their own."""
    import big_data_programming_spark.session as S

    spark = S.get_spark("plan-tests", cpus=8)
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB")
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB"
        )
        # force a shuffle join so the runtime filter has a shuffle to save
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load(spark, SF_DIR, "lineitem")
        o = load(spark, SF_DIR, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
        j = li.join(o, li.l_orderkey == o.o_orderkey).select("l_orderkey", "l_quantity")
        plan = formatted(j)
        assert "bloom_filter" in plan.lower() or "might_contain" in plan.lower(), plan
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_bm25_single_scan_broadcast_stats_topk():
    """l4k: corpus statistics join must broadcast (one tiny row), the
    top-20 must compile to TakeOrderedAndProject, and the scoring scan
    must read only the two columns BM25 needs."""
    import big_data_programming_spark.session as S

    spark = S.get_spark("plan-tests", cpus=8)
    df = queries()["l4k_bm25_search"](spark, SF_DIR)
    df.collect()
    plan = plan_of(df)
    assert "BroadcastExchange" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert set(scan_read_columns(df)) <= {"doc_id", "text"}, scan_read_columns(df)


def test_bitmap_rollup_single_fact_scan():
    """a17: the daily→monthly exact-distinct rollup must scan the fact
    table ONCE — everything above level 1 is bitmap algebra on tiny
    state, never a second pass over raw events."""
    import big_data_programming_spark.session as S

    spark = S.get_spark("plan-tests", cpus=8)
    df = queries()["a17_bitmap_distinct_rollup"](spark, SF_DIR)
    df.collect()
    # AQE's string rendering repeats the tree under "== Initial Plan ==";
    # count scans in the final plan only.
    plan = plan_of(df).split("== Initial Plan ==")[0]
    assert plan.count("Scan parquet") == 1, plan
    assert "bitmap_construct_agg" in plan, plan


def test_binned_range_join_is_equi_join():
    """J6b: the binned interval join must key on the hour bin (hash
    join with the range predicate as a residual), never the
    nested-loop plan a bare theta join would produce."""
    import big_data_programming_spark.session as S

    spark = S.get_spark("plan-tests", cpus=8)
    df = queries()["j6b_binned_range_join"](spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "SortMergeJoin" in plan
    )


def test_orc_scan_pushes_filters_and_prunes_columns(tmp_path):
    """X27: the ORC read path must get the same scan hygiene as
    parquet — predicates as PushedFilters, projection narrowing the
    read schema. Format parity is what makes s10 a real second
    columnar path rather than a demo."""
    import big_data_programming_spark.session as S

    spark = S.get_spark("plan-tests", cpus=8)
    out = str(tmp_path / "orders.orc")
    load(spark, SF_DIR, "orders").write.mode("overwrite").orc(out)
    df = (
        spark.read.orc(out)
        .filter(F.col("o_totalprice") > 100000.0)
        .select("o_orderkey", "o_totalprice")
    )
    fmt = formatted(df)
    assert "PushedFilters: [" in fmt and "o_totalprice" in fmt.split("PushedFilters")[1][:200]
    cols = scan_read_columns(df)
    assert cols and set(cols) <= {"o_orderkey", "o_totalprice"}


def test_dynamic_partition_pruning_reaches_fact_scan():
    """j12: the priority filter lives ONLY on the dim; the fact scan
    must still carry a dynamic pruning subquery in its PartitionFilters
    (star-schema file-listing pruning — the 100 TB fact-read saver)."""
    import big_data_programming_spark.session as S

    spark = S.get_spark("plan-tests", cpus=8)
    plan = plan_of(queries()["j12_dynamic_partition_pruning"](spark, SF_DIR))
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_aqe_splits_skewed_join():
    """§4 skew lever #2: beyond explicit salting (sk1/sk2), AQE must
    re-plan a skewed sort-merge join at RUNTIME — the hot partition is
    split into advisory-sized reads (AQEShuffleRead skewed) and the
    join marks skew=true. Thresholds are scaled down to fixture size;
    at 100 TB the defaults (256 MB / factor 5) fire on the same
    mechanism with no query change."""
    import big_data_programming_spark.session as S

    spark = S.get_spark("plan-tests", cpus=8)
    tuned = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32768",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        # 90% of fact rows share key 0 -> one shuffle partition holds
        # ~9x the average and far exceeds the tuned 64 KB threshold.
        fact = spark.range(0, 100_000).select(
            F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id")).alias("k"),
            (F.col("id") * 3).alias("v"),
        )
        dim = spark.range(0, 100_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = fact.join(dim, "k")
        assert len(j.collect()) == 100_000  # finalize THIS plan (count() builds its own)
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert "skew=true" in plan, plan[:1500]
    assert "AQEShuffleRead skewed" in plan, plan[:1500]


def test_python_source_consumes_pushed_filters():
    """s17: the id-range predicate must be consumed by the Python
    reader (pushFilters), leaving only isnotnull in Spark's post-scan
    Filter — proof the pruning happened source-side, not as a
    read-everything-then-filter."""
    import big_data_programming_spark.session as S
    from big_data_programming_spark.sources.python_datasource import (
        register_pushdown_source,
    )

    spark = S.get_spark("plan-tests", cpus=8)
    register_pushdown_source(spark)
    df = (
        spark.read.format("pushdown_telemetry")
        .option("partitions", "8")
        .option("rowsPerPartition", "1000")
        .load()
        .filter((F.col("id") >= 2500) & (F.col("id") < 5500))
    )
    plan = plan_of(df)
    filter_lines = [l for l in plan.splitlines() if "Filter" in l]
    assert filter_lines, plan
    assert all(">= 2500" not in l and "< 5500" not in l for l in filter_lines), plan
    assert "BatchScan pushdown_telemetry" in plan, plan


def test_aqe_coalesces_small_shuffle_partitions():
    """§4 AQE lever #1: a 32-partition shuffle whose output is tiny
    must be coalesced at runtime (AQEShuffleRead coalesced) — on a
    cluster this is what keeps reducer counts proportional to DATA,
    not to the static spark.sql.shuffle.partitions, so thousands of
    near-empty reducers never get scheduled."""
    import big_data_programming_spark.session as S

    spark = S.get_spark("plan-tests", cpus=8)
    old = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    try:
        df = (
            load(spark, SF_DIR, "orders")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert len(df.collect()) == 5  # finalize THIS adaptive plan
        plan = plan_of(df)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", old)
    assert "AQEShuffleRead coalesced" in plan, plan[:1500]


def test_sql_udf_inlines_no_python_boundary():
    """ud12/ud13: SQL-defined functions must inline into the Catalyst
    plan — no BatchEvalPython / ArrowEvalPython stage (the whole point
    vs a Python UDF), and the scalar UDF's aggregate keeps its
    map-side partial phase."""
    import big_data_programming_spark.session as S

    spark = S.get_spark("plan-tests", cpus=8)
    df = queries()["ud12_sql_scalar_udf"](spark, SF_DIR)
    df.collect()
    plan = plan_of(df)
    assert "EvalPython" not in plan, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan
    tdf = queries()["ud13_sql_table_udf"](spark, SF_DIR)
    tplan = formatted(tdf)
    assert "EvalPython" not in tplan, tplan
    assert "Generate" in tplan, tplan  # decorrelated to a Generate, not a per-row loop


def test_pipe_syntax_plans_like_classic_sql():
    """s21: pipe-syntax stages must produce the same physical shape as
    the classic query — pushed filter on the scan, partial/final hash
    aggregate — proving the surface is parse-level only."""
    import big_data_programming_spark.session as S

    spark = S.get_spark("plan-tests", cpus=8)
    df = queries()["s21_pipe_syntax"](spark, SF_DIR)
    df.collect()
    plan = plan_of(df)
    assert plan.count("HashAggregate") >= 2, plan
    fplan = formatted(df)
    assert "PushedFilters" in fplan and "l_shipdate" in fplan, fplan


def test_dataset_split_is_single_scan_aggregate():
    """l4p: split assignment must be computed in-scan (pure map) with
    one partial/final aggregate — no join, no second scan, no
    pre-aggregation shuffle of raw documents."""
    import big_data_programming_spark.session as S

    spark = S.get_spark("plan-tests", cpus=8)
    df = queries()["l4p_dataset_split"](spark, SF_DIR)
    df.collect()
    final = plan_of(df).split("== Initial Plan ==")[0]
    assert "Join" not in final, final
    assert final.count("FileScan parquet") == 1, final
    assert "partial_count" in final, final


def test_aqe_converts_smj_to_broadcast_at_runtime():
    """X58/X71's sibling — the third AQE lever: a join whose build
    side is only KNOWN to be small at runtime (an aggregated+filtered
    derivation the static planner cannot size) is re-planned from
    sort-merge to broadcast-hash after the first shuffle
    materializes. The static threshold is -1 (may never broadcast)
    while AQE's own runtime threshold allows it, so a
    BroadcastHashJoin in the final plan proves the runtime
    conversion; the initial plan is asserted to be the shuffle
    join."""
    import big_data_programming_spark.session as S

    spark = S.get_spark("plan-tests", cpus=8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # Split the decision: the STATIC planner may never broadcast
        # (-1), while AQE's own runtime threshold allows it — so a
        # BroadcastHashJoin in the final plan can only have come from
        # the runtime size measurement.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10MB")
        orders = load(spark, SF_DIR, "orders")
        # aggregate first: its output size is unknown until runtime
        hot = (
            orders.groupBy("o_custkey")
            .agg(F.sum("o_totalprice").alias("spend"))
            .filter(F.col("spend") > 400000)
        )
        cust = load(spark, SF_DIR, "customer")
        joined = cust.join(hot, cust.c_custkey == hot.o_custkey).select(
            "c_custkey", "spend"
        )
        joined.collect()
        plan = plan_of(joined).split("== Initial Plan ==")
        final, initial = plan[0], plan[1]
        assert "BroadcastHashJoin" in final, final
        assert "SortMergeJoin" in initial or "ShuffledHashJoin" in initial, initial
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_identical_aggregate_shuffle_is_reused():
    """When the same aggregate subtree appears twice in a plan (here a
    period-shifted self-join of per-order quantities), Spark must plan
    ONE shuffle and a ReusedExchange for the second occurrence — at
    100 TB the difference between shuffling the fact table once or
    twice. Executed (not just compiled) because exchange reuse is
    finalized at runtime under AQE."""
    import big_data_programming_spark.session as S

    spark = S.get_spark("plan-tests", cpus=8)
    li = load(spark, SF_DIR, "lineitem")
    agg = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
    a, b = agg.alias("a"), agg.alias("b")
    j = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey") + 1)
        .select(F.col("a.l_orderkey"), (F.col("a.q") - F.col("b.q")).alias("dq"))
    )
    j.collect()  # materialize so AQE finalizes the reuse
    plan = plan_of(j)
    assert "ReusedExchange" in plan, plan


def test_point_in_time_join_is_keyed_not_cartesian():
    """dq6's interval predicate must ride the user_id equi-join: the
    planner keys the shuffle on user_id and applies the validity-range
    bounds as a join condition — never a broadcast nested loop over
    the fact side."""
    import big_data_programming_spark.session as S
    from big_data_programming_spark.registry import catalog

    spark = S.get_spark("plan-tests", cpus=8)
    q = catalog()["dq6_point_in_time_join"]
    df = q.fn(spark, SF_DIR)
    df.collect()  # finalize under AQE
    plan = plan_of(df)
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan  # dim side small at test SF
    ), plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cbo_statistics_drive_cardinality_estimates():
    """ANALYZE TABLE … FOR COLUMNS must populate exact row counts and
    per-column min/max/ndv, and with CBO enabled the optimizer must
    USE them: a mid-range filter's estimated rowCount comes out
    strictly between 0 and the table count (selectivity from column
    stats, not the magic 1/3 fallback). At scale these estimates are
    what pick join orders and broadcast sides before a single row is
    read."""
    import big_data_programming_spark.session as S

    import shutil

    spark = S.get_spark("plan-tests", cpus=8)
    spark.sql("DROP TABLE IF EXISTS bdps_cbo_orders")
    shutil.rmtree("spark-warehouse/bdps_cbo_orders", ignore_errors=True)
    load(spark, SF_DIR, "orders").write.mode("overwrite").saveAsTable(
        "bdps_cbo_orders"
    )
    spark.sql(
        "ANALYZE TABLE bdps_cbo_orders COMPUTE STATISTICS "
        "FOR COLUMNS o_custkey, o_totalprice"
    )
    old = spark.conf.get("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try:
        t = spark.table("bdps_cbo_orders")
        n = t.count()
        stats = t._jdf.queryExecution().optimizedPlan().stats()
        assert stats.rowCount().toString() == f"Some({n})"
        info = {
            r[0]: r[1]
            for r in spark.sql(
                "DESC EXTENDED bdps_cbo_orders o_totalprice"
            ).collect()
        }
        lo, hi = float(info["min"]), float(info["max"])
        mid = (lo + hi) / 2
        est = (
            t.filter(F.col("o_totalprice") < mid)
            ._jdf.queryExecution()
            .optimizedPlan()
            .stats()
            .rowCount()
        )
        assert est.isDefined()
        est_n = int(str(est.get()))
        assert 0 < est_n < n, (est_n, n)
    finally:
        spark.conf.set("spark.sql.cbo.enabled", old)


def test_rank_filter_pushes_window_group_limit():
    """rank()/row_number() ≤ k filters must compile to WindowGroupLimit
    (Spark 3.5+): each group keeps a k-row heap during the sort instead
    of fully sorting and then filtering — the reason lm3's per-source
    reservoir stays O(k) state per key at any key size."""
    import big_data_programming_spark.session as S
    from big_data_programming_spark.registry import catalog

    spark = S.get_spark("plan-tests", cpus=8)
    for name in ("lm3_reservoir_per_source", "w6_topk_per_group"):
        plan = plan_of(catalog()[name].fn(spark, SF_DIR))
        assert "WindowGroupLimit" in plan, (name, plan)


def test_bloom_probe_keeps_fact_side_map_side():
    """po1's probe must not shuffle the fact table: the three bloom
    word joins are all BroadcastHashJoins (≤32-row build sides), so
    the only exchange in the plan is the final 1-row summary
    aggregate's."""
    import big_data_programming_spark.session as S
    from big_data_programming_spark.registry import catalog

    spark = S.get_spark("plan-tests", cpus=8)
    df = catalog()["po1_bloom_prefilter"].fn(spark, SF_DIR)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") >= 4  # 3 bloom words + member flag
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    # orders are scanned once and never exchange-partitioned by a key:
    assert "Exchange hashpartitioning(o_" not in plan, plan


def test_peak_concurrency_sweep_is_day_partitioned():
    """e18's sweep-line prefix sum must run PARTITIONED BY day over
    the boundary rows — the r4 verdict's one perf-weak item was a
    global ordered window (`WindowExec: No Partition Defined`) that
    sorted every boundary on a single partition. The only
    unpartitioned window allowed is the carry-in prefix sum over the
    post-aggregation |days|-row day-total table (w8 discipline)."""
    import re

    import big_data_programming_spark.session as S
    from big_data_programming_spark.registry import catalog

    spark = S.get_spark("plan-tests", cpus=8)
    df = catalog()["e18_peak_concurrency"].fn(spark, SF_DIR)
    df.collect()
    plan = plan_of(df)
    windows = [l for l in plan.splitlines() if re.search(r"\bWindow \[", l)]
    assert windows, plan
    # A partitioned Window node renders three bracket groups
    # (exprs], [partition spec], [ordering]); unpartitioned only two.
    unpart = [l for l in windows if not re.search(r"\], \[[^\]]+\], \[", l)]
    assert unpart, "expected the |days|-row carry-in prefix window"
    for line in unpart:
        assert "day_delta" in line, (
            "unpartitioned Window over something other than the "
            f"|days|-row day-total table:\n{line}"
        )
    # The boundary-row running sum is day-partitioned:
    assert any(
        "concurrent_in_day" in l and re.search(r"\], \[day#\d+\], \[", l)
        for l in windows
    ), windows


def test_broadcast_quantile_assignment_is_broadcast():
    """lm4b's hot path (bin assignment) must join the cutpoint table
    broadcast — a shuffle here would reintroduce the total-order cost
    the query exists to avoid. (The rank pass legitimately shuffles by
    lang once to compute cutpoints.)"""
    import big_data_programming_spark.session as S
    from big_data_programming_spark.registry import catalog

    spark = S.get_spark("plan-tests", cpus=8)
    df = catalog()["lm4b_broadcast_quantile_bins"].fn(spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_semdedup_assignment_is_in_row():
    """l2m's centroid assignment must be an in-row argmax against the
    broadcast centroid-array row: NO Generate anywhere in the plan (a
    per-centroid explode would blow the corpus up n×k — the step that
    must stay linear when production k hits tens of thousands), and
    the drop-set probe rides back as a BroadcastHashJoin. Pinned on
    the RAW lineage (materialize=False) so the argmax shape stays
    visible to this test after the r6 materialization fix."""
    import big_data_programming_spark.session as S
    from big_data_programming_spark.operators.similarity import semdedup

    spark = S.get_spark("plan-tests", cpus=8)
    emb = load(spark, SF_DIR, "embeddings")
    plan = plan_of(semdedup(emb, materialize=False))
    assert "Generate" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_semdedup_assignment_is_materialized_once():
    """r6 fix for the r5 verdict's one `weak` plan: the registered
    l2m query materializes the assignment table (MEMORY_AND_DISK) at
    the point a production SemDeDup pipeline writes it out, so the
    corpus-assignment argmax executes ONCE — both pair-join sides and
    the keep-flag probe read InMemoryTableScans of the same cached
    relation instead of re-expanding the assignment lineage 3×. The
    raw-lineage pins (no Generate / no SortMergeJoin) must still hold
    through the cache."""
    import big_data_programming_spark.session as S
    from big_data_programming_spark.registry import catalog

    spark = S.get_spark("plan-tests", cpus=8)
    df = catalog()["l2m_semdedup"].fn(spark, SF_DIR)
    plan = plan_of(df)
    assert "InMemoryTableScan" in plan, plan
    assert "Generate" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # The cached relation is the ONLY consumer of the embeddings scan
    # on the pair/probe paths: every embeddings FileScan in the plan
    # sits under an InMemoryRelation (cache build), not as a live
    # re-scan. Count on the FULL plan string: once another test has
    # materialized the same cache entry, the cached child prints as an
    # isFinalPlan=true AdaptiveSparkPlan whose inner "== Initial Plan
    # ==" marker would truncate a split-based count (the r6 suite
    # order-dependence bug).
    assert plan.count("InMemoryTableScan") >= 3, plan  # 2 pair sides + probe


def test_unigram_headtail_split_broadcasts_head():
    """l5e2: the Zipf-head probe (top-K vocab types by count) and the
    head-membership anti-join on the tail path must both be broadcast
    — the whole point of the sk2 split is that no hot token key ever
    crosses an exchange. The head table is K rows by construction, so
    these broadcasts are plan-stable at any corpus size."""
    import big_data_programming_spark.session as S
    from big_data_programming_spark.registry import catalog

    spark = S.get_spark("plan-tests", cpus=8)
    plan = plan_of(catalog()["l5e2_unigram_logprob_headtail"].fn(spark, SF_DIR))
    # head equi-probe + tail anti-probe (+ possibly the AQE'd tail join)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "LeftAnti" in plan, plan
    assert "Union" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bigram_stream_is_materialized_once():
    """l5e4 (r6 review finding): the exploded bigram stream feeds
    three consumers (scoring stream + bigram and context models), so
    it must be persisted — the plan shows InMemoryTableScans instead
    of three re-expanded tokenize+explode lineages. Same discipline
    and same test shape as l2m's assignment materialization."""
    import big_data_programming_spark.session as S
    from big_data_programming_spark.registry import catalog

    spark = S.get_spark("plan-tests", cpus=8)
    plan = plan_of(catalog()["l5e4_bigram_interp_logprob"].fn(spark, SF_DIR))
    assert "InMemoryTableScan" in plan, plan
    assert plan.count("InMemoryTableScan") >= 3, plan


def test_curation_flag_joins_broadcast():
    """The round-5 curation stages must probe their small derived
    tables map-side: l5f's boilerplate-chunk flag join and lm7's
    256-row DSIR model score join are BroadcastHashJoins — a shuffle
    on either would drag the full corpus through an exchange keyed by
    the probe, which is exactly what these designs exist to avoid."""
    import big_data_programming_spark.session as S
    from big_data_programming_spark.registry import catalog

    spark = S.get_spark("plan-tests", cpus=8)
    for name in ("l5f_boilerplate_chunk_strip", "lm7_dsir_importance"):
        plan = plan_of(catalog()[name].fn(spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, (name, plan)
        assert "SortMergeJoin" not in plan, (name, plan)


def test_l5i_model_broadcast_in_row():
    """l5i (round 7): the 256-double model vector attaches as ONE
    broadcast row and the whole gate is a pure map — exactly one
    documents scan, no shuffle exchange anywhere (the scoring never
    leaves the scan stage), and the only join is the broadcast model
    attach."""
    import big_data_programming_spark.session as S
    from big_data_programming_spark.registry import catalog

    spark = S.get_spark("plan-tests", cpus=8)
    plan = plan_of(catalog()["l5i_fasttext_quality_gate"].fn(spark, SF_DIR))
    assert len(re.findall(r"FileScan parquet[^\n]*documents", plan)) == 1, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan


def test_l5j_pipeline_bounded_scans():
    """l5j (round 7 capstone; tightened round 9): per-stage attributes
    are computed independently (Dolma architecture), so corpus
    re-reads are BOUNDED — and since round 9 the tokenized train
    relation is PERSISTED (one corpus pass computes tokens + md5;
    the five attribute consumers read the cache), so the RUNTIME
    executed-scan count is exactly 5: train materialization, the
    SimHash signature pass, the eval-split shingle pass, and two
    embeddings reads. Measured A/B at sf0.1: same wall as the
    unpersisted shape locally, 11 -> 5 corpus-scan economics at
    cluster scale (SCALING.md round-9 section). The static string
    bound stays as the regression ceiling (builder re-prints inflate
    it); the funnel assembly adds no corpus pass at all: its
    unpartitioned windows run over the 9-row stage dimension only.
    No cartesian products; the only BNLJs are the two 1-row attaches
    (model vector, eval embedding array)."""
    import big_data_programming_spark.session as S
    from big_data_programming_spark.plans import executed_parquet_scan_count
    from big_data_programming_spark.registry import catalog

    spark = S.get_spark("plan-tests", cpus=8)
    # start from a clean cache: a live persist left by an earlier test
    # can absorb one of l5j's scans into an InMemoryTableScan and make
    # the runtime pin order-dependent (full-suite run measured 4).
    S.release_caches(spark)
    try:
        df = catalog()["l5j_curation_pipeline"].fn(spark, SF_DIR)
        plan = plan_of(df)
        docs = len(re.findall(r"FileScan parquet[^\n]*documents", plan))
        embs = len(re.findall(r"FileScan parquet[^\n]*embeddings", plan))
        assert docs <= 10, (docs, plan)
        assert embs <= 2, (embs, plan)
        assert "CartesianProduct" not in plan, plan
        assert plan.count("BroadcastNestedLoopJoin") == 2, plan
        assert plan.count("InMemoryTableScan") >= 4, plan
        assert executed_parquet_scan_count(df) == 5
    finally:
        S.release_caches(spark)


def test_winnow_fingerprints_materialized_once():
    """l2k2 (r6 advisor finding): the selected-fingerprint relation
    feeds two consumers (dup aggregate + semi-join mark probe), so it
    must be persisted — the plan shows InMemoryTableScans instead of
    two re-expanded tokenize+winnow lineages. Same discipline and
    same test shape as l2m/l5e4.

    Both winnowing operators also explode the per-window array in the
    select that builds it: projected as a column first, the array lets
    Catalyst infer a ``Filter (size(..) > 0)`` that recomputes every
    gram's md5, so no plan line of l2k or l2k2 may hold both."""
    import big_data_programming_spark.session as S
    from big_data_programming_spark.registry import catalog

    spark = S.get_spark("plan-tests", cpus=8)
    plans = {
        name: plan_of(catalog()[name].fn(spark, SF_DIR))
        for name in ("l2k_duplicate_ngram_spans", "l2k2_duplicate_span_extents")
    }
    assert plans["l2k2_duplicate_span_extents"].count("InMemoryTableScan") >= 2, plans
    for name, plan in plans.items():
        refilter = [ln for ln in plan.splitlines() if "Filter" in ln and "md5(" in ln]
        assert not refilter, (name, refilter)


def test_lm8b_cap_applied_before_candidate_join():
    """lm8b (round 8): the hot-bucket ceiling is enforced IN THE PLAN —
    the bucket-size aggregate's `count <= 50` filter exists (so the
    cap bounds shuffle volume before the signature join, not after),
    no cartesian product appears, and the extra bucket-count pass
    costs exactly one more documents scan than lm8's four (the
    signature lineage is recomputed per consumer at fixture scale; a
    real incremental pipeline reads persisted signatures instead —
    the docstring's persistence argument)."""
    import big_data_programming_spark.session as S
    from big_data_programming_spark.registry import catalog

    spark = S.get_spark("plan-tests", cpus=8)
    plan = plan_of(catalog()["lm8b_capped_minhash_dedup"].fn(spark, SF_DIR))
    assert "<= 50" in plan, plan
    assert "CartesianProduct" not in plan, plan
    docs = len(re.findall(r"FileScan parquet[^\n]*documents", plan))
    assert docs <= 5, (docs, plan)


def test_lm10_incremental_funnel_bounded_scans():
    """lm10 (round 8 capstone twin, capped round 9): the arrival
    batch's curation against history stays scan-bounded — <= 7
    documents scans for the whole three-tier screen (hash set, gates,
    MinHash banding + the round-9 bucket-size gate, which recomputes
    the signature lineage once more at fixture scale; a real
    incremental pipeline reads persisted signatures/counts instead),
    the lm8b hot-bucket ceiling is enforced IN THE PLAN before the
    signature join, the classifier model attaches as exactly ONE
    broadcast 1-row join, and no cartesian product anywhere; the
    funnel reduction adds no corpus pass (unpartitioned windows over
    the stage dimension only, same as l5j)."""
    import big_data_programming_spark.session as S
    from big_data_programming_spark.registry import catalog

    spark = S.get_spark("plan-tests", cpus=8)
    plan = plan_of(
        catalog()["lm10_incremental_curation_funnel"].fn(spark, SF_DIR)
    )
    docs = len(re.findall(r"FileScan parquet[^\n]*documents", plan))
    assert docs <= 7, (docs, plan)
    assert "<= 50" in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_l5k_family_runtime_scan_reuse():
    """Round-9 audit: the RUNTIME corpus-scan counts of the in-engine
    trainers, pinned through the SQL status store (plans/
    executed_parquet_scan_count) because the plan STRING overcounts —
    InMemoryTableScan re-prints its cached build subtree per
    occurrence and the 1-row-aggregate broadcast attaches print fully
    even though AQE stage reuse runs them once (l5k's string shows 12
    scan nodes; 3 execute under full evaluation). The counter
    evaluates through the noop sink, NOT count — count's column
    pruning can drop entire corpus passes (l5j counts with zero
    scans), which is also why this pin uses full-evaluation numbers.
    Pins:

    * l5k trains with exactly THREE corpus reads — one full-text
      featurize (persisted as xdb; its downstream gradient/logit
      consumers are InMemoryTableScans) and two skinny passes (the
      zero-column nrow count, the lang-only label sum); every other
      nrow/b1row reference is a reused exchange. At 100 TB that is
      one text-weight pass + two metadata-weight passes.
    * l5k2 (train -> apply) adds the gate's scoring passes on top of
      the trainer, plus (round 10) one skinny lang-only pass for the
      class-prior keep threshold: <= 7 executed scans total.

    If Spark's reuse behavior ever regresses (these counts grow), the
    trainers silently become multi-pass at cluster scale — exactly
    the failure this test exists to catch."""
    import big_data_programming_spark.session as S
    from big_data_programming_spark.plans import executed_parquet_scan_count
    from big_data_programming_spark.registry import catalog

    spark = S.get_spark("plan-tests", cpus=8)
    S.release_caches(spark)  # same order-independence guard as the l5j pin
    try:
        n_train = executed_parquet_scan_count(
            catalog()["l5k_train_quality_weights"].fn(spark, SF_DIR)
        )
        assert n_train == 3, n_train
        S.release_caches(spark)
        n_gate = executed_parquet_scan_count(
            catalog()["l5k2_trained_quality_gate"].fn(spark, SF_DIR)
        )
        assert n_gate <= 7, n_gate
    finally:
        S.release_caches(spark)


def test_l4c_tfidf_single_corpus_pass():
    """l4c (r11 optimization): tf and df must derive from ONE tokenize
    pass. The r9-era shape shared the per-doc pre-aggregate between
    the tf and df subtrees, but column pruning specializes each copy
    (df's drops cnt), exchange reuse never fires, and the corpus was
    tokenized twice — measured at the runtime level: 3 executed scans.
    The fix folds both term_freq and the per-slice doc count into one
    (lang, token) aggregate and cuts its lineage eagerly, so the only
    remaining scans are the corpus pass and the skinny n_docs count.
    Counted DURING construction because the eager localCheckpoint runs
    its scan in its own SQL execution."""
    import big_data_programming_spark.session as S
    from big_data_programming_spark.plans import (
        evaluate_fully,
        executed_parquet_scan_count_during,
    )
    from big_data_programming_spark.registry import catalog

    spark = S.get_spark("plan-tests", cpus=8)
    S.release_caches(spark)
    n = executed_parquet_scan_count_during(
        spark,
        lambda: evaluate_fully(catalog()["l4c_tfidf_top_terms"].fn(spark, SF_DIR)),
    )
    assert n == 2, n


def test_lm5_single_signature_pass():
    """lm5 (r12 optimization): the four band joins consume the simhash
    signature table on BOTH sides (hist + new), and column pruning
    specializes each consumer's copy so exchange reuse never fires —
    measured on the r11 tree: 16 executed corpus scans / 16 tokenize
    Generates for one query. The eager localCheckpoint of the
    (doc_id, sig) table makes the single tokenize+aggregate pass
    structural: exactly 1 executed parquet scan (the checkpoint build;
    every join consumer reads materialized rows). Counted DURING
    construction because the eager checkpoint runs in its own SQL
    execution (the l4c pin's idiom)."""
    import big_data_programming_spark.session as S
    from big_data_programming_spark.plans import (
        evaluate_fully,
        executed_parquet_scan_count_during,
    )
    from big_data_programming_spark.registry import catalog

    spark = S.get_spark("plan-tests", cpus=8)
    S.release_caches(spark)
    n = executed_parquet_scan_count_during(
        spark,
        lambda: evaluate_fully(
            catalog()["lm5_incremental_simhash_dedup"].fn(spark, SF_DIR)
        ),
    )
    assert n == 1, n


def test_grouped_map_boundaries_prune_columns():
    """ud4/ud6 (r12 optimization, guide §4.1): applyInPandas and
    mapInPandas are opaque to column pruning, so the explicit select
    before the boundary is the only thing keeping unused columns out
    of the scan, the shuffle, and the Arrow crossing. Pin the scan's
    ReadSchema to exactly the needed columns."""
    import big_data_programming_spark.session as S
    from big_data_programming_spark.registry import catalog

    spark = S.get_spark("plan-tests", cpus=8)
    ud4 = catalog()["ud4_grouped_map"].fn(spark, SF_DIR)
    assert set(scan_read_columns(ud4)) == {"o_custkey", "o_orderkey", "o_totalprice"}
    ud6 = catalog()["ud6_map_in_pandas"].fn(spark, SF_DIR)
    assert set(scan_read_columns(ud6)) == {"event_id", "user_id", "value", "props"}


def _build_jobs(spark, names) -> dict[str, int]:
    """Spark jobs each named query starts while it is only being built
    (``q.fn(spark, SF_DIR)``, no action)."""
    from big_data_programming_spark.plans.explain import newest_job_id
    from big_data_programming_spark.registry import catalog

    cat = catalog()
    jobs = {}
    for name in names:
        before = newest_job_id(spark)
        cat[name].fn(spark, SF_DIR)
        jobs[name] = newest_job_id(spark) - before
    return jobs


def test_dedup_pair_queries_build_without_jobs():
    """Building the exact-pair and MinHash dedup queries runs no Spark
    job: every action belongs to the caller. A partition-count probe
    (``.rdd.getNumPartitions()``) on an already repartitioned frame
    makes AQE materialize that shuffle while the query is still being
    built, which is what l2i's second spread_fanout_input call did."""
    import big_data_programming_spark.session as S

    spark = S.get_spark("plan-tests", cpus=8)
    jobs = _build_jobs(
        spark,
        (
            "l2_jaccard_near_dup",
            "l2c_minhash_lsh",
            "l2g_ngram_jaccard",
            "l2g2_ngram_jaccard_shard",
            "l2h_ngram_containment",
            "l2i_minhash_banded",
            "l2n_banding_recall_audit",
        ),
    )
    eager = {name: n for name, n in jobs.items() if n}
    assert not eager, f"jobs started while building: {eager}"


def test_iterative_queries_build_within_job_budget():
    """The iterative graph and BPE queries build with few Spark jobs.
    Each loop is an operators/graph.py ``fixpoint``: a round's lineage
    cut is lazy unless it observes metrics, and convergence (CC, k-core)
    is counted on the round's own cut job, not by a separate
    ``count()`` probe; pagerank's node count and triangle_counts'
    broadcast gate are observed on their cuts too. Hand-rolled, these
    loops started 67 (l2d), 44 (l2d2), 15 (g1), 81 (g2), 36 (g4), 35
    (g5) and 34 (l4m3, l4m4) jobs while building at sf0.01."""
    import big_data_programming_spark.session as S

    budget = {
        "l2d_dedup_clusters": 41,
        "l2d2_cc_two_phase": 37,
        "g1_triangle_counts": 12,
        "g2_pagerank": 37,
        "g4_kcore": 18,
        "g5_label_propagation": 26,
        "l4m3_bpe_merge_learning": 17,
        "l4m4_learned_bpe_encode": 17,
    }
    spark = S.get_spark("plan-tests", cpus=8)
    jobs = _build_jobs(spark, budget)
    over = {name: (n, budget[name]) for name, n in jobs.items() if n > budget[name]}
    assert not over, f"build-time jobs over budget (jobs, budget): {over}; all: {jobs}"


def test_query_builds_stay_within_py4j_budget(monkeypatch):
    """Building the wide-expression queries stays cheap on the driver:
    the MinHash base-hash, signature, band and SimHash vote expressions
    (l2i, l2b), the 256-double l5i weight row, the l5i logit's bucket
    lookup and fold, and the funnel stage dimension (l5i, l5g, l5j,
    lm10) and the word n-gram arrays of the LM ladder (l5e5) are each
    one parsed SQL string, not one py4j round
    trip per Column node. Gateway commands are counted over one build,
    leaving out py4j's memory-release (``m``) commands: those are sent
    when the collector finalizes Java object proxies, so their number
    depends on when collection runs, while every other command is the
    same on every build. Built Column by Column they took >= 4,300 for
    l2i, >= 2,000 for l2b, >= 1,600 for l5i, >= 3,200 for l5g, >= 5,200
    for l5j, >= 4,500 for lm10 and 2,328 for l5e5."""
    import py4j.clientserver as cs
    from py4j.protocol import MEMORY_COMMAND_NAME

    import big_data_programming_spark.session as S
    from big_data_programming_spark.registry import catalog

    spark = S.get_spark("plan-tests", cpus=8)
    sent = [0]
    send = cs.ClientServerConnection.send_command

    def counting(self, command):
        if not command.startswith(MEMORY_COMMAND_NAME):
            sent[0] += 1
        return send(self, command)

    monkeypatch.setattr(cs.ClientServerConnection, "send_command", counting)
    cat = catalog()

    def commands(name: str) -> int:
        sent[0] = 0
        cat[name].fn(spark, SF_DIR)
        n = sent[0]
        S.release_caches(spark)  # l5j, l5e5 persist
        return n

    budget = {
        "l2i_minhash_banded": 850,
        "l2b_simhash": 200,
        "l5i_fasttext_quality_gate": 355,
        "l5g_pipeline_verdict": 1660,
        "l5j_curation_pipeline": 3200,
        "lm10_incremental_curation_funnel": 2450,
        "l5e5_trigram_backoff_logprob": 1800,
    }
    got = {n: commands(n) for n in budget}
    assert all(got.values()), f"no gateway command counted: {got}"
    over = {n: c for n, c in got.items() if c > budget[n]}
    assert not over, (over, got)
