"""Driver-contract replay with a FRESH, un-tuned SparkSession.

The driver builds its own SparkSession with its own (unknown) conf —
none of the repo's session.py posture is guaranteed to be in force.
Round 2 burned on exactly this class of bug: the events loader
depended on a conf that was a no-op under the driver's PySpark 4.1.2
session (VERDICT.md r2 item 1). This test replays the contract in a
clean subprocess: bare ``SparkSession.builder.master("local[4]")``,
no repo confs, import ``__spark_entry__``, run ``entry()`` plus one
query per module (every fixture table touched at least once).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

#: One representative per query module — chosen to touch every fixture
#: table (events via e1, documents via l1/l4, embeddings via l3) so a
#: loader/env-coupling regression on any table fails here first.
SAMPLE_QUERIES = [
    "e1_hourly_event_stats",
    "a2_global_agg",
    "w1_ranking",
    "u4_distinct",
    "f2_datetime_funcs",
    "l1_exact_dedup",
    "l4_text_stats",
    "l3_cosine_topk",
    "l4f_chunk_documents",
    "ud2_pandas_scalar",
    "st1_watermark_tumbling",
    "q1_pricing_summary",
    "s2_csv_roundtrip",
    "p4_cast",
    "j6_range_join",
    "j7_asof_join",
    "s21_pipe_syntax",
    "ud14_apply_in_arrow",
    "j14_null_aware_anti_join",
    # representatives of the r3 driver reds, all defused in r4
    # (HUGEINT oracle casts / array-output stringification):
    "e3_sessionization",
    "a7_collect_aggs",
    "f4_array_funcs",
    "l4m_sequence_packing",
    "l6f_shard_manifest",
    "ud8_cogroup",
    # round-5 additions (Gopher gate, unigram LM, winnowed spans, HLL audit)
    "l5d_gopher_gate",
    "l5e_unigram_logprob",
    "l5e2_unigram_logprob_headtail",
    "l5e3_ccnet_ppl_buckets",
    "l5e4_bigram_interp_logprob",
    "l2k_duplicate_ngram_spans",
    "l2k2_duplicate_span_extents",
    "l2k3_exactsubstr_strip",
    "l2n_banding_recall_audit",
    "l3o_ivf_recall_audit",
    "l3m_hybrid_rrf_fusion",
    "a4b_approx_distinct_audit",
    "l2m_semdedup",
    "l4t_semantic_decontamination",
    "l5g_pipeline_verdict",
    "l5h_gate_ablation",
    "l4u_corpus_datasheet",
    "st29_streaming_curation_monitor",
    "dq8_k_anonymity",
    "l2o_similarity_histogram",
    # round-7 additions
    "l5i_fasttext_quality_gate",
    "l5j_curation_pipeline",
    "l5e5_trigram_backoff_logprob",
    "lm8_incremental_minhash_dedup",
    "dq9_contamination_drift",
    "st30_streaming_classifier_gate",
    "lm9_curated_mix_weights",
    # round-4 additions (llm_mixing module)
    "lm5_incremental_simhash_dedup",
    "lm6_negative_pair_audit",
    # round-4 additions (pipeline_ops / events / data_quality)
    "po1_bloom_prefilter",
    "po3_incremental_kpi_rollup",
    "e16_conversion_attribution",
    "dq6_point_in_time_join",
    # former driver reds, fixed since r3 (p4/j6/j7/e3/a7 are already
    # sampled above):
    "a18_freq_items",
    "a19_quantile_profile",
    "u5_dedup_subset",
]

_CHILD = r"""
import json, sys
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession

# The driver's posture: a session WE did not configure.
spark = (
    SparkSession.builder.master("local[4]")
    .appName("driver-contract-replay")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "8")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as entrymod

results = {}

try:
    df = entrymod.entry(spark)
    n = df.count()
    results["entry"] = "ok" if n >= 0 else "empty"
except Exception as exc:
    results["entry"] = f"{type(exc).__name__}: {exc}"[:200]

qs = entrymod.queries()
oracles = entrymod.oracle_sql()
results["n_queries"] = len(qs)
results["n_oracles"] = len(oracles)

sample = json.loads(sys.argv[1])
for name in sample:
    if name not in qs:
        results[name] = "MISSING_FROM_CATALOG"
        continue
    try:
        qs[name](spark, "/root/testdata/sf0.001").count()
        results[name] = "ok"
    except Exception as exc:
        results[name] = f"{type(exc).__name__}: {exc}"[:200]

print("CONTRACT_RESULT " + json.dumps(results))
"""


def test_driver_contract_fresh_session():
    sample = [q for q in SAMPLE_QUERIES]
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, json.dumps(sample)],
        capture_output=True,
        text=True,
        timeout=900,
    )
    marker = [l for l in proc.stdout.splitlines() if l.startswith("CONTRACT_RESULT ")]
    assert marker, (
        f"contract replay produced no result line\nstdout:\n{proc.stdout[-2000:]}"
        f"\nstderr:\n{proc.stderr[-2000:]}"
    )
    results = json.loads(marker[0][len("CONTRACT_RESULT "):])
    bad = {k: v for k, v in results.items() if k not in ("n_queries", "n_oracles") and v != "ok"}
    assert not bad, f"driver-contract failures under a fresh session: {bad}"
    assert results["n_queries"] >= 150
    assert results["n_oracles"] >= 145


def test_catalog_order_is_structural_not_import_order():
    """catalog() order is a pure function of the source tree: module
    position in _QUERY_MODULES, then each module's ``register`` calls in
    file order. An early ``import queries.<late_module>`` (which any
    test file may legitimately do) must not reorder it."""
    code = (
        "import ast, json, pathlib, sys; sys.path.insert(0, sys.argv[1])\n"
        "import big_data_programming_spark.queries.pipeline_ops\n"
        "import big_data_programming_spark.queries.llm_mixing\n"
        "from big_data_programming_spark.registry import"
        " catalog, _QUERY_MODULES\n"
        "qdir = pathlib.Path(sys.argv[1], 'big_data_programming_spark', 'queries')\n"
        "expected = []\n"
        "for m in _QUERY_MODULES:\n"
        "    tree = ast.parse((qdir / f'{m}.py').read_text())\n"
        "    calls = [c for c in ast.walk(tree) if isinstance(c, ast.Call)"
        " and isinstance(c.func, ast.Name) and c.func.id == 'register']\n"
        "    calls.sort(key=lambda c: (c.lineno, c.col_offset))\n"
        "    expected += [c.args[0].value for c in calls]\n"
        "print(json.dumps([list(catalog()), expected]))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, str(Path(__file__).resolve().parents[1])],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    names, expected = json.loads(out.stdout.splitlines()[-1])
    # st12 registers only where google.protobuf is importable.
    expected = [n for n in expected if n in names or n != "st12_transform_with_state"]
    assert len(names) >= 311
    assert names == expected
