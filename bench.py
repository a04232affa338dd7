"""Headline benchmark (driver contract): run the flagship query suite at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Timing protocol (BASELINE.md): an UNTIMED warm-up pass of the whole
suite to pay JVM/codegen startup per query family, then per-query
wall-clock of a full plan+execute drained through the JVM-side noop
sink (executes the complete plan, writes nothing, no driver collect,
no JVM→Python row serialization — mirrors how a cluster job would
sink results). The timed measurement itself is unchanged since round
1; round 8 added two UNTIMED protections against the driver-context
drift adjudicated in rounds 5-7 (driver snapshots up to 1.4x the
same-day quiet medians, worst right after the 50-query correctness
pass):

* a SETTLE GATE before the session starts — wait for the 1-minute
  load average to drop below _SETTLE_LOAD (or _SETTLE_MAX_S), so the
  timed loop no longer races the previous job's JVM shutdown / page
  flush;
* the warm-up covers EVERY suite query once (not just the flagship),
  so first-run codegen compilation, shuffle-file allocation, and the
  pandas-UDF worker spin-up are paid before any clock starts.

Both are outside the timed region; the per-query numbers remain
comparable with the round 1-7 series (warm state only ever removed
noise that the quiet-triple protocol was already excluding by hand —
see BASELINE.md round-8 section for the side-by-side evidence). The
JSON line gains a "env" diagnostic object (settle seconds, load
before/after) so future drift adjudication is recorded, not argued.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from big_data_programming_spark.registry import catalog
from big_data_programming_spark.session import DEFAULT_CPUS, DEFAULT_SF_DIR, get_spark

#: Headline suite — one representative per operator family; the full
#: catalog runs in the driver's correctness pass, not here.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "w4_running_sum",
    "e1_hourly_event_stats",
    "e3_sessionization",
    "l1_exact_dedup",
    "l2b_simhash",
    "l3_cosine_topk",
    "l3b_bucketed_near_pairs",
    "l4_text_stats",
    "l4c_tfidf_top_terms",
    "st1_watermark_tumbling",
    "ud2_pandas_scalar",
    # r12 ADDITION (the r11 verdict's contract item 1): one genuinely
    # compute-bound member. Every other headline query is
    # overhead-dominated at fixture scale (all 8-vs-32-core ratios ≈ 1,
    # which tripped the driver's suspect_cpus_ignored heuristic even
    # though the env var is honored); l2g2's half-shard inverted-index
    # fan-out is ~80 s of parallel JVM work whose measured ratio is
    # ~3.7 (9.5 s at 8 cores vs 2.6 s at 32). Existing entries are
    # unchanged — adding a key to "queries" is the allowed direction.
    "l2g2_ngram_jaccard_shard",
]

# NOT in the headline: the pairwise near-dup ops (l2_jaccard_near_dup,
# l2c_minhash_lsh). The synthetic fixture corpus is pathologically
# dense — ~40% of ALL doc pairs are true near-duplicates at J>=0.5
# (500 docs -> ~90k qualifying pairs), so any correct pairwise output
# is Θ(n²) rows ON THIS DATA and the bench would measure fixture
# density, not engine speed. Real corpora are sparse, which is what the
# LSH banding exploits; the ops run in the sf0.01 correctness gate.


#: Settle gate: wait (at most _SETTLE_MAX_S) for the 1-min load
#: average to fall below _SETTLE_LOAD before starting. The driver's
#: bench runs seconds after its 50-query correctness pass; rounds 5-7
#: showed that racing the previous JVM's shutdown + page flush
#: inflates the timed loop up to 1.4x vs the same code on a quiet
#: machine (BENCH_r07 36.9 s vs quiet triple 26.7 s, same day).
_SETTLE_LOAD = 4.0
_SETTLE_MAX_S = 150.0


def _settle() -> dict:
    """Block until the machine is quiet(ish); return diagnostics."""
    load0 = os.getloadavg()[0]
    t0 = time.monotonic()
    # Flush dirty pages left by a preceding job (the driver's 50-query
    # pass writes shuffle/checkpoint/tmp files): otherwise kernel
    # writeback competes with st1's timed checkpoint fsyncs.
    try:
        os.sync()
    except OSError:
        pass
    while (
        os.getloadavg()[0] > _SETTLE_LOAD
        and time.monotonic() - t0 < _SETTLE_MAX_S
    ):
        time.sleep(5)
    return {
        "load_at_start": round(load0, 2),
        "load_after_settle": round(os.getloadavg()[0], 2),
        "settle_s": round(time.monotonic() - t0, 1),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    env = _settle()
    spark = get_spark("bdps-bench", cpus=DEFAULT_CPUS)
    # Parallelism self-evidence (r12, the r11 verdict's contract item):
    # record the EFFECTIVE master / shuffle partitions / resolved cpu
    # count in the JSON line, so a scaling probe can verify from the
    # artifact alone that $SPARK_GRAFT_CPUS reached the session instead
    # of inferring it from timing ratios (which are overhead-dominated
    # at fixture scale).
    env["master"] = spark.conf.get("spark.master")
    env["shuffle_partitions"] = spark.conf.get("spark.sql.shuffle.partitions")
    env["cpus"] = spark.sparkContext.defaultParallelism
    cat = catalog()
    suite = [n for n in HEADLINE if n in cat]

    def drain(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # UNTIMED warm-up: one pass of the whole suite — JVM + per-query
    # codegen compilation, parquet footer caches, shuffle-file
    # allocation, pandas-UDF worker pool (ud2), streaming checkpoint
    # machinery (st1). Best-effort per query — a broken query must
    # not zero the whole round's numbers (it will surface as an
    # "errors" entry in the timed loop).
    for name in suite:
        try:
            drain(cat[name].fn(spark, sf_dir))
        except Exception:
            pass

    # Per-query isolation: one broken query records an "err" entry and
    # the rest of the suite still produces timings; the JSON line is
    # ALWAYS emitted (driver contract — BENCH_r{N}.json must parse).
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in suite:
        t0 = time.perf_counter()
        try:
            drain(cat[name].fn(spark, sf_dir))
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # noqa: BLE001 — bench must survive anything
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "env": env,
    }
    if errors:
        out["errors"] = errors
    print(json.dumps(out))


if __name__ == "__main__":
    main()
