"""SparkSession factory (SURVEY.md §7 M0).

One place to encode the execution posture:

* **AQE on** — runtime shuffle-partition coalescing and skew-join
  splitting are the main 100 TB levers (SURVEY.md §4); at local scale
  they also keep tiny shuffles from fragmenting into 200 empty tasks.
* **Arrow on** — pandas interchange and every pandas UDF ride Arrow
  batches instead of pickled rows.
* **UTC session timezone** — the fixture parquet stores naive
  timestamps; DuckDB (the correctness oracle) treats TIMESTAMP as naive,
  so Spark must not re-interpret them through a local zone.
* **ANSI mode stays on** (Spark 4 default) — DuckDB errors on
  overflow/bad casts the same way, so disabling ANSI would *create*
  semantic drift, not remove it (SURVEY.md §7 hard-part 5).
* **shuffle.partitions sized to cores** for local mode. On a real
  cluster this is superseded by AQE's coalescing from
  ``initialPartitionNum``; the code never assumes a fixed partition
  count.
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Iterator

from pyspark.sql import SparkSession

#: Number of local cores the driver environment provides (local[32]).
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: Default scale-factor directory for ad-hoc runs and bench.py.
DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "big_data_programming_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Safe to call repeatedly — ``getOrCreate`` reuses the live session, so
    tests, bench.py and the driver's verify all share one JVM.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # --- correctness posture ---
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # --- scale posture (SURVEY.md §4): AQE owns runtime re-planning ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(cpus))
        # --- codegen compile cache (r11 optimization) ---
        # The generated-class cache defaults to 100 entries; a session
        # that runs a suite of distinct queries (bench: 16 queries ≈
        # 230 codegen units; the driver's correctness pass: 50+)
        # thrashes it completely — measured: the bench's timed loop
        # recompiled 228 of its ~230 units with the default cache and
        # 4 with this one. Compilation is driver-side, serial, and
        # pure overhead; the cache holds generated classes whose
        # footprint at 5000 entries is a few hundred MB at most, well
        # inside any driver heap that runs multi-query sessions. Not
        # scale-dependent: a long-lived cluster session benefits the
        # same way.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # --- Python/JVM boundary: Arrow everywhere it applies ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 50k-row Arrow batches (r11, guide §4.2): larger batches
        # amortize the per-batch JVM↔Python transpose for narrow
        # numeric data — measured ud2/ud6 medians drop ~15-35% vs the
        # 10k default. Spark 4's maxBytesPerBatch (default 64 MB)
        # still byte-bounds batches of wide rows (document text,
        # multimodal payloads), so the record cap only governs narrow
        # rows — raising it does not grow worst-case batch memory.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        # local[32] has 128 GiB to play with; give the single JVM room so
        # sf0.1 benches never spill for lack of driver heap.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # quiet the console; the driver greps stdout for bench JSON
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_caches(spark: SparkSession) -> None:
    """Release every DataFrame cache in the session (the r6 advisor's
    unpersist hook): the persisting operators (semdedup's assignment
    table and l5e4's bigram stream under materialize=True,
    winnowed_span_extents' fingerprint table always) persist at their
    documented pipeline write-out
    points and deliberately have NO in-function release — the return
    is lazy, so an eager unpersist would recompute the very lineage
    the persist avoids. A long-lived session that loops over such
    queries (repeated bench reps, a REPL) calls this between
    iterations once each result is consumed; one-shot driver runs
    never need it."""
    spark.catalog.clearCache()


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str) -> Iterator[None]:
    """Set one session conf for the statements inside, then restore the
    session's previous setting (or unset it if there was none)."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
