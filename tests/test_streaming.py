"""Streaming twin tests (SURVEY.md §5.2.3): each §2.9 streaming op,
drained deterministically with availableNow, must agree with its batch
formulation — same logical semantics, boundedness aside. These are
Spark-vs-Spark (no oracle), complementing the DuckDB parity checks in
test_oracle_parity.py."""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile

from pyspark.sql import functions as F

from big_data_programming_spark.functions.canonical import dsum
from big_data_programming_spark.sources.loaders import load
from big_data_programming_spark.streaming import harness
from big_data_programming_spark.streaming.harness import drain, events_stream
from tests.conftest import SMOKE_SF_DIR, spark_result

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bdps_entries(pattern: str = "bdps_*") -> set[str]:
    bases = {harness._ckpt_base(), tempfile.gettempdir()} - {None}
    return {p for b in bases for p in glob.glob(os.path.join(b, pattern))}


def test_stream_replays_batch_rows(spark):
    """S8 smoke: the stream sees exactly the batch table (ids, µs
    timestamps, values) after ns→µs truncation, and the drain leaves
    no checkpoint directory behind."""
    before = _bdps_entries("bdps_ckpt_*")
    got = drain(events_stream(spark, SMOKE_SF_DIR), "append")
    assert _bdps_entries("bdps_ckpt_*") - before == set()
    want = load(spark, SMOKE_SF_DIR, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    assert spark_result(got) == spark_result(want)


#: Every catalog query that writes files its returned frame reads.
SCRATCH_QUERIES = (
    "st9_foreach_batch_sink",
    "st11_incremental_upsert",
    "st14_checkpoint_recovery",
    "st16_incremental_agg_maintenance",
    "st17_python_stream_source",
    "st19_state_store_reader",
    "st23_foreach_row_sink",
    "st25_partitioned_stream_sink",
    "s2_csv_roundtrip",
    "s2b_corrupt_records",
    "s3_json_roundtrip",
    "s6_partitioned_roundtrip",
    "s10_orc_roundtrip",
    "s11_text_source",
    "s12_binaryfile_source",
    "s13_schema_evolution",
    "s15_compaction",
    "s18_xml_roundtrip",
    "s19_python_sink",
    "s26_zstd_compression",
    "o5_bucketed_join",
    "o9_file_size_targeting",
    "j12_dynamic_partition_pruning",
)


def test_scratch_queries_leave_only_the_scratch_root(spark):
    """Queries whose frames read files lazily put those files under the
    one per-process scratch root; drain checkpoints go when their run
    ends. So after all of them, and after their frames are read, the
    only new ``bdps_*`` entry next to the checkpoints or in the temp
    dir is that root."""
    from big_data_programming_spark.registry import queries

    q = queries()
    before = _bdps_entries()
    frames = {name: q[name](spark, SMOKE_SF_DIR) for name in SCRATCH_QUERIES}
    for name, df in frames.items():
        assert df.count() > 0, name
    new = _bdps_entries() - before
    assert new <= {harness._scratch_root}, sorted(new)
    assert os.path.basename(harness._scratch_root).startswith("bdps_scratch_")


def test_scratch_root_is_removed_at_exit():
    """The scratch root lives exactly as long as the process that made
    it (Spark-free: a child interpreter only asks for a directory)."""
    code = (
        "import os\n"
        "from big_data_programming_spark.streaming.harness import scratch_dir\n"
        "d = scratch_dir('bdps_probe_')\n"
        "open(os.path.join(d, 'f'), 'w').close()\n"
        "print(d)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, check=True
    )
    root = os.path.dirname(out.stdout.strip())
    assert os.path.basename(root).startswith("bdps_scratch_"), out.stdout
    assert not os.path.exists(root)


def test_s15_compaction_writes_four_files_on_two_cores():
    """s15 rewrites its 48 fragment files into 4 at any core count. On a
    2-core session Spark packed the 48 small files into 2 read splits,
    and coalesce(4), which never adds partitions, wrote 2 files. Runs in
    a child interpreter so the session really has 2 cores."""
    code = (
        "import big_data_programming_spark.session as S\n"
        "from big_data_programming_spark.registry import catalog\n"
        "spark = S.get_spark('s15-two-cores', cpus=2)\n"
        f"df = catalog()['s15_compaction'].fn(spark, {SMOKE_SF_DIR!r})\n"
        "r = df.collect()[0]\n"
        "print(spark.sparkContext.defaultParallelism, r.files_before, r.files_after)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split()[-3:] == ["2", "48", "4"], out.stdout


def test_tumbling_complete_equals_batch_twin(spark):
    """ST2 (complete mode) ≡ batch groupBy(window): bit-identical."""

    def plan(df):
        return (
            df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dsum("value").alias("total_value"),
            )
            .select(
                F.col("w.start").cast("timestamp_ntz").alias("window_start"),
                "event_type",
                "n_events",
                "total_value",
            )
        )

    got = drain(plan(events_stream(spark, SMOKE_SF_DIR)), "complete")
    want = plan(
        load(spark, SMOKE_SF_DIR, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    )
    assert spark_result(got) == spark_result(want)


def test_watermark_append_is_prefix_of_batch(spark):
    """ST1/ST8: append-mode emission is exactly the batch result
    restricted to windows the final watermark passed — no extras, no
    altered aggregates."""

    def plan(df):
        return (
            df.groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.col("w.start").cast("timestamp_ntz").alias("ws"),
                F.col("w.end").cast("timestamp_ntz").alias("we"),
                "n_events",
            )
        )

    streamed = drain(
        plan(events_stream(spark, SMOKE_SF_DIR).withWatermark("ts", "2 hours")), "append"
    )
    batch_df = load(spark, SMOKE_SF_DIR, "events")
    batch = plan(batch_df.withColumn("ts", F.col("ts").cast("timestamp")))
    max_ts = batch_df.agg(F.max("ts")).collect()[0][0]
    import datetime

    wm = max_ts.replace(microsecond=max_ts.microsecond // 1000 * 1000) - datetime.timedelta(
        hours=2
    )
    want = batch.filter(F.col("we") <= F.lit(wm))
    got_rows = spark_result(streamed)
    want_rows = spark_result(want)
    assert got_rows == want_rows
    # and it IS a strict prefix: batch has windows past the watermark
    assert batch.count() > len(got_rows[1])


def test_stream_dedup_restores_exactly_once(spark):
    """ST5: union-doubled input deduped on event_id == original rows."""
    a = events_stream(spark, SMOKE_SF_DIR)
    b = events_stream(spark, SMOKE_SF_DIR)
    got = drain(
        a.unionAll(b).dropDuplicates(["event_id"]).select("event_id", "user_id"), "append"
    )
    want = load(spark, SMOKE_SF_DIR, "events").select("event_id", "user_id")
    assert spark_result(got) == spark_result(want)


def test_late_rows_past_watermark_are_dropped(spark, tmp_path):
    """ST8: a row arriving AFTER the watermark passed its window must
    be discarded — the bound that keeps state finite on an unbounded
    stream. Two files staged with ordered mtimes + maxFilesPerTrigger=1
    force: batch 1 = on-time data (watermark advances to hour 9),
    batch 2 = stragglers for hour 0 (now > 1h late) — whose counts
    must NOT appear in the emitted windows."""
    import datetime as dt
    import shutil

    def ts(h, m=0):
        return dt.datetime(2024, 1, 1, h, m, 0)

    # batch a (on-time): one event per hour 0..10 -> watermark hour 9.
    # batch b: one fresh row, so hour 9 becomes the PREVIOUS batch's
    # watermark (Spark filters late events with the watermark of the
    # prior batch - watermarkForLateEvents - while eviction uses the
    # current one). batch c: 5 stragglers for hour 0, now provably late.
    on_time = [(i, ts(i)) for i in range(11)]
    fresh = [(50, ts(10, 30))]
    late = [(100 + i, ts(0, 5 + i)) for i in range(5)]

    stage = tmp_path / "stage"
    stage.mkdir()
    schema = "event_id long, ts timestamp"
    for name, rows, age in (("a", on_time, 300), ("b", fresh, 200), ("c", late, 100)):
        d = str(tmp_path / name)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)
        (part,) = glob.glob(f"{d}/part-*.parquet")
        dst = stage / f"{name}.parquet"
        shutil.copy(part, dst)
        mtime = 1_700_000_000 - age  # a older than b -> processed first
        os.utime(dst, (mtime, mtime))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(str(stage))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("timestamp_ntz").alias("ws"), "n")
    )
    got = {r["ws"].hour: r["n"] for r in drain(agg, "append").collect()}

    # final watermark = hour 10:30 - 1h = 9:30: windows 0..8 emitted
    assert sorted(got) == list(range(9)), got
    # the hour-0 window holds ONLY the on-time event; stragglers dropped
    assert got[0] == 1, got
    assert all(n == 1 for n in got.values()), got


def test_streaming_query_listener_reports_progress(spark):
    """Operational surface: StreamingQueryListener must deliver
    start/progress/termination events with real row counts — the hook
    a production pipeline uses to export lag/throughput metrics. The
    drained bounded replay must report exactly the fixture's row count
    across its micro-batches."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StreamingQueryListener

    from big_data_programming_spark.sources.loaders import load
    from big_data_programming_spark.streaming.harness import drain, events_stream
    from tests.conftest import SF_DIR

    events = {"started": 0, "rows": 0, "terminated": 0}

    class L(StreamingQueryListener):
        def onQueryStarted(self, e):
            events["started"] += 1

        def onQueryProgress(self, e):
            events["rows"] += e.progress.numInputRows

        def onQueryIdle(self, e):
            pass

        def onQueryTerminated(self, e):
            events["terminated"] += 1

    listener = L()
    spark.streams.addListener(listener)
    try:
        s = events_stream(spark, SF_DIR)
        out = drain(
            s.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")), "complete"
        )
        n_total = sum(r.n for r in out.collect())
    finally:
        # Listener delivery is async: poll for the terminated event with
        # a bounded deadline instead of one fixed sleep — under full-suite
        # load a 2 s sleep starved (the suite's only flake, r6 verdict).
        import time

        expected = load(spark, SF_DIR, "events").count()
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline and not (
            events["terminated"] >= 1
            and events["started"] >= 1
            and events["rows"] >= expected
        ):
            time.sleep(0.25)
        spark.streams.removeListener(listener)
    assert n_total == expected
    assert events["started"] >= 1
    assert events["terminated"] >= 1
    assert events["rows"] == expected, events
