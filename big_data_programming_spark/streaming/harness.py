"""Streaming source + deterministic drain harness (SURVEY.md §2.1
S8/S9, §3.3), and the one place query scratch files live.

The fixture ``events`` table is replayed through ``spark.readStream``
(file source) and drained with ``trigger(availableNow=True)`` into a
memory sink — the bounded-replay shape from SURVEY.md §3.3 that makes
every §2.9 streaming operator deterministically testable against its
batch twin. On a real cluster the same queries run unchanged against a
directory that keeps receiving files (or a Kafka source) with a
durable checkpoint location; nothing here depends on the input being
bounded except the ``awaitTermination`` in :func:`run_bounded`, the
one place a bounded stream starts.

Scratch policy — two lifetimes:

* **run**: a checkpoint :func:`run_bounded` makes itself (``ckpt``
  not given, as in :func:`drain`) is removed when that run ends;
* **process**: files a returned DataFrame reads lazily (sink outputs,
  staged inputs, a checkpoint the state reader opens) must outlive the
  query body, so :func:`scratch_dir` makes them — and the checkpoints
  that restarted runs share — under one per-process root below
  :func:`_ckpt_base`, and one ``atexit`` handler removes that root.
"""

from __future__ import annotations

import atexit
import contextlib
import itertools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from big_data_programming_spark.sources.schemas import SCHEMAS

_sink_ids = itertools.count()

#: This process's scratch root, made on the first :func:`scratch_dir`.
_scratch_root: str | None = None


def _ckpt_base() -> str | None:
    """Checkpoint parent dir: tmpfs when available (bounded test drains
    write thousands of tiny state/commit files — memory-backed fs cuts
    the fsync cost), else the default tempdir. A real deployment points
    checkpointLocation at durable shared storage instead. Looked up by
    name on every use, so rebinding it moves all scratch."""
    return "/dev/shm" if os.path.isdir("/dev/shm") else None


def scratch_dir(prefix: str) -> str:
    """A fresh empty directory for files that outlive one stream run:
    those a returned DataFrame reads lazily, or a checkpoint that
    restarted runs share. All of them sit under one root per process,
    created below :func:`_ckpt_base` on first use and removed at
    interpreter exit."""
    global _scratch_root
    if _scratch_root is None:
        _scratch_root = tempfile.mkdtemp(prefix="bdps_scratch_", dir=_ckpt_base())
        atexit.register(shutil.rmtree, _scratch_root, True)
    return tempfile.mkdtemp(prefix=prefix, dir=_scratch_root)


def run_bounded(writer: DataStreamWriter, ckpt: str | None = None) -> None:
    """Run a configured stream writer over the input present now
    (``availableNow``) and wait for it to end. ``ckpt`` is the
    checkpoint; a query restarted on the same one resumes where the last
    run committed. Without it the run gets a throwaway checkpoint,
    removed once the run ends.

    State-store partition count is fixed per query at first start from
    spark.sql.shuffle.partitions. The fixture state (thousands of
    windows/sessions) fits comfortably in few partitions, and each
    state partition costs checkpoint files + a store instance per
    micro-batch — so start the bounded run with a small count and
    restore the session conf after. Pure overhead tuning: partition
    count never changes results. r11 measurement at sf0.1: 8 -> 2
    cuts st1 ~1.06 s -> ~0.9 s and st10 (stream-stream join, four
    store instances per partition) 2.7-2.9 s -> ~1.9 s. A production
    stream sizes this to state volume/throughput, not to the bounded
    fixture drain.
    """
    spark = writer._spark  # the session the query starts on
    if ckpt is None:
        run_ckpt = tempfile.TemporaryDirectory(prefix="bdps_ckpt_", dir=_ckpt_base())
    else:
        run_ckpt = contextlib.nullcontext(ckpt)
    with run_ckpt as path:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        try:
            q = (
                writer.option("checkpointLocation", path)
                .trigger(availableNow=True)
                .start()
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        q.awaitTermination()


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 — the events table as an unbounded stream.

    Same native ns→µs parquet read as the batch loader
    (sources/loaders.py:load) so the streaming and batch plans see
    bit-identical timestamps. One deliberate difference: ``ts`` is
    emitted as TIMESTAMP (session-zoned), not TIMESTAMP_NTZ, because
    ``withWatermark`` requires a zoned event-time column
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE otherwise). The session zone
    is UTC (session.py), so wall-clock values are identical; queries
    cast window bounds back to TIMESTAMP_NTZ on output to match their
    batch twins.
    """
    # The file stream source requires a *directory* and a declared
    # schema (the batch loader's); select the single fixture file out of
    # the sf dir with a glob filter.
    raw = (
        spark.readStream.schema(SCHEMAS["events"])
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 — the documents corpus as an unbounded stream: the
    continuous-ingest shape of a training-data pipeline (crawl batches
    landing as files; the same query runs unchanged when the directory
    keeps receiving shards). No event-time column, so no watermark —
    consumers are either stateless maps or running aggregates."""
    return (
        spark.readStream.schema(SCHEMAS["documents"])
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def drain(df: DataFrame, output_mode: str) -> DataFrame:
    """S9/ST9 — run a streaming DataFrame to completion and return the
    drained result.

    ``availableNow`` processes the bounded input then runs the no-data
    micro-batch that lets event-time watermarks flush final state
    (append-mode windowed aggs would otherwise under-emit). The memory
    sink holds the result table; tests and the driver read it like any
    DataFrame. The checkpoint lives for the run only — a durable path
    is a production concern, not a semantics one.
    """
    name = f"bdps_stream_sink_{next(_sink_ids)}"
    run_bounded(
        df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    )
    return df.sparkSession.table(name)


def drain_foreach_batch(df: DataFrame, batch_fn) -> None:
    """ST9 — drain a stream through ``foreachBatch`` (arbitrary-sink
    escape hatch: upserts, multi-sink fanout, JDBC, ...)."""
    run_bounded(df.writeStream.foreachBatch(batch_fn))
