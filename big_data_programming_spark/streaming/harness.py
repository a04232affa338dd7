"""Streaming source + deterministic drain harness (SURVEY.md §2.1
S8/S9, §3.3).

The fixture ``events`` table is replayed through ``spark.readStream``
(file source) and drained with ``trigger(availableNow=True)`` into a
memory sink — the bounded-replay shape from SURVEY.md §3.3 that makes
every §2.9 streaming operator deterministically testable against its
batch twin. On a real cluster the same queries run unchanged against a
directory that keeps receiving files (or a Kafka source) with a
durable checkpoint location; nothing here depends on the input being
bounded except the test-side ``awaitTermination``.
"""

from __future__ import annotations

import itertools
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

#: events schema as the *streaming file source* must declare it:
#: PySpark 4.1 reads the ns-precision parquet ``ts`` natively as
#: TIMESTAMP_NTZ truncated to µs — same as the batch loader
#: (sources/loaders.py:load).
_EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

#: documents schema for the streaming file source (matches the fixture
#: parquet exactly; no timestamps, so no zone handling needed).
_DOCUMENTS_RAW_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)

_sink_ids = itertools.count()


def _ckpt_base() -> str | None:
    """Checkpoint parent dir: tmpfs when available (bounded test drains
    write thousands of tiny state/commit files — memory-backed fs cuts
    the fsync cost), else the default tempdir. A real deployment points
    checkpointLocation at durable shared storage instead."""
    return "/dev/shm" if os.path.isdir("/dev/shm") else None


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
    # The file stream source requires a *directory*; select the single
    # fixture file out of the sf dir with a glob filter.
    raw = (
        spark.readStream.schema(_EVENTS_RAW_SCHEMA)
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
        spark.readStream.schema(_DOCUMENTS_RAW_SCHEMA)
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
    DataFrame. Checkpoints go to a throwaway tmpdir, removed once the
    drain ends — a durable path is a production concern, not a
    semantics one.
    """
    name = f"bdps_stream_sink_{next(_sink_ids)}"
    spark = df.sparkSession
    # State-store partition count is fixed per query at first start from
    # spark.sql.shuffle.partitions. The fixture state (thousands of
    # windows/sessions) fits comfortably in few partitions, and each
    # state partition costs checkpoint files + a store instance per
    # micro-batch — so start the bounded drain with a small count and
    # restore the session conf after. Pure overhead tuning: partition
    # count never changes results. r11 measurement at sf0.1: 8 -> 2
    # cuts st1 ~1.06 s -> ~0.9 s and st10 (stream-stream join, four
    # store instances per partition) 2.7-2.9 s -> ~1.9 s. A production
    # stream sizes this to state volume/throughput, not to the bounded
    # fixture drain.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with tempfile.TemporaryDirectory(prefix="bdps_ckpt_", dir=_ckpt_base()) as ckpt:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        try:
            q = (
                df.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        q.awaitTermination()
    return spark.table(name)


def drain_foreach_batch(df: DataFrame, batch_fn) -> None:
    """ST9 — drain a stream through ``foreachBatch`` (arbitrary-sink
    escape hatch: upserts, multi-sink fanout, JDBC, ...)."""
    with tempfile.TemporaryDirectory(prefix="bdps_ckpt_", dir=_ckpt_base()) as ckpt:
        q = (
            df.writeStream.foreachBatch(batch_fn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
