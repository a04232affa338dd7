"""Structured Streaming queries st1-st30 (SURVEY.md §2.9 ST1-ST10,
§7 M6).

Every query replays a bounded fixture (``events``, or ``documents``
for the curation streams) through ``spark.readStream`` (S8) and drains
deterministically with ``trigger(availableNow=True)`` into a sink (S9)
— see streaming/harness.py. The oracle for each is the
*batch-equivalent* SQL: identical results because event-time semantics
don't depend on boundedness. Its event-time rules come from the
kernels in operators/sessions.py, one per engine: ``window_sql`` (the
DuckDB twin of ``F.window``, read on the Spark side through
``window_bounds``), ``sessionize_sql`` (gap sessions) and, for
watermarked append-mode queries, ``watermark_us_sql``, the final
watermark (max event time, ms-floored, minus the delay) that the
no-data micro-batch applies: a window or session is emitted iff its
end is at or before it.

Scale posture: state size is the 100 TB concern, not throughput.
Tumbling/sliding aggs keep one row of state per open window per key;
watermarks bound state retention (ST1/ST8); dedup state is bounded by
``dropDuplicatesWithinWatermark``; the stateful escape hatch (ST6)
holds one fixed-width tuple per user. Nothing here buffers raw events.
"""

from __future__ import annotations

import importlib.util
from collections.abc import Callable, Iterator
from contextlib import AbstractContextManager

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_programming_spark.functions.canonical import DEC, dbl_sql, dsum, dsum_sql
from big_data_programming_spark.operators.sessions import (
    sessionize_sql,
    watermark_us_sql,
    window_bounds,
    window_sql,
)
from big_data_programming_spark.operators.upsert import latest_per_key
from big_data_programming_spark.queries.pipeline_ops import (
    HLL_ALPHA_SQL,
    HLL_ORACLE_RHO,
    POW2_57_INT,
    hll_bucket,
    hll_h56,
    hll_oracle_hashed,
    hll_rho,
)
from big_data_programming_spark.queries.events import E2_SLIDING_ORACLE
from big_data_programming_spark.registry import register
from big_data_programming_spark.session import scoped_conf
from big_data_programming_spark.sources.loaders import load
from big_data_programming_spark.streaming.harness import (
    documents_stream,
    drain,
    drain_foreach_batch,
    events_stream,
    run_bounded,
    scratch_dir,
)

@register(
    "st1_watermark_tumbling",
    oracle=f"""
WITH w AS (
  SELECT {window_sql("ts", 3600, "window_start", "window_end")}, value
  FROM events
)
SELECT window_start, window_end,
       COUNT(*) AS n_events,
       {dsum_sql('value')} AS total_value
FROM w
WHERE EPOCH_US(window_end) <= {watermark_us_sql("events", 2 * 3600 * 1000)}
GROUP BY 1, 2
""",
    tags=("ST1", "ST2", "ST8", "S8", "S9"),
)
def st1_watermark_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour agg with a 2-hour watermark in *append* mode:
    windows are emitted exactly once, when the watermark passes their
    end — rows later than 2h are dropped (ST8) and window state is
    evicted, which is what bounds state at 100 TB. Windows still open
    at end-of-stream are never emitted (correct append semantics; the
    oracle applies the same final-watermark cutoff)."""
    s = events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(*window_bounds("w", "window_start", "window_end"), "n_events", "total_value")
    )
    return drain(agg, "append")


#: st2's and st20's oracle: one availableNow batch emits every group
#: once, in complete and update mode alike, so both equal the batch
#: aggregate.
_HOURLY_BY_TYPE_ORACLE = f"""
SELECT {window_sql("ts", 3600, "window_start")},
       event_type,
       COUNT(*) AS n_events,
       {dsum_sql('value')} AS total_value
FROM events
GROUP BY 1, 2
"""


def _hourly_by_type(s: DataFrame) -> DataFrame:
    """st2's and st20's aggregate: events and their value per 1-hour
    tumbling window and event_type."""
    return (
        s.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(*window_bounds("w", "window_start"), "event_type", "n_events", "total_value")
    )


@register(
    "st2_tumbling_complete",
    oracle=_HOURLY_BY_TYPE_ORACLE,
    tags=("ST2", "S8", "S9"),
)
def st2_tumbling_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour agg per event_type in *complete* mode — no
    watermark, full re-emission each batch; exactly equals the batch
    twin (e1). Complete mode is the right choice when the window count
    is small and sinks want the whole table (dashboards)."""
    return drain(_hourly_by_type(events_stream(spark, sf_dir)), "complete")


@register(
    "st3_sliding_complete",
    oracle=E2_SLIDING_ORACLE,
    tags=("ST3", "S8"),
)
def st3_sliding_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/15m windows on the stream (complete mode) — same
    logical plan as the batch twin e2, same result."""
    s = events_stream(spark, sf_dir)
    agg = (
        s.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(*window_bounds("w", "window_start", "window_end"), "n_events", "total_value")
    )
    return drain(agg, "complete")


@register(
    "st4_session_window",
    oracle=f"""
WITH sess AS ({sessionize_sql(30)})
SELECT user_id, session_start,
       session_end + INTERVAL 30 MINUTE AS session_end,
       n_events, session_value
FROM sess
WHERE EPOCH_US(session_end + INTERVAL 30 MINUTE) <= {watermark_us_sql("events", 0)}
""",
    tags=("ST4", "S8"),
)
def st4_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (30-minute gap) on the stream, append
    mode with a zero-delay watermark. Spark merges an event into a
    session while event_ts <= session_end, so an event exactly 30:00
    after the previous one stays in its session: the sessions are e3's
    (operators/sessions.py sessionize), with session_end = last_event +
    gap. Sessions are emitted when the watermark passes session_end;
    tail sessions still open at end-of-stream stay in state, and the
    oracle applies the same cutoff."""
    s = events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("session_value"),
        )
        .select(
            "user_id",
            *window_bounds("w", "session_start", "session_end"),
            "n_events",
            "session_value",
        )
    )
    return drain(agg, "append")


@register(
    "st5_stream_dedup",
    oracle="""
SELECT event_id, user_id, event_type, value
FROM events
""",
    tags=("ST5", "U4", "S8"),
)
def st5_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup: the stream unioned with itself (every event
    arrives twice) then dropDuplicates on event_id — exactly-once
    delivery reconstructed from at-least-once input. State is one key
    per seen id; production pairs this with
    dropDuplicatesWithinWatermark so ids age out of state."""
    a = events_stream(spark, sf_dir)
    b = events_stream(spark, sf_dir)
    deduped = (
        a.unionAll(b)
        .dropDuplicates(["event_id"])
        .select("event_id", "user_id", "event_type", "value")
    )
    return drain(deduped, "append")


@register(
    "st6_stateful_user_totals",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
GROUP BY user_id
""",
    tags=("ST6", "UD4", "S8"),
)
def st6_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful per-key logic via applyInPandasWithState:
    running per-user event count + spend, state = one (count, cents)
    tuple per user. Spend is summed in integer cents
    (floor(value*100+0.5), identical in both engines) so totals are
    order-independent — the float-sum canon doesn't reach into Python,
    so the operator is designed to not need it."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_totals(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int((pdf["value"] * 100 + 0.5).pipe(lambda s: s.astype("int64")).sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
        )

    s = events_stream(spark, sf_dir)
    out = s.groupBy("user_id").applyInPandasWithState(
        update_totals,
        outputStructType="user_id long, n_events long, total_cents long",
        stateStructType="n long, cents long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return drain(out, "update")


@register(
    "st7_stream_static_join",
    oracle=f"""
SELECT c.c_nationkey,
       COUNT(*) AS n_events,
       {dsum_sql('e.value')} AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
""",
    tags=("ST7", "J1", "A1", "S8"),
)
def st7_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream ⋈ static dimension: enrich events with the customer dim
    (broadcast — re-read per micro-batch, so dim updates are picked
    up), then aggregate per nation in complete mode."""
    s = events_stream(spark, sf_dir)
    customer = load(spark, sf_dir, "customer")
    joined = s.join(
        F.broadcast(customer), s.user_id == customer.c_custkey, "inner"
    )
    agg = joined.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("total_value"),
    )
    return drain(agg, "complete")


@register(
    "st9_foreach_batch_sink",
    oracle="""
SELECT event_id, user_id, event_type, value
FROM events
WHERE value >= 90.0
""",
    tags=("ST9", "S6", "S9", "P2"),
)
def st9_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: high-value events appended batch-by-batch to
    a parquet directory, then read back — the arbitrary-sink escape
    hatch (multi-sink fanout, JDBC upserts). Filter runs inside the
    stream, so the sink only ever sees matching rows."""
    out_dir = scratch_dir("bdps_st9_out_")
    s = events_stream(spark, sf_dir)
    hot = s.filter(F.col("value") >= 90.0).select(
        "event_id", "user_id", "event_type", "value"
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    drain_foreach_batch(hot, write_batch)
    return spark.read.schema("event_id long, user_id long, event_type string, value double").parquet(
        out_dir
    )


def _view_purchase_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """view→purchase conversions within 30 minutes per user, as a
    stream-stream join of two watermarked ``events`` streams (st10
    inner, st24 left outer)."""
    views = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return views.join(
        purchases,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("purchase_ts") > F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")),
        how,
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        F.col("view_ts").cast("timestamp_ntz").alias("view_ts"),
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
    )


def _view_purchase_join_sql(how: str) -> str:
    """DuckDB twin of :func:`_view_purchase_join`. The left outer join
    also emits each unmatched view, once view_ts + 30 min is behind the
    final watermark: the minimum over both inputs of max event time −
    1 h."""
    on = "p.user_id = v.user_id AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE"
    matched = f"""
WITH v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'),
     p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase')
SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
       v.ts AS view_ts, p.ts AS purchase_ts
FROM v JOIN p ON {on}
"""
    if how == "inner":
        return matched
    return matched + f"""UNION ALL
SELECT v.user_id, v.event_id, NULL, v.ts, NULL
FROM v
WHERE NOT EXISTS (SELECT 1 FROM p WHERE {on})
  AND EPOCH_US(v.ts) + 1800000000
      <= LEAST({watermark_us_sql("v", 3600 * 1000)}, {watermark_us_sql("p", 3600 * 1000)})
"""


@register(
    "st10_stream_stream_join",
    oracle=_view_purchase_join_sql("inner"),
    tags=("ST7", "J9", "S8"),
)
def st10_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: view→purchase conversions within 30
    minutes per user. Both sides are watermarked and the join condition
    carries the event-time range, so Spark bounds each side's buffered
    state to the watermark+range horizon — the required shape for an
    unbounded-input join (an un-ranged stream-stream join would buffer
    forever). Inner join + availableNow drains the complete result, so
    the batch self-join (J9) is the exact oracle."""
    return drain(_view_purchase_join(spark, sf_dir, "inner"), "append")


def _snapshot_fold(
    spark: SparkSession,
    ev: DataFrame,
    snap_schema: str,
    fold: Callable[[DataFrame, DataFrame | None], DataFrame],
) -> DataFrame:
    """Copy-on-write snapshot maintenance (st11, st16): stage ``ev`` as
    4 files, stream them one file per micro-batch (its schema is the
    stream's), and write ``fold(batch, previous snapshot or None)`` to a
    NEW ``v{batch_id}`` directory each batch — never overwriting the
    one being read. Returns the last snapshot, read with
    ``snap_schema``."""
    base = scratch_dir("bdps_snapshot_")
    stage = f"{base}/stage"
    ev.repartition(4).write.mode("overwrite").parquet(stage)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(stage)
    )
    current: dict[str, str] = {}

    def step(batch_df: DataFrame, batch_id: int) -> None:
        prev = None
        if "path" in current:
            prev = spark.read.schema(snap_schema).parquet(current["path"])
        current["path"] = f"{base}/v{batch_id}"
        fold(batch_df, prev).write.mode("overwrite").parquet(current["path"])

    drain_foreach_batch(stream, step)
    return spark.read.schema(snap_schema).parquet(current["path"])


@register(
    "st11_incremental_upsert",
    oracle="""
SELECT user_id,
       event_id AS last_event_id,
       ts AS last_ts,
       event_type AS last_type,
       value AS last_value
FROM events
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
""",
    tags=("ST9", "ST11", "S8", "S6", "W6"),
)
def st11_incremental_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental upsert (CDC snapshot): maintain a per-user
    latest-event table across micro-batches via foreachBatch — the
    MERGE pattern every incremental training-data pipeline needs.

    The events table is staged as several files and streamed with
    ``maxFilesPerTrigger=1`` so the drain runs REAL multi-batch merges:
    each micro-batch reduces to its per-key latest rows
    (operators/upsert.py), merges with the current snapshot, and writes
    a NEW versioned directory (copy-on-write, the Delta/Iceberg MERGE
    shape — never overwrite the directory being read). The final
    snapshot must equal the batch latest-per-key over all events, which
    is the oracle. Because ``latest_per_key`` is associative and
    idempotent, the result is independent of how files land in batches
    — the property that makes the pipeline restartable at scale."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )

    def upsert(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        latest = latest_per_key(batch_df, ["user_id"], ["ts", "event_id"])
        if prev is None:
            return latest
        return latest_per_key(prev.unionByName(latest), ["user_id"], ["ts", "event_id"])

    snap = _snapshot_fold(
        spark,
        ev,
        "user_id long, event_id long, ts timestamp_ntz, event_type string, value double",
        upsert,
    )
    return snap.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
    )


def _rocksdb_state_store(spark: SparkSession) -> AbstractContextManager[None]:
    """Start the queries inside on the RocksDB state store provider
    (st12, st18), then restore the session's provider setting."""
    return scoped_conf(
        spark,
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )


def st12_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's transformWithStateInPandas: per-user MapState keyed by
    event_type holding (count, cents) — the successor API to
    applyInPandasWithState (st6) with typed composite state
    (Value/List/Map), timers, and TTL. Requires the RocksDB state
    store, which is what an at-scale deployment runs anyway (HDFS-
    backed state cannot hold 100 TB-pipeline key cardinalities in
    executor heap). Money sums in integer cents keep the result
    order-independent, so the batch GROUP BY is an exact oracle."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class PerTypeTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.totals = handle.getMapState(
                "totals", "event_type string", "n long, cents long"
            )

        def handleInputRows(self, key, rows, timer_values) -> Iterator[pd.DataFrame]:
            acc: dict[str, tuple[int, int]] = {}
            for pdf in rows:
                cents = (pdf["value"] * 100 + 0.5).astype("int64")
                for et, grp in pdf.groupby("event_type"):
                    n0, c0 = acc.get(et, (0, 0))
                    acc[et] = (n0 + len(grp), c0 + int(cents[grp.index].sum()))
            for et, (n_new, c_new) in acc.items():
                if self.totals.containsKey((et,)):
                    n_old, c_old = self.totals.getValue((et,))
                else:
                    n_old, c_old = 0, 0
                self.totals.updateValue((et,), (n_old + n_new, c_old + c_new))
            out = [
                (key[0], et_row[0], val[0], val[1])
                for et_row, val in self.totals.iterator()
            ]
            yield pd.DataFrame(
                out, columns=["user_id", "event_type", "n_events", "total_cents"]
            )

        def close(self) -> None:
            pass

    s = events_stream(spark, sf_dir)
    with _rocksdb_state_store(spark):
        out = s.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=PerTypeTotals(),
            outputStructType=(
                "user_id long, event_type string, n_events long, total_cents long"
            ),
            outputMode="Update",
            timeMode="None",
        )
        return drain(out, "update")


# transformWithState's control plane speaks protobuf between the JVM and
# a driver-side Python worker; without google.protobuf installed the
# worker crashes on import (verified: STREAMING_PYTHON_RUNNER_
# INITIALIZATION_FAILURE, "cannot import name 'descriptor'"). Gate the
# registration so the query activates automatically in environments
# that carry the dependency; st6 covers ST6 via the protobuf-free
# predecessor API either way.
try:
    _HAS_PROTOBUF = importlib.util.find_spec("google.protobuf") is not None
except ModuleNotFoundError:  # no `google` namespace package at all
    _HAS_PROTOBUF = False
if _HAS_PROTOBUF:  # pragma: no cover
    register(
        "st12_transform_with_state",
        oracle="""
SELECT user_id, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
GROUP BY 1, 2
""",
        tags=("ST6", "ST12", "S8", "UD4"),
    )(st12_transform_with_state)


@register(
    "st13_dedup_within_watermark",
    oracle="""
SELECT event_id, user_id, event_type, value
FROM events
""",
    tags=("ST5", "ST1", "U4", "S8"),
)
def st13_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dropDuplicatesWithinWatermark` — the BOUNDED-state form of st5:
    dedup state is evicted once the event-time watermark passes a key,
    so state size tracks the duplicate-arrival horizon (here 1 hour)
    instead of growing with every id ever seen. This is the only
    streaming dedup that survives an unbounded run at 100 TB/day;
    plain dropDuplicates (st5) retains state forever. Correctness on
    the bounded replay is identical — every duplicate in the doubled
    stream arrives within the horizon — which the batch-distinct
    oracle pins."""
    a = events_stream(spark, sf_dir)
    b = events_stream(spark, sf_dir)
    deduped = (
        a.unionAll(b)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "value")
    )
    return drain(deduped, "append")


@register(
    "st14_checkpoint_recovery",
    oracle=f"""
SELECT event_type,
       COUNT(*) AS n_events,
       {dsum_sql('value')} AS total_value
FROM events
WHERE value >= 10.0
GROUP BY 1
""",
    tags=("S8", "S9", "ST9"),
)
def st14_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once across a stream RESTART — the operational property
    checkpointing exists for. Phase 1: half the events (even ids) land
    in the source directory and a filtered stream drains them into a
    parquet sink with a durable checkpoint. Phase 2: the other half
    arrives and a NEW query object — same source, sink, and
    checkpoint — resumes; the file-source checkpoint records which
    files were committed, so the restart processes ONLY the new
    arrivals. The final batch aggregate equals the single-pass batch
    twin: any replay of phase-1 files would double n_events and break
    the hash match, so the oracle directly certifies no-duplication +
    no-loss. This is the recover-from-driver-crash contract a 100 TB
    ingest pipeline leans on daily; at scale the checkpoint lives on
    durable shared storage and the restart is a new cluster, not a
    new query object."""
    base = scratch_dir("bdps_st14_")
    indir, outdir, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"
    e = load(spark, sf_dir, "events")

    for parity in (0, 1):
        e.filter(F.col("event_id") % 2 == parity).write.mode("append").parquet(indir)
        s = spark.readStream.schema(e.schema).parquet(indir)
        writer = s.filter(F.col("value") >= 10.0).writeStream.format("parquet")
        run_bounded(writer.option("path", outdir), ckpt)

    return (
        spark.read.parquet(outdir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )


@register(
    "st16_incremental_agg_maintenance",
    oracle=f"""
SELECT event_type,
       CAST(ts AS DATE) AS day,
       COUNT(*) AS n_events,
       {dsum_sql('value')} AS total_value
FROM events
GROUP BY 1, 2
""",
    tags=("ST9", "ST11", "A1", "A13", "S6"),
)
def st16_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MATERIALIZED-AGGREGATE maintenance — the other half
    of st11's CDC story: instead of latest-row state, each micro-batch
    folds its partial aggregates (count + decimal sum per
    (event_type, day)) into a copy-on-write snapshot. Works because
    the maintained state is MERGEABLE: counts and decimal(38,10) sums
    are associative, so snapshot ⊕ batch-partial = snapshot-so-far at
    any batch granularity — the same algebra Spark's own
    partial→final aggregation rides on, lifted to cross-batch
    persistence. The sum column stays DECIMAL inside every snapshot
    (exactness across arbitrarily many merges; cast to double only at
    the final read), which is what makes the incremental result
    bit-equal to the one-pass batch twin the oracle runs. At 100 TB
    this is how a daily dashboard table absorbs a day's events
    without ever rescanning history — merge cost is O(|batch| +
    |dirty keys|), not O(|table|)."""
    ev = load(spark, sf_dir, "events").select("ts", "event_type", "value")

    def merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        part = batch_df.groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).alias("sv"),
        )
        if prev is not None:
            part = (
                prev.unionByName(part)
                .groupBy("event_type", "day")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("sv").cast(DEC).alias("sv"),
                )
            )
        return part.select(
            "event_type", "day", "n_events", F.col("sv").cast(DEC).alias("sv")
        )

    snap = _snapshot_fold(
        spark,
        ev,
        f"event_type string, day date, n_events long, sv {DEC}",
        merge,
    )
    return snap.select(
        "event_type",
        "day",
        "n_events",
        F.col("sv").cast("double").alias("total_value"),
    )


@register(
    "st17_python_stream_source",
    oracle="""
SELECT category,
       COUNT(*) AS n_rows,
       CAST(SUM((i * 2654435761) % 2147483647) AS BIGINT) AS val_sum,
       MIN(i) AS min_id,
       MAX(i) AS max_id
FROM (SELECT i, 'cat' || CAST(i % 5 AS VARCHAR) AS category
      FROM generate_series(0, 1999) AS t(i))
GROUP BY 1
""",
    tags=("S8", "S9", "ST9"),
)
def st17_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python STREAMING data source (Spark 4
    `SimpleDataSourceStreamReader`) drained across RESTARTS: the
    source advances a dict offset by 700 ids per micro-batch (capped
    at 2000); each `availableNow` run commits its offset to the
    shared checkpoint, and the next run resumes exactly there — the
    custom-connector twin of st14's file-source recovery, proving the
    offset algebra (`initialOffset` / `read` / `readBetweenOffsets`)
    delivers every id exactly once across 3 runs + uneven batch
    boundaries. Any double-read or gap breaks the hash against the
    closed-form oracle. This is the contract a Python queue/API
    connector must honor at 100 TB/day; only the row generator is
    fixture-specific."""
    from big_data_programming_spark.sources.python_datasource import (
        register_stream_source,
    )

    register_stream_source(spark)
    base = scratch_dir("bdps_st17_")
    outdir, ckpt = f"{base}/out", f"{base}/ckpt"

    prev = -1
    for _ in range(6):  # 2000/700 -> 3 productive runs, then no growth
        s = spark.readStream.format("stream_telemetry").load()
        run_bounded(s.writeStream.format("parquet").option("path", outdir), ckpt)
        n = spark.read.parquet(outdir).count()
        if n == prev:
            break
        prev = n

    return (
        spark.read.parquet(outdir)
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("val").alias("val_sum"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
        )
    )


@register(
    "st18_rocksdb_state_store",
    oracle=f"""
SELECT event_type,
       CAST(ts AS DATE) AS day,
       COUNT(*) AS n_events,
       {dsum_sql('value')} AS total_value
FROM events
GROUP BY 1, 2
""",
    tags=("ST2", "ST6", "S8", "S9"),
)
def st18_rocksdb_state_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming aggregation on the RocksDB state store provider — the
    configuration that actually survives 100 TB streaming state: the
    default HDFSBackedStateStore keeps every key's state in executor
    HEAP (an OOM countdown for high-cardinality keys), while RocksDB
    spills to local SSD with incremental changelog checkpointing, so
    state capacity is disk-bounded and micro-batch cost tracks the
    CHANGED keys, not the total. Results must be bit-identical to the
    default-provider queries (the provider is a storage swap, never a
    semantics change) — which is exactly what the batch-twin oracle
    certifies. The provider is set per-query-start here; a production
    job sets it once in the session conf."""
    with _rocksdb_state_store(spark):
        s = events_stream(spark, sf_dir)
        agg = (
            s.groupBy("event_type", F.col("ts").cast("date").alias("day"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dsum("value").alias("total_value"),
            )
        )
        return drain(agg, "complete")


@register(
    "st19_state_store_reader",
    oracle="""
SELECT user_id, COUNT(*) AS n_events
FROM events
GROUP BY user_id
""",
    tags=("ST6", "S8", "S9"),
)
def st19_state_store_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store DATA SOURCE read (Spark 4 `statestore` format): run
    a per-user streaming count to completion, then open the query's
    checkpoint as a DataFrame and read the live aggregation state
    directly — key struct, value struct, one row per state entry.

    This is the streaming-ops escape hatch at 100 TB: state is the
    part of a streaming job you can't otherwise SELECT (it lives
    sharded inside RocksDB/HDFS checkpoint files), and the state
    reader turns debugging ('which keys are stuck', 'how big is the
    skew') into a parquet-shaped scan with partition pruning per state
    shard — no query restart, no instrumentation redeploy. The oracle
    is the batch twin of the aggregation: for a drained bounded
    stream, state == final answer, which also certifies no state row
    was lost or double-applied across micro-batches. partition_id is
    deliberately dropped: shard placement is engine topology, not
    semantics. Only the state store is read, so the sink is ``noop``."""
    s = events_stream(spark, sf_dir)
    agg = s.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    ckpt = scratch_dir("bdps_ckpt_state_")
    run_bounded(agg.writeStream.format("noop").outputMode("complete"), ckpt)
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.count").cast("long").alias("n_events"),
    )


@register(
    "st20_update_mode",
    oracle=_HOURLY_BY_TYPE_ORACLE,
    tags=("ST2", "ST8", "S8", "S9"),
)
def st20_update_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third output mode, completing the matrix (st1 append, st2
    complete): *update* emits only the groups CHANGED in each
    micro-batch — the sink contract for key-value stores where
    downstream wants upserts, not the whole table and not
    once-per-window finality. With the bounded fixture draining in one
    availableNow batch every group changes exactly once, so the union
    of update emissions equals the batch aggregate — the oracle — and
    the memory sink holds no duplicate keys; a multi-batch replay
    would re-emit updated keys, which is exactly the at-least-once
    per-key contract update mode promises. State eviction still comes
    from the watermark (2h here), so long-horizon state is bounded at
    scale just like append mode."""
    s = events_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    return drain(_hourly_by_type(s), "update")


@register(
    "st21_dynamic_gap_session",
    oracle=f"""
WITH iv AS (
  SELECT user_id, ts, event_id, value,
         EPOCH_US(ts) AS s_us,
         EPOCH_US(ts) + CASE WHEN event_type = 'view' THEN 600 ELSE 1800 END * 1000000 AS e_us
  FROM events
), flag AS (
  SELECT *, CASE WHEN MAX(e_us) OVER (
                   PARTITION BY user_id ORDER BY s_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                 OR s_us > MAX(e_us) OVER (
                   PARTITION BY user_id ORDER BY s_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            THEN 1 ELSE 0 END AS is_new
  FROM iv
), ids AS (
  SELECT *, SUM(is_new) OVER (
    PARTITION BY user_id ORDER BY s_us, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flag
), sess AS (
  SELECT user_id,
         make_timestamp(MIN(s_us)) AS session_start,
         make_timestamp(MAX(e_us)) AS session_end,
         COUNT(*) AS n_events,
         {dsum_sql('value')} AS session_value
  FROM ids GROUP BY user_id, sid
)
SELECT user_id, session_start, session_end, n_events, session_value
FROM sess
WHERE EPOCH_US(session_end) <= {watermark_us_sql("events", 0)}
""",
    tags=("ST4", "S8"),
)
def st21_dynamic_gap_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a DYNAMIC, per-event gap: short-attention
    'view' events extend a session by 10 minutes, everything else by
    30 — the per-event-type engagement horizon a static st4 gap can't
    model. Each event contributes the interval [ts, ts+gap(event));
    overlapping intervals merge, so session_end = max(ts_i + gap_i)
    over the merged chain. The oracle replays exactly that as an
    interval-union sweep: a new session starts iff the event's start
    is > the running max end of all prior intervals (an event exactly
    at a session's end joins it, as in st4). State per open session is
    still one row; the watermark (0s) still evicts — the gap column
    changes merge arithmetic, not the state bound."""
    s = events_stream(spark, sf_dir)
    gap = F.when(F.col("event_type") == "view", F.lit("10 minutes")).otherwise(
        F.lit("30 minutes")
    )
    agg = (
        s.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("session_value"),
        )
        .select(
            "user_id",
            *window_bounds("w", "session_start", "session_end"),
            "n_events",
            "session_value",
        )
    )
    return drain(agg, "append")


@register(
    "st22_chained_stateful",
    oracle=f"""
WITH q AS (
  SELECT {window_sql("ts", 900, "q_start")}, event_type, COUNT(*) AS n
  FROM events
  GROUP BY 1, 2
), h AS (
  SELECT {window_sql("q_start", 3600, "hour_start", "hour_end")},
         event_type,
         CAST(SUM(n) AS BIGINT) AS n_events,
         COUNT(*) AS n_active_quarters
  FROM q GROUP BY 1, 2, 3
)
SELECT hour_start, event_type, n_events, n_active_quarters
FROM h
WHERE EPOCH_US(hour_end) <= {watermark_us_sql("events", 0)}
""",
    tags=("ST2", "ST8", "S8"),
)
def st22_chained_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO stateful operators chained in one streaming query (Spark
    3.4+): a 15-minute tumbling count per event_type feeding an hourly
    rollup keyed on `window_time()` of the inner window — the
    multi-grain dashboard pipeline (fine grain for alerting, coarse
    for trends) in a single pass with a single watermark. The inner
    aggregate's event-time column propagates through window_time(), so
    the outer aggregate finalizes an hour exactly when the watermark
    passes hour_end; n_active_quarters counts the finalized 15-minute
    buckets that had traffic. State: one row per open quarter + one
    per open hour per key — both watermark-bounded."""
    s = events_stream(spark, sf_dir)
    quarter = (
        s.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "15 minutes").alias("q"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    hourly = (
        quarter.groupBy(
            F.window(F.window_time("q"), "1 hour").alias("h"), "event_type"
        )
        .agg(
            F.sum("n").alias("n_events"),
            F.count(F.lit(1)).alias("n_active_quarters"),
        )
        .select(*window_bounds("h", "hour_start"), "event_type", "n_events", "n_active_quarters")
    )
    return drain(hourly, "append")


@register(
    "st23_foreach_row_sink",
    oracle="""
SELECT event_id, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
FROM events
WHERE value >= 95.0
""",
    tags=("ST9", "S9"),
)
def st23_foreach_row_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level `foreach` sink (the per-ROW sibling of st9's
    foreachBatch): a ForeachWriter with the open/process/close task
    lifecycle — one writer instance per partition per epoch, `open`
    returning True to accept the partition, `process` invoked per row,
    `close` sealing the file. This is the contract for row-oriented
    sinks (message queues, KV puts) where no batch DataFrame API
    exists. Each partition-epoch writes its own staging file, so
    parallel tasks never contend; the read-back proves no row was
    lost or duplicated across the partition fan-out. At-least-once on
    retry, exactly-once here because the bounded drain runs each task
    once (st14 covers restart semantics; s19 covers a committing
    sink)."""
    out_dir = scratch_dir("bdps_st23_out_")

    class CentsWriter:
        def open(self, partition_id: int, epoch_id: int) -> bool:
            self._path = f"{out_dir}/p{partition_id}_e{epoch_id}.csv"
            self._fh = open(self._path, "w")
            return True

        def process(self, row) -> None:
            cents = int(row.value * 100 + 0.5)
            self._fh.write(f"{row.event_id},{cents}\n")

        def close(self, error) -> None:
            self._fh.close()

    s = events_stream(spark, sf_dir)
    hot = s.filter(F.col("value") >= 95.0).select("event_id", "value")
    run_bounded(hot.writeStream.foreach(CentsWriter()))
    return spark.read.schema("event_id long, cents long").csv(out_dir)


@register(
    "st24_outer_stream_stream_join",
    oracle=_view_purchase_join_sql("left_outer"),
    tags=("ST10", "J2", "S8"),
)
def st24_outer_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join — st10's conversion join, but
    views with no purchase emit a null-padded row, the shape funnel
    analysis actually needs (matched AND abandoned). The outer side
    makes the watermark load-bearing for *results*, not just state
    size: an unmatched view can only be declared unmatched once the
    watermark proves no qualifying purchase can still arrive, i.e.
    when view_ts + 30min falls behind the global watermark
    (min across both inputs of max-event-time − 1h delay, ms-floored).
    Views too close to end-of-stream stay buffered and are NOT
    emitted — the oracle reproduces exactly that cutoff in its
    NOT-EXISTS branch. Matched rows emit eagerly as in st10. This
    deferred-negative-evidence pattern is what any unbounded
    reconciliation (payment matching, ad attribution) runs on."""
    return drain(_view_purchase_join(spark, sf_dir, "left_outer"), "append")


@register(
    "st25_partitioned_stream_sink",
    oracle="""
SELECT event_id, user_id, event_type,
       CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
       TRUE AS in_partition_dir
FROM events
WHERE value >= 80.0
""",
    tags=("ST9", "S6", "S9"),
)
def st25_partitioned_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming parquet sink with HIVE PARTITIONING — the lakehouse
    landing-zone shape: each micro-batch appends files under
    event_type=<v>/ directories, so every downstream batch reader gets
    static partition pruning on the stream's output for free (the s6
    sink contract, driven by a stream). The read-back verifies BOTH
    payload fidelity (id/cents checksum vs the oracle) and the layout
    itself: `in_partition_dir` is computed from input_file_name
    containing the partition segment, pinned TRUE by the oracle — an
    engine that ignored partitionBy on the streaming path would
    hash-mismatch. Exactly-once comes from the sink's transaction log
    (_spark_metadata), the same mechanism st14 exercises across
    restarts."""
    out_dir = scratch_dir("bdps_st25_out_")
    s = events_stream(spark, sf_dir)
    hot = s.filter(F.col("value") >= 80.0).select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    run_bounded(
        hot.writeStream.format("parquet")
        .partitionBy("event_type")
        .option("path", out_dir)
    )
    back = spark.read.schema("event_id long, user_id long, cents long, event_type string").parquet(out_dir)
    return back.select(
        "event_id",
        "user_id",
        "event_type",
        "cents",
        F.input_file_name().contains("event_type=").alias("in_partition_dir"),
    )


@register(
    "st26_union_of_streams",
    oracle=f"""
WITH vp AS (SELECT * FROM events WHERE event_type IN ('view', 'purchase')),
w AS (SELECT {window_sql("ts", 3600, "window_start", "window_end")}, event_type FROM vp)
SELECT window_start, event_type, COUNT(*) AS n_events
FROM w
WHERE EPOCH_US(window_end) <= {watermark_us_sql("vp", 0)}
GROUP BY 1, 2
""",
    tags=("ST2", "U1", "S8"),
)
def st26_union_of_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION of two independent streaming sources feeding one
    watermarked aggregate — the multi-topic/multi-directory ingest
    shape (clickstream + transactions into one sessionless rollup).
    Each leg is its own readStream with its own filter; after
    unionByName, Spark tracks a watermark PER input and advances the
    query watermark to the MINIMUM — a lagging source holds results
    back rather than dropping the other source's data (the semantics
    a multi-source pipeline needs). The oracle is the batch union
    twin with the same min-watermark cutoff (both legs replay the
    same fixture file, so their max event times coincide)."""
    views = events_stream(spark, sf_dir).filter(F.col("event_type") == "view")
    purchases = events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    both = views.unionByName(purchases)
    agg = (
        both.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(*window_bounds("w", "window_start"), "event_type", "n_events")
    )
    return drain(agg, "append")


@register(
    "st27_streaming_hll_daily",
    oracle=f"""
WITH hashed AS (
  SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
         {hll_oracle_hashed("CAST(event_id AS VARCHAR)", 64)}
  FROM events
), regs AS (
  SELECT day, bucket, MAX({HLL_ORACLE_RHO}) AS m_reg
  FROM hashed GROUP BY day, bucket
), denom AS (
  SELECT day,
         {dbl_sql(
             "SUM(CAST((CAST(1 AS BIGINT) << (57 - m_reg)) AS DECIMAL(38,0)))"
             " + CAST(64 - COUNT(*) AS DECIMAL(38,0))"
             f" * CAST({POW2_57_INT} AS DECIMAL(38,0))"
         )} AS d
  FROM regs GROUP BY day
)
SELECT day,
       ({HLL_ALPHA_SQL[64]}) * 64 * 64 * {POW2_57_INT}.0 / d AS hll_estimate
FROM denom
""",
    tags=("ST2", "A4", "F7", "S8"),
)
def st27_streaming_hll_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """po7's deterministic HLL running ON THE STREAM: per-day distinct
    estimates with CONSTANT state per day (≤64 register rows — the
    reason sketches exist in streaming: exact distinct state grows
    with cardinality, register state doesn't). m = 64 here, not po7's
    256: each fixture day carries only ~350 distinct events, and the
    raw estimator (the only libm-free one) is unbiased only in its
    E > 2.5m regime — m must be sized to the PER-WINDOW cardinality,
    not the stream total (review catch; daily accuracy is bounds-
    tested in tests/test_pipeline_ops.py). The stateful streaming
    core is the (day, bucket) MAX aggregate; the estimator finish is
    stateless batch arithmetic on the drained registers. Empty buckets
    enter the denominator as (64 − present)·2^57, so no bucket grid
    is materialized. Geometry/arithmetic shared with po7 via
    pipeline_ops.hll_* helpers — the twins cannot drift."""
    s = events_stream(spark, sf_dir)
    key = F.col("event_id").cast("string")
    regs = (
        s.select(
            F.col("ts").cast("date").alias("day"),
            hll_bucket(key, 64),
            hll_h56(key),
        )
        .groupBy("day", "bucket")
        .agg(F.max(hll_rho()).alias("m_reg"))
    )
    drained = drain(regs, "complete")
    term = F.expr(
        "CAST(shiftleft(CAST(1 AS BIGINT), 57 - m_reg) AS DECIMAL(38,0))"
    )
    denom = (
        drained.groupBy("day")
        .agg(
            (
                F.sum(term)
                + (F.lit(64) - F.count(F.lit(1))).cast("decimal(38,0)")
                * F.lit(POW2_57_INT).cast("decimal(38,0)")
            )
            .cast("double")
            .alias("d")
        )
    )
    return denom.select(
        "day",
        (
            F.lit(0.709) * 64 * 64 * F.lit(float(POW2_57_INT)) / F.col("d")
        ).alias("hll_estimate"),
    )


@register(
    "st28_streaming_cm_daily",
    oracle="""
WITH depths AS (SELECT UNNEST([0, 1, 2, 3]) AS d),
cells AS (
  SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day, depths.d,
         CAST(CONCAT('0x', SUBSTRING(md5(CAST(user_id AS VARCHAR)),
             1 + 8 * depths.d, 8)) AS BIGINT) % 256 AS col,
         COUNT(*) AS cnt
  FROM events, depths GROUP BY 1, 2, 3
), exact AS (
  SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day, user_id,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
), top AS (
  SELECT day, user_id, n FROM (
    SELECT day, user_id, n,
           ROW_NUMBER() OVER (PARTITION BY day ORDER BY n DESC, user_id)
             AS rnk
    FROM exact
  ) WHERE rnk <= 3
), probes AS (
  SELECT t.day, t.user_id, t.n, depths.d,
         CAST(CONCAT('0x', SUBSTRING(md5(CAST(t.user_id AS VARCHAR)),
             1 + 8 * depths.d, 8)) AS BIGINT) % 256 AS col
  FROM top t, depths
)
SELECT p.day, p.user_id,
       CAST(p.n AS BIGINT) AS exact_count,
       CAST(MIN(c.cnt) AS BIGINT) AS cm_estimate,
       CAST(MIN(c.cnt) - p.n AS BIGINT) AS overestimate
FROM probes p
JOIN cells c ON c.day = p.day AND c.d = p.d AND c.col = p.col
GROUP BY p.day, p.user_id, p.n
""",
    tags=("ST2", "A4", "F7", "S8"),
)
def st28_streaming_cm_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """po6's Count-Min running ON THE STREAM: per-day heavy-user
    frequency estimates with CONSTANT state per day (≤ depth×width =
    1024 cells however many events a day carries — the streaming
    frequency companion to st27's cardinality registers). The
    stateful core is the (day, d, col) COUNT aggregate; the finish —
    exact daily top-3 users (the audit side, batch arithmetic) probed
    through the drained cells, min over depths — is stateless.
    Overestimate ≥ 0 per key (CM never undercounts) as pinned for
    po6; hash geometry shared via pipeline_ops.cm_col so the twins
    can't drift. At fixture scale (150 daily keys over width 256) the
    min-over-depths estimate is usually exact — overestimate rises
    with keys/width, which is the sizing dial (width ≈ e/eps of the
    per-window key count, the same per-window-sizing rule st27's m
    follows)."""
    from big_data_programming_spark.queries.pipeline_ops import cm_col

    s = events_stream(spark, sf_dir)
    key = F.col("user_id").cast("string")
    cells = (
        s.select(
            F.col("ts").cast("date").alias("day"),
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(i).alias("d"), cm_col(key, i, 256))
                        for i in range(4)
                    ]
                )
            ).alias("dc"),
        )
        .select("day", "dc.d", "dc.col")
        .groupBy("day", "d", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    drained = drain(cells, "complete")
    ev = load(spark, sf_dir, "events")
    exact = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n"))
    wtop = Window.partitionBy("day").orderBy(F.col("n").desc(), "user_id")
    top = exact.select(
        "day", "user_id", "n", F.row_number().over(wtop).alias("rnk")
    ).filter(F.col("rnk") <= 3)
    probes = top.select(
        "day",
        "user_id",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("d"),
                        cm_col(F.col("user_id").cast("string"), i, 256),
                    )
                    for i in range(4)
                ]
            )
        ).alias("dc"),
    ).select("day", "user_id", "n", "dc.d", "dc.col")
    return (
        probes.join(F.broadcast(drained), ["day", "d", "col"])
        .groupBy("day", "user_id", "n")
        .agg(F.min("cnt").alias("cm_estimate"))
        .select(
            "day",
            "user_id",
            F.col("n").alias("exact_count"),
            "cm_estimate",
            (F.col("cm_estimate") - F.col("n")).alias("overestimate"),
        )
    )


from big_data_programming_spark.operators.text import (
    L5I_WEIGHTS_SPARK_SQL,
    basic_gate,
    basic_gate_sql,
    l5i_weights_sql as _l5i_weights_sql,
    quality_logit,
    quality_logit_sql as _l5i_logit_sql,
    tokenize,
)


@register(
    "st29_streaming_curation_monitor",
    oracle=f"""
WITH g AS (
  SELECT source,
         LEN(string_split(text, ' ')) AS n_tokens,
         {basic_gate_sql("string_split(text, ' ')")} AS keeps
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN keeps THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       ROUND(CAST(SUM(CASE WHEN keeps THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 8) AS keep_rate
FROM g
GROUP BY source
""",
    tags=("ST2", "S8", "L5", "A1"),
)
def st29_streaming_curation_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus-ingest monitoring — the live dashboard a
    continuous curation pipeline runs while crawl shards land: the
    documents table consumed AS A STREAM (harness.documents_stream —
    the first non-events streaming surface), l5's basic quality gate
    evaluated in-row per arriving document, and a running per-source
    aggregate of document count, token mass, keep count, and keep
    rate in complete mode. Under availableNow bounded replay the
    final emission equals the batch aggregate, so the whole streaming
    path carries a value-hash oracle (the l4u datasheet's gate
    columns, grouped by source only).

    Plan shape: the gate is a stateless map on the stream; the only
    state is the running per-source aggregate — |sources| rows,
    constant per micro-batch, mergeable across restarts via the
    checkpoint. At 100 TB/day ingest this is the canonical monitoring
    topology: no joins, no watermark (no event-time), state bounded
    by the source-key cardinality."""
    s = documents_stream(spark, sf_dir)
    gated = s.select("source", tokenize(F.col("text")).alias("toks")).select(
        "source",
        F.size("toks").cast("bigint").alias("n_tokens"),
        basic_gate("toks").alias("keeps"),
    )
    agg = gated.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(F.when(F.col("keeps"), 1).otherwise(0)).cast("bigint").alias("n_keep"),
        F.round(
            F.sum(F.when(F.col("keeps"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            8,
        ).alias("keep_rate"),
    )
    return drain(agg, "complete")


@register(
    "st30_streaming_classifier_gate",
    oracle=f"""
WITH w AS (SELECT {_l5i_weights_sql()} AS wv),
g AS (
  SELECT source,
         {_l5i_logit_sql("string_split(text, ' ')", "wv")} AS logit
  FROM documents CROSS JOIN w
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN logit > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       ROUND(CAST(SUM(CASE WHEN logit > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 8) AS keep_rate,
       ROUND({dsum_sql('logit')}
             / COUNT(*), 6) AS avg_logit
FROM g
GROUP BY source
""",
    tags=("ST2", "S8", "L5", "A1"),
)
def st30_streaming_classifier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st29's sibling with the l5i fastText-style classifier as the
    gate: the documents stream scored in-row per arriving document
    (hashed unigram+bigram features against the fixed model vector —
    here a LITERAL column, the honest streaming topology: a streaming
    job loads its model artifact once at query start and ships it in
    the plan, where batch l5i demonstrates the 1-row broadcast
    attach), with running per-source keep counts, keep rate, and mean
    logit in complete mode. availableNow bounded replay makes the
    final emission equal the batch aggregate, so the classifier
    keeps its value-hash oracle even on the streaming surface.

    Plan shape: stateless in-row scoring (the l5i fold — no shuffle
    added by the gate), one running per-source aggregate (|sources|
    rows of state). The mean logit uses the decimal canon (6dp
    logits DECIMAL-summed, divided once) because micro-batch
    boundaries would otherwise change double-summation order between
    the streaming run and the DuckDB twin. The monitoring pair
    st29+st30 is how a production pipeline watches a model-gate
    rollout: heuristic gate and classifier gate side by side, per
    source, per micro-batch."""
    s = documents_stream(spark, sf_dir)
    gated = s.select("source", tokenize(F.col("text")).alias("toks")).select(
        "source", quality_logit("toks", L5I_WEIGHTS_SPARK_SQL).alias("logit")
    )
    keep = F.sum(F.when(F.col("logit") > 0, 1).otherwise(0))
    agg = gated.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        keep.cast("bigint").alias("n_keep"),
        F.round(keep.cast("double") / F.count(F.lit(1)), 8).alias("keep_rate"),
        F.round(
            dsum("logit") / F.count(F.lit(1)), 6
        ).alias("avg_logit"),
    )
    return drain(agg, "complete")
