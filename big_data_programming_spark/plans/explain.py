"""Physical-plan text extraction used by the scale-hygiene tests.

Spark's user-facing ``df.explain()`` prints to stdout; asserting on a
plan needs the string. Both helpers go through ``queryExecution`` on
the JVM side, so they reflect exactly what would run — including AQE's
initial plan (the final plan only exists after execution; callers that
need it materialize first, as test_flagship_q1_has_partial_aggregate
does).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """The physical plan as a string (``== Physical Plan ==`` body)."""
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    """``explain("formatted")`` output: operator tree plus per-node
    details (PushedFilters, ReadSchema, PartitionFilters, ...)."""
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def scan_read_columns(df: DataFrame) -> list[str]:
    """Column names the (first) parquet scan actually reads — the
    column-pruning ground truth. Empty list if no scan node matched."""
    m = re.search(r"ReadSchema: struct<([^>]*)>", formatted_plan(df))
    if not m:
        return []
    return [c.split(":")[0] for c in m.group(1).split(",") if c]


def evaluate_fully(df: DataFrame) -> None:
    """Evaluate EVERY column of ``df`` with zero driver collection —
    the ``noop`` sink. The obvious probe, ``df.count()``, is a lie for
    economics measurement: Catalyst prunes every column the count
    doesn't need, so a query whose output row count is derivable from
    a tiny dimension (l5j's 8-row funnel, l5k's 257-bucket model)
    counts WITHOUT running its corpus passes at all (measured round 9:
    l5j under count = 0 executed scans, under noop = 11)."""
    df.write.format("noop").mode("overwrite").save()


def _drain_listener_bus(spark) -> None:
    """Block until the async listener bus has delivered every queued
    event to the SQL status store (r9 advice): the store is fed by an
    async listener queue, so reading it immediately after an action
    returns can (a) undercount the just-finished execution's scans —
    the AQE final-plan-graph and metric events may still be in flight
    — and (b) leak a PRIOR still-queued execution above the watermark
    into the current query's count. Both helpers below drain before
    reading the watermark AND after running the workload. The timeout
    overload is preferred (bounded wait); Spark 4.1.2 exposes both.

    Exception discipline (r10 advice): only SIGNATURE DRIFT (the
    timeout overload missing on some Spark version — surfacing as a
    py4j Py4JError/TypeError at the call boundary) falls back to the
    no-arg overload. A genuine JVM exception — notably
    TimeoutException from a bus still backed up after 10 s —
    propagates: silently retrying there would hand the caller exactly
    the undrained-store undercount this helper exists to prevent."""
    from py4j.protocol import Py4JError, Py4JJavaError

    bus = spark.sparkContext._jsc.sc().listenerBus()
    try:
        bus.waitUntilEmpty(10000)
    except Py4JJavaError:
        # a real JVM-side failure (e.g. java.util.concurrent.
        # TimeoutException: bus not drained in 10 s) must be VISIBLE,
        # not swallowed into a different-semantics retry
        raise
    except (Py4JError, TypeError):
        # timeout overload absent on this Spark version (Py4JJavaError
        # subclasses Py4JError, so JVM failures never land here)
        bus.waitUntilEmpty()


def newest_job_id(spark) -> int:
    """Newest job id in the status store, -1 if none: the "jobs started
    since" watermark (the store prunes old jobs; its size is not one)."""
    _drain_listener_bus(spark)
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)  # newest first
    return jobs.apply(0).jobId() if jobs.size() else -1


def executed_parquet_scan_count(df: DataFrame) -> int:
    """How many parquet scans a query EXECUTES, post runtime reuse —
    fully evaluates ``df`` (noop sink, see :func:`evaluate_fully`) and
    reads the SQL status store (available with the UI disabled) for
    the final plan graph of every execution that evaluation starts.

    Why this exists (round-9 audit): the plan STRING massively
    overcounts scans — ``InMemoryTableScan`` nodes re-print their
    cached build subtree per occurrence, and identical broadcast
    subtrees (the house 1-row-aggregate attach idiom) print fully even
    though AQE stage reuse executes them once. l5k's string shows 12
    ``Scan parquet`` nodes; the status store shows THREE scans
    actually run (the cached featurize + two skinny label/count
    passes). Runtime truth is the 100 TB number that matters, so the
    scan-bound tests pin this alongside the static upper bounds."""
    return executed_parquet_scan_count_during(df.sparkSession, lambda: evaluate_fully(df))


def executed_parquet_scan_count_during(spark, thunk) -> int:
    """Distinct executed parquet scans over EVERY SQL execution
    ``thunk()`` triggers. Pass a thunk that also BUILDS the query when
    it materializes a persist or cuts lineage with ``localCheckpoint``
    during construction: those scans run while ``df`` is built, before
    :func:`executed_parquet_scan_count` sets its watermark, so that
    helper misses them (round-9 audit: l5j read 0 under it). Watermarks
    on executionId, not list position, because the status store prunes
    retained executions from the head."""
    store = spark._jsparkSession.sharedState().statusStore()
    _drain_listener_bus(spark)
    execs = store.executionsList()
    watermark = (
        execs.apply(execs.size() - 1).executionId() if execs.size() else -1
    )
    thunk()
    _drain_listener_bus(spark)
    scans: set[int] = set()
    execs = store.executionsList()
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if eid > watermark:
            scans |= _executed_scans_of(store, eid)
    return len(scans)


def _executed_scans_of(store, eid: int) -> set[int]:
    """Accumulator ids of the 'number of files read' metric for every
    parquet scan that read > 0 files in execution ``eid``. Returned
    as a SET keyed by accumulator id, not a count: the plan graph
    re-prints a cached relation's build subtree under every
    InMemoryTableScan occurrence, and those clones SHARE the physical
    node's accumulators (measured round 9: l5j's graph shows the
    persisted train scan 7 times, all accumulator 165 — one physical
    read). Deduplicating on accumulator id counts physical scans."""
    metric_values = store.executionMetrics(eid)
    executed: set[int] = set()
    nodes = store.planGraph(eid).allNodes().iterator()
    while nodes.hasNext():
        node = nodes.next()
        if not node.name().startswith("Scan parquet"):
            continue
        mets = node.metrics().iterator()
        while mets.hasNext():
            m = mets.next()
            if m.name() != "number of files read":
                continue
            opt = metric_values.get(m.accumulatorId())
            if opt.isDefined():
                # displayed values look like "1" or "3 (1, 1, 1)"
                first = str(opt.get()).strip().split(" ")[0].replace(",", "")
                if first.isdigit() and int(first) > 0:
                    executed.add(m.accumulatorId())
    return executed
