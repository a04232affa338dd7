"""Tracing for the benchmark's traced run, kept outside the program.

Two sources:

* **Spans** from wrappers the benchmark installs around the package's
  public functions (``loaders.load`` and the writers, every public
  function of the operator modules named in :data:`WRAPPED`, the
  streaming harness). Query modules bind these functions by name at
  import, so :func:`install` rebinds every module-level reference in
  the package, not only the defining module. Spans are kept in memory
  on the :class:`Tracer`.
* **Spark's own counters**: the core status store (jobs, stages and
  their task metrics), the SQL status store (executed parquet scans,
  Python-UDF node metrics) and ``CodegenMetrics``.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import re
import sys
import time
from collections.abc import Callable, Iterator

from perfbench.stats import Span

PACKAGE = "big_data_programming_spark"

#: span layer -> (defining module, function names; None = every public
#: function defined in that module).
WRAPPED: dict[str, tuple[str, tuple[str, ...] | None]] = {
    "sources": (f"{PACKAGE}.sources.loaders", ("load", "write_parquet", "write_bucketed")),
    "operators.dedup": (f"{PACKAGE}.operators.dedup", None),
    "operators.text": (f"{PACKAGE}.operators.text", None),
    "streaming": (f"{PACKAGE}.streaming.harness", None),
}


class Tracer:
    """In-memory span recorder. Wrappers consult :attr:`enabled` on
    every call, so traced and untraced passes share one install."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next_id = 0

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(sid, name, start, time.perf_counter(), parent))

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        wrapper.__perfbench_original__ = fn
        return wrapper

    def take(self) -> list[Span]:
        """Return and forget the spans recorded so far."""
        spans, self.spans = self.spans, []
        return spans


def wrapped_functions() -> dict[str, tuple[object, str, Callable]]:
    """Span name -> (defining module, attribute, original function)."""
    out = {}
    for layer, (modname, names) in WRAPPED.items():
        mod = importlib.import_module(modname)
        if names is None:
            names = tuple(
                n for n, v in vars(mod).items()
                if inspect.isfunction(v) and v.__module__ == modname
                and not n.startswith("_")
            )
        for n in names:
            out[f"{layer}.{n}"] = (mod, n, getattr(mod, n))
    return out


def package_modules() -> list[object]:
    return [
        m for name, m in list(sys.modules.items())
        if m is not None and (name == PACKAGE or name.startswith(PACKAGE + "."))
    ]


def rebind(replacements: dict[int, tuple[Callable, Callable]]) -> None:
    """For ``{id(original): (original, replacement)}``, point every
    module-level name in the package that holds an original at its
    replacement — the defining module and every ``from … import``."""
    for mod in package_modules():
        for attr, value in list(vars(mod).items()):
            pair = replacements.get(id(value))
            if pair is not None and pair[0] is value:
                setattr(mod, attr, pair[1])


def install(tracer: Tracer) -> dict[int, Callable]:
    """Wrap every function in :data:`WRAPPED` and rebind each
    module-level name in the package that refers to an original.
    Call after the catalog is loaded, so every importer exists.
    Returns ``{id(original): wrapper}``."""
    pairs = {
        id(fn): (fn, tracer.wrap(span_name, fn))
        for span_name, (_mod, _attr, fn) in wrapped_functions().items()
    }
    rebind(pairs)
    return {k: w for k, (_fn, w) in pairs.items()}


def uninstall(by_id: dict[int, Callable]) -> None:
    """Undo :func:`install`."""
    rebind({id(w): (w, w.__perfbench_original__) for w in by_id.values()})


def unwrapped_bindings(by_id: dict[int, Callable]) -> list[str]:
    """``module.attr`` names in the package that still hold an original
    (unwrapped) function after :func:`install` — empty when coverage
    is complete."""
    originals = {id(w.__perfbench_original__) for w in by_id.values()}
    return [
        f"{mod.__name__}.{attr}"
        for mod in package_modules()
        for attr, value in vars(mod).items()
        if id(value) in originals
    ]


# --------------------------------------------------------------- JVM side

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_METRIC_RE = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Total of one SQL-metric display string, in base units (rows,
    bytes or seconds): ``"300,000"``, ``"4.6 MiB"``,
    ``"total (min, med, max ...)\\n5.0 s (...)"``."""
    body = text.strip().splitlines()[-1] if "\n" in text else text.strip()
    m = _METRIC_RE.match(body)
    if not m:
        raise ValueError(f"unparsed SQL metric: {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return value
    if unit in _SIZE_UNITS:
        return value * _SIZE_UNITS[unit]
    if unit in _TIME_UNITS:
        return value * _TIME_UNITS[unit]
    raise ValueError(f"unknown SQL metric unit {unit!r} in {text!r}")


#: Plan-graph node names of the Python evaluation operators.
_PY_NODE = re.compile(r"EvalPython|InPandas|InArrow|PythonUDTF|FlatMapCoGroups|FlatMapGroups")


class SparkProbe:
    """Reads Spark's status stores between workload steps. Every read
    first drains the listener bus, so the stores hold all events of
    the work just finished."""

    def __init__(self, spark) -> None:
        from big_data_programming_spark.plans.explain import _drain_listener_bus

        self._spark = spark
        self._drain = _drain_listener_bus
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._codegen = self._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def codegen(self) -> tuple[int, float]:
        """(compiles so far, compile seconds so far). Spark records each
        compile's ms in a histogram whose reservoir keeps the first
        1028 samples whole; beyond that the total is count x mean."""
        hist = self._codegen.METRIC_COMPILATION_TIME()
        count = hist.getCount()
        snap = hist.getSnapshot()
        values = list(snap.getValues())
        total_ms = sum(values) if len(values) == count else count * snap.getMean()
        return count, total_ms / 1000.0

    def watermark(self) -> tuple[int, int, int]:
        """(last job id, last stage id, last SQL execution id)."""
        self._drain(self._spark)
        jobs = self._store.jobsList(None)
        stages = self._stage_list()
        execs = self._sql.executionsList()
        return (
            jobs.apply(0).jobId() if jobs.size() else -1,
            stages.apply(0).stageId() if stages.size() else -1,
            execs.apply(execs.size() - 1).executionId() if execs.size() else -1,
        )

    def _stage_list(self):
        jvm = self._jvm
        return self._store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self._gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )

    def jobs_since(self, mark: tuple[int, int, int]) -> int:
        self._drain(self._spark)
        jobs = self._store.jobsList(None)  # newest first
        n = 0
        while n < jobs.size() and jobs.apply(n).jobId() > mark[0]:
            n += 1
        return n

    def work_since(self, mark: tuple[int, int, int]) -> dict[str, float]:
        """Jobs, stages, task metrics, executed scans and Python-UDF
        node metrics of everything that ran after ``mark``."""
        from big_data_programming_spark.plans.explain import _executed_scans_of

        out = dict.fromkeys((
            "jobs", "stages", "tasks", "task_s", "gc_s", "input_rows",
            "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
            "spill_bytes", "scans", "udf_rows", "udf_s",
        ), 0.0)
        out["jobs"] = float(self.jobs_since(mark))
        stages = self._stage_list()  # newest first
        i = 0
        while i < stages.size():
            s = stages.apply(i)
            if s.stageId() <= mark[1]:
                break
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["task_s"] += s.executorRunTime() / 1000.0
            out["gc_s"] += s.jvmGcTime() / 1000.0
            out["input_rows"] += s.inputRecords()
            out["input_bytes"] += s.inputBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            i += 1
        execs = self._sql.executionsList()
        j = execs.size() - 1
        while j >= 0:
            eid = execs.apply(j).executionId()
            if eid <= mark[2]:
                break
            out["scans"] += len(_executed_scans_of(self._sql, eid))
            rows, secs = self._udf_metrics(eid)
            out["udf_rows"] += rows
            out["udf_s"] += secs
            j -= 1
        return out

    def _udf_metrics(self, eid: int) -> tuple[float, float]:
        values = self._sql.executionMetrics(eid)
        rows = secs = 0.0
        nodes = self._sql.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            if not _PY_NODE.search(node.name()):
                continue
            mets = node.metrics().iterator()
            while mets.hasNext():
                m = mets.next()
                shown = values.get(m.accumulatorId())
                if not shown.isDefined():
                    continue
                if m.name() == "number of output rows":
                    rows += parse_sql_metric(str(shown.get()))
                elif m.name() == "time to run Python workers":
                    secs += parse_sql_metric(str(shown.get()))
        return rows, secs
