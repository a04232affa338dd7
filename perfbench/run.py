"""The repository's benchmark: one workload per process, one client.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run:

1. generates the workload's input tables from ``--seed`` under
   ``.perfbench/<workload>/data`` (untimed; digests recorded), and
   starts the calibration JVM (``Calib.java``, see :meth:`Run.calibrate`);
2. sets up: imports the package, starts ``get_spark`` on
   ``local[nproc]``, runs the checking pass, where every query is
   collected with ``toPandas()`` and compared with its DuckDB oracle
   (``check.py``), then :data:`WARMUP_PASSES` untimed warm-up passes.
   ``setup_s`` covers this step, less the time spent in the oracles and
   the comparison;
3. runs a closed loop of a fixed number of whole passes over the
   workload's queries (:func:`schedule`), each pass in an order drawn
   from the seed, every query built through ``registry.catalog()`` and
   drained to the ``noop`` sink;
4. stops Spark and the calibration JVM and waits for both to exit.

Every metric is printed by name and unit on a summary line; the last
line of stdout is the JSON result. With ``--trace 1`` the run makes
pairs of untraced and traced passes and reports the per-layer metrics
of the traced ones (``trace.py``) plus the tracing overhead.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import importlib.util
import json
import math
import os
import platform
import random
import resource
import shutil
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, stats  # noqa: E402
from perfbench.workloads import WORKLOADS, Workload  # noqa: E402

#: Driver heap for the benchmark's session. The package default (24g)
#: exceeds physical RAM on small machines; the benchmark pins it so
#: runs compare.
DRIVER_MEMORY = "3g"
#: A query running longer than this fails the run.
QUERY_TIMEOUT_S = 60
#: No new pass starts after this many seconds in the process, so a run
#: always ends well inside three minutes. A run cut short this way
#: says so in its env block (``truncated``).
RUN_BUDGET_S = 150
#: Untimed noop passes after the checking pass, inside ``setup_s``. The
#: first pass after the checking pass still costs 23-49% more CPU than
#: the third (see README, Warm-up).
WARMUP_PASSES = 2
#: Fewest timed passes an untraced run makes, and the number of
#: (untraced, traced) pass pairs a traced run makes.
MIN_PASSES = 2
TRACE_PAIRS = 2
#: Calibrated seconds of one warm pass of either workload on the
#: baseline machine; ``--seconds`` divided by it gives the number of
#: timed passes.
NOMINAL_PASS_S = 5.0
#: Calibration job repetitions per sample, the untimed repetitions that
#: warm the calibration JVM first, and the reference time the gated
#: times are scaled to (see :meth:`Run.calibrate`). The reference only
#: fixes the unit: both sides of any comparison use the same one.
CAL_REPS = 5
CAL_WARMUP_REPS = 5
CAL_REF_S = 0.1
#: Fixed settings of the calibration JVM.
CAL_JVM = ["java", "-Xms256m", "-Xmx256m", "-XX:+UseG1GC"]

#: Gated metrics: wall times scaled by the calibration (see
#: :meth:`Run.calibrate`).
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "codegen.compiles": "count",
    "codegen.compile_s": "s",
    "sources.load_calls": "count",
    "sources.load_s": "s",
    "sources.write_s": "s",
    "queries.construct_s": "s",
    "queries.eager_jobs": "count",
    "operators.dedup_s": "s",
    "operators.dedup_calls": "count",
    "operators.text_s": "s",
    "streaming.drain_s": "s",
    "streaming.queries": "count",
    "plan.plan_s": "s",
    "exec.drain_s": "s",
    "exec.collect_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.gc_s": "s",
    "exec.core_busy": "ratio",
    "exec.scans": "count",
    "exec.input_rows": "count",
    "exec.input_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.shuffle_read_bytes": "B",
    "exec.spill_bytes": "B",
    "udf.rows_to_python": "count",
    "udf.time_s": "s",
    "tracing.overhead_s": "s",
}

#: Span names of the streaming harness calls that run one stream.
_STREAM_RUNS = ("streaming.drain", "streaming.drain_foreach_batch")


class QueryTimeout(Exception):
    pass


@contextlib.contextmanager
def deadline(seconds: float):
    """Raise :class:`QueryTimeout` in the main thread after ``seconds``."""

    def _alarm(signum, frame):
        raise QueryTimeout(f"query exceeded {seconds:.0f} s")

    previous = signal.signal(signal.SIGALRM, _alarm)
    signal.setitimer(signal.ITIMER_REAL, max(seconds, 1.0))
    try:
        yield
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, previous)


def schedule(seconds: float, trace: bool) -> list[bool]:
    """Which timed passes are traced, in order. The count depends only
    on the arguments, never on how fast the passes run: an untraced run
    makes ``seconds / NOMINAL_PASS_S`` passes, at least
    :data:`MIN_PASSES`; a traced run makes :data:`TRACE_PAIRS` pairs in
    the order untraced-traced, traced-untraced, ... so that a trend
    across the passes cancels in the difference."""
    if trace:
        pairs = [[False, True], [True, False]]
        return [t for i in range(TRACE_PAIRS) for t in pairs[i % 2]]
    return [False] * max(MIN_PASSES, math.ceil(seconds / NOMINAL_PASS_S - 1e-9))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def source_digest() -> str:
    """Digest of the package sources (the checkout is not a git repo)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "big_data_programming_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for f in sorted(filenames):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(ROOT, ".git", ref[5:])
    if os.path.exists(path):
        with open(path) as f:
            return f.read().strip()
    return None


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(roots: list[int]) -> float:
    """User+system CPU seconds of ``roots`` and all their descendants,
    including children they have already reaped (Python UDF workers
    come and go under the JVM)."""
    parent: dict[int, int] = {}
    times: dict[int, float] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        times[pid] = sum(int(x) for x in fields[11:15]) / _TICK
    wanted = set(roots)
    total = 0.0
    for pid in times:
        p = pid
        while p > 1 and p not in wanted:
            p = parent.get(p, 0)
        if p in wanted:
            total += times[pid]
    return total


def cpu_steal_s() -> float:
    """Machine-wide CPU time stolen by the hypervisor so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


class Run:
    """State of one benchmark run."""

    def __init__(self, workload: Workload, seed: int, seconds: float, trace: bool) -> None:
        self.w = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.aborted = False
        self.t_process = time.perf_counter()
        self.scratch = os.path.join(ROOT, ".perfbench", workload.name)
        self.data_dir = os.path.join(self.scratch, "data")
        self.tmp_dir = os.path.join(self.scratch, "tmp")
        self.spark = None
        self.tracer = None
        self.probe = None
        self.cat = None
        self.drain = None
        self.calibrator: subprocess.Popen | None = None
        self.cal_samples: list[float] = []
        self.pass_log: list[dict] = []
        self.truncated = False

    # ---------------------------------------------------------- set-up

    def prepare_inputs(self) -> dict:
        """Generate the inputs. The calibration JVM starts first, so
        that it loads while the tables are written."""
        shutil.rmtree(self.scratch, ignore_errors=True)
        # Everything the program, Spark and the calibration JVM write
        # goes inside the checkout.
        for sub in ("py", "spark-local", "jvm", "ckpt"):
            os.makedirs(os.path.join(self.tmp_dir, sub), exist_ok=True)
        os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(self.tmp_dir, "py")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.tmp_dir, "spark-local")
        # -XX:-UsePerfData: HotSpot's perf-data file would go to /tmp.
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={os.path.join(self.tmp_dir, 'jvm')} -XX:-UsePerfData"
        )
        os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
        self.calibrator = subprocess.Popen(
            [*CAL_JVM, os.path.join(ROOT, "perfbench", "Calib.java"), str(nproc())],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        digests = gen.generate(self.data_dir, self.seed, self.w.shape)
        self.digest = hashlib.sha256(
            json.dumps(digests, sort_keys=True).encode()
        ).hexdigest()[:16]
        # Untimed: warm the calibration job's JIT.
        self.calibrate(CAL_WARMUP_REPS)
        return digests

    def setup(self) -> dict:
        """Import, start the session, verify parallelism, warm up.
        Returns the set-up metrics."""
        t0 = time.perf_counter()
        from big_data_programming_spark.plans.explain import evaluate_fully
        from big_data_programming_spark.registry import catalog
        from big_data_programming_spark.session import get_spark
        from big_data_programming_spark.streaming import harness

        from perfbench import trace

        self.cat = catalog()
        # The harness puts stream checkpoints in /dev/shm when it exists,
        # outside the checkout, and never removes them.
        ckpt = os.path.join(self.tmp_dir, "ckpt")
        trace.rebind({id(harness._ckpt_base): (harness._ckpt_base, lambda: ckpt)})
        missing = [q for q in self.w.queries if q not in self.cat]
        if missing:
            raise SystemExit(f"queries not in catalog: {missing}")
        self.drain = evaluate_fully
        if self.trace:
            self.tracer = trace.Tracer()
            trace.install(self.tracer)
        t_session = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.w.name}", cpus=nproc())
        session_s = time.perf_counter() - t_session
        self.verify_parallelism()
        jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        self.cpu_roots = [os.getpid(), jvm_pid]
        if self.trace:
            self.probe = trace.SparkProbe(self.spark)
        verify_s, self.collect_s = self.check_pass()
        if self.probe is not None:
            compiles, compile_s = self.probe.codegen()
        for _ in range(WARMUP_PASSES):
            self.run_pass(False, lambda name, secs, work: None)
        out = {
            "setup_s": time.perf_counter() - t0 - verify_s,
            "session.start_s": session_s,
        }
        if self.probe is not None:
            out["codegen.compiles"], out["codegen.compile_s"] = compiles, compile_s
        return out

    def verify_parallelism(self) -> None:
        n = nproc()
        master = self.spark.conf.get("spark.master")
        cores = self.spark.sparkContext.defaultParallelism
        if master != f"local[{n}]" or cores != n:
            raise SystemExit(
                f"expected local[{n}] with {n} cores, got {master} with {cores}"
            )

    # ---------------------------------------------------------- queries

    def remaining(self) -> float:
        return RUN_BUDGET_S - (time.perf_counter() - self.t_process)

    def run_query(self, name: str, traced: bool) -> dict | None:
        """Build and drain one query; returns its trace record (or an
        empty dict untraced), ``None`` on failure."""
        self.attempted += 1
        fn = self.cat[name].fn
        try:
            with deadline(min(QUERY_TIMEOUT_S, max(self.remaining() + 25, 1))):
                if not traced:
                    self.drain(fn(self.spark, self.data_dir))
                    return {}
                tr, probe = self.tracer, self.probe
                mark = probe.watermark()
                with tr.span("queries.construct"):
                    df = fn(self.spark, self.data_dir)
                eager = probe.jobs_since(mark)
                with tr.span("plan.plan"):
                    df._jdf.queryExecution().executedPlan()
                with tr.span("exec.drain"):
                    self.drain(df)
                work = probe.work_since(mark)
                work["eager_jobs"] = eager
                return work
        except QueryTimeout as exc:
            self.fail(name, exc)
            self.spark.sparkContext.cancelAllJobs()
            self.aborted = True
        except Exception as exc:  # noqa: BLE001 — a failing query is counted, not fatal
            self.fail(name, exc)
        return None

    def fail(self, name: str, exc: BaseException | str) -> None:
        self.failed += 1
        text = exc if isinstance(exc, str) else f"{type(exc).__name__}: {exc}"
        self.errors.append(f"{name}: {text.splitlines()[0][:300] if text else ''}")

    def run_pass(self, traced: bool, record) -> float:
        """One pass in a seeded order. ``record(name, seconds, work)``
        receives every successful query."""
        order = list(self.w.queries)
        self.rng.shuffle(order)
        if self.tracer is not None:
            self.tracer.enabled = traced
        t_pass = time.perf_counter()
        for name in order:
            if self.aborted:
                self.fail(name, "skipped after a timeout")
                continue
            t0 = time.perf_counter()
            work = self.run_query(name, traced)
            if work is not None:
                record(name, time.perf_counter() - t0, work)
        if self.tracer is not None:
            self.tracer.enabled = False
        return time.perf_counter() - t_pass

    def measure(self) -> dict:
        """Closed loop of the fixed passes of :func:`schedule`, with a
        calibration sample before each pass and one after the last."""
        samples: list[float] = []
        per_query: dict[str, list[float]] = {q: [] for q in self.w.queries}
        plain: list[float] = []
        cpu: list[float] = []
        traced_passes: list[tuple[float, dict]] = []
        for traced in schedule(self.seconds, self.trace):
            if self.aborted or self.remaining() <= 0:
                self.truncated = True
                break
            works: list[dict] = []
            times: dict[str, float] = {}

            def record(name, secs, work, traced=traced, works=works, times=times):
                times[name] = round(secs, 4)
                if traced:
                    works.append(work)
                else:
                    samples.append(secs)
                    per_query[name].append(secs)

            if self.tracer is not None:
                self.tracer.take()
            self.cal_samples += self.calibrate()
            steal0 = cpu_steal_s()
            cpu0 = cpu_seconds(self.cpu_roots)
            wall = self.run_pass(traced, record)
            cpu_s = cpu_seconds(self.cpu_roots) - cpu0
            self.pass_log.append({
                "traced": traced, "wall_s": round(wall, 4), "cpu_s": round(cpu_s, 2),
                "steal_s": round(cpu_steal_s() - steal0, 2), "query_s": times,
            })
            if traced:
                traced_passes.append((wall, self.layer_metrics(works)))
            else:
                plain.append(wall)
                cpu.append(cpu_s)
        self.cal_samples += self.calibrate()
        return {
            "samples": samples, "per_query": per_query,
            "plain": plain, "cpu": cpu, "traced": traced_passes,
        }

    def calibrate(self, reps: int = CAL_REPS) -> list[float]:
        """Wall times of ``reps`` runs of the fixed job of
        ``Calib.java``, run in its own JVM while the benchmarked session
        is idle.

        The machine's speed drifts: on the shared 4-core host that
        measured the baseline, the same runs took twice as long in one
        half hour as in the next. The gated times are therefore scaled
        by ``CAL_REF_S`` over the lower quartile of the run's samples;
        the raw times are printed alongside. Interference from other
        work on the machine only ever adds time to a sample, and a
        quarter to a third of the samples carry some, so the lower
        quartile follows the machine's speed where the median follows
        the interference.
        The job shares no heap, GC, JIT or settings with the program,
        so a change to the program cannot move it."""
        self.calibrator.stdin.write(f"{reps}\n")
        self.calibrator.stdin.flush()
        line = self.calibrator.stdout.readline()
        if not line:
            raise RuntimeError("calibration JVM exited")
        return [float(x) for x in line.split()]

    def layer_metrics(self, works: list[dict]) -> dict:
        """Per-layer metrics of one traced pass."""
        spans = self.tracer.take()
        own = stats.self_time_by_name(spans)
        names = [s.name for s in spans]

        def own_sum(prefix: str) -> float:
            return sum(v for k, v in own.items() if k.startswith(prefix))

        total = {k: sum(w[k] for w in works) for k in works[0]} if works else {}
        drain_s = own.get("exec.drain", 0.0)
        return {
            "sources.load_calls": names.count("sources.load"),
            "sources.load_s": own.get("sources.load", 0.0),
            "sources.write_s": own_sum("sources.write_"),
            "queries.construct_s": own.get("queries.construct", 0.0),
            "queries.eager_jobs": total.get("eager_jobs", 0),
            "operators.dedup_s": own_sum("operators.dedup."),
            "operators.dedup_calls": sum(n.startswith("operators.dedup.") for n in names),
            "operators.text_s": own_sum("operators.text."),
            "streaming.drain_s": own_sum("streaming."),
            "streaming.queries": sum(n in _STREAM_RUNS for n in names),
            "plan.plan_s": own.get("plan.plan", 0.0),
            "exec.drain_s": drain_s,
            "exec.jobs": total.get("jobs", 0),
            "exec.stages": total.get("stages", 0),
            "exec.tasks": total.get("tasks", 0),
            "exec.task_s": total.get("task_s", 0.0),
            "exec.gc_s": total.get("gc_s", 0.0),
            "exec.core_busy": (
                total.get("task_s", 0.0) / (drain_s * nproc()) if drain_s > 0 else 0.0
            ),
            "exec.scans": total.get("scans", 0),
            "exec.input_rows": total.get("input_rows", 0),
            "exec.input_bytes": total.get("input_bytes", 0),
            "exec.shuffle_write_bytes": total.get("shuffle_write_bytes", 0),
            "exec.shuffle_read_bytes": total.get("shuffle_read_bytes", 0),
            "exec.spill_bytes": total.get("spill_bytes", 0),
            "udf.rows_to_python": total.get("udf_rows", 0),
            "udf.time_s": total.get("udf_s", 0.0),
        }

    # ---------------------------------------------------------- checks

    def check_pass(self) -> tuple[float, float]:
        """The checking pass: build every query in a seeded order,
        collect it with ``toPandas()`` as the driver contract does, and
        compare it with its oracle. Returns (seconds spent fetching
        oracles and comparing, which set-up time excludes; seconds spent
        collecting)."""
        from big_data_programming_spark.sources.loaders import TABLES

        from perfbench.check import OracleCache, compare

        cache = OracleCache(
            self.data_dir, self.digest, os.path.join(ROOT, ".perfbench", "oracle"), TABLES
        )
        order = list(self.w.queries)
        self.rng.shuffle(order)
        verify_s = collect_s = 0.0
        try:
            for name in order:
                self.attempted += 1
                q = self.cat[name]
                problems = []
                try:
                    with deadline(QUERY_TIMEOUT_S):
                        sdf = q.fn(self.spark, self.data_dir)
                        t0 = time.perf_counter()
                        if q.oracle is None:
                            sdf.count()
                        else:
                            pdf = sdf.toPandas()
                        t1 = time.perf_counter()
                        collect_s += t1 - t0
                        if q.oracle is not None:
                            problems = compare(pdf, cache.frame(name, q.oracle))
                        verify_s += time.perf_counter() - t1
                except QueryTimeout as exc:
                    self.spark.sparkContext.cancelAllJobs()
                    self.aborted = True
                    problems = [str(exc)]
                except Exception as exc:  # noqa: BLE001 — counted as a failure
                    problems = [f"{type(exc).__name__}: {exc}"]
                if problems:
                    self.fail(name, "output check: " + "; ".join(problems))
                if self.aborted:
                    break
        finally:
            cache.close()
        return verify_s, collect_s

    # ---------------------------------------------------------- teardown

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return vm_hwm_mb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    def stop(self) -> None:
        """Stop Spark and the calibration JVM, and wait for both JVMs
        (and Spark's Python workers) to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                # The JVM exits when its stdin closes.
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self.calibrator is not None:
            # The calibration JVM exits when its stdin closes.
            with contextlib.suppress(OSError):
                self.calibrator.stdin.close()
            self.calibrator.wait(timeout=60)
        shutil.rmtree(self.tmp_dir, ignore_errors=True)


def versions() -> dict:
    import duckdb
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    for needed in ("big_data_programming_spark", "scripts"):
        if importlib.util.find_spec(needed) is None or not os.path.isdir(
            os.path.join(ROOT, needed)
        ):
            print(f"perfbench: {needed}/ not found under {ROOT}", file=sys.stderr)
            return 2
    w = WORKLOADS[args.workload]
    run = Run(w, args.seed, args.seconds, bool(args.trace))
    env = {
        "workload": w.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc(),
        "physical_ram_mb": round(mem_total_mb()),
        "spark_driver_memory": DRIVER_MEMORY,
        "load_before": os.getloadavg(),
        "git_commit": git_commit(),
        "source_digest": source_digest(),
        **versions(),
    }
    phases = env["phase_s"] = {}
    t = time.perf_counter()

    def phase(name):
        nonlocal t
        now = time.perf_counter()
        phases[name] = round(now - t, 3)
        t = now

    try:
        env["input_digests"] = run.prepare_inputs()
        env["input_shape"] = vars(w.shape)
        run.cal_samples += run.calibrate()
        phase("inputs")
        setup = run.setup()
        phase("setup")
        env["master"] = run.spark.conf.get("spark.master")
        env["effective_cores"] = run.spark.sparkContext.defaultParallelism
        env["spark_driver_memory_conf"] = run.spark.conf.get("spark.driver.memory")
        steal0 = cpu_steal_s()
        m = run.measure()
        env["measure_cpu_steal_s"] = round(cpu_steal_s() - steal0, 2)
        rss = run.peak_rss_mb()
        phase("measure")
    finally:
        run.stop()
        phase("stop")
    env["load_after"] = os.getloadavg()
    env["errors"] = run.errors
    env["truncated"] = run.truncated
    env["calibration_samples_s"] = [round(x, 4) for x in run.cal_samples]
    env["passes"] = run.pass_log
    env["query_median_s"] = {
        q: round(stats.median(v), 4) for q, v in m["per_query"].items() if v
    }
    print(json.dumps({"env": env}))

    samples = m["samples"]
    cal_s = stats.lower_quartile(run.cal_samples)
    scale = CAL_REF_S / cal_s
    summary: dict = {
        "passes": len(m["plain"]),
        "traced_passes": len(m["traced"]),
        "query_samples": len(samples),
        "failed_frac": run.failed / max(run.attempted, 1),
        "calibration_s": cal_s,
        "setup_wall_s": setup["setup_s"],
        "peak_rss_mb": rss,
    }
    metrics: dict[str, float] = {}
    if args.trace:
        layers = [lm for _, lm in m["traced"]]
        for k in layers[0] if layers else ():
            metrics[k] = stats.median([lm[k] for lm in layers])
        metrics["session.start_s"] = setup["session.start_s"]
        metrics["codegen.compiles"] = setup["codegen.compiles"]
        metrics["codegen.compile_s"] = setup["codegen.compile_s"]
        metrics["exec.collect_s"] = run.collect_s
        if m["traced"] and m["plain"]:
            metrics["tracing.overhead_s"] = stats.median(
                [wall for wall, _ in m["traced"]]
            ) - stats.median(m["plain"])
        units = PER_LAYER
    else:
        if samples:
            metrics["setup_s"] = setup["setup_s"] * scale
            metrics["pass_s"] = stats.median(m["plain"]) * scale
            metrics["query_p50_s"] = stats.median(samples) * scale
            summary["pass_wall_s"] = stats.median(m["plain"])
            summary["pass_cpu_s"] = stats.median(m["cpu"])
            summary["query_p50_wall_s"] = stats.median(samples)
            p90 = stats.tail_percentile(samples, 0.9)
            summary["query_p90_wall_s"] = (
                p90 if p90 is not None
                else f"not reported: {stats.beyond(len(samples), 0.9)} samples beyond p90"
            )
        units = END_TO_END
    missing = sorted(set(units) - set(metrics))
    if missing:
        run.fail("metrics", f"missing {missing}")
    print("perfbench " + " ".join(
        f"{k}={v:.4g}{units[k]}" for k, v in metrics.items()
    ) + " " + json.dumps(summary))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
