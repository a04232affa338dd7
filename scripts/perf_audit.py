"""Catalog-wide perf audit: time every registered query end-to-end
(`.count()` on the tuned session) at one scale factor and flag
outliers. This is the repeatable feedback loop behind SCALING.md's
measured numbers — bench.py stays the frozen 16-query comparison
protocol; this sweep exists to catch a *regression or pathological
plan anywhere in the catalog* before a round closes.

Usage:
    python scripts/perf_audit.py [--scans | --build] [sf_dir] [out.json]

Defaults: /root/testdata/sf0.01, stdout summary only. Caches are
cleared between queries (session.release_caches) so materialize=True
operators are measured cold and cannot pin memory across the sweep.

``--build`` splits each query into its build (``q.fn(spark, sf_dir)``)
and its drain (the noop sink) and records, per query, build seconds,
drain seconds, the Spark jobs started while building (newest-job
watermark, ``plans.explain.newest_job_id``, as tests/test_plans.py
reads it), the jobs the drain starts, and the driver's non-``m`` py4j
commands while building (``m`` commands are memory releases whose
timing follows the collector).
"""

from __future__ import annotations

import json
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

import big_data_programming_spark.session as S  # noqa: E402
from big_data_programming_spark.registry import catalog  # noqa: E402
from big_data_programming_spark.session import release_caches  # noqa: E402


def _flag(name: str) -> bool:
    if name in sys.argv:
        sys.argv.remove(name)
        return True
    return False


def _job_probe(spark):
    """Return ``measure(fn)`` → (result, seconds, jobs, commands) for
    one call of ``fn``."""
    import py4j.clientserver as cs
    from py4j.protocol import MEMORY_COMMAND_NAME

    from big_data_programming_spark.plans.explain import newest_job_id

    sent = [0]
    send = cs.ClientServerConnection.send_command

    def counting(self, command):
        if not command.startswith(MEMORY_COMMAND_NAME):
            sent[0] += 1
        return send(self, command)

    def measure(fn):
        before = newest_job_id(spark)
        cs.ClientServerConnection.send_command = counting
        sent[0] = 0
        t0 = time.time()
        try:
            out = fn()
        finally:
            secs = time.time() - t0
            cs.ClientServerConnection.send_command = send
        commands = sent[0]
        return out, secs, newest_job_id(spark) - before, commands

    return measure


def main() -> int:
    # --scans: additionally record each query's EXECUTED parquet-scan
    # count (post runtime exchange/cache reuse, via the SQL status
    # store — see plans.executed_parquet_scan_count). This is the
    # catalog-wide corpus-pass economics audit: at 100 TB the number
    # of *executed* scans per query IS the dominant cost term, and the
    # plan string overcounts it (round-9 finding: l5k prints 12 scan
    # nodes, executes 2).
    scans_mode = _flag("--scans")
    build_mode = _flag("--build")
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    spark = S.get_spark("perf-audit", cpus=S.DEFAULT_CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    # JVM/scan warm-up so the first measured query isn't charged for it
    cat = catalog()
    next(iter(cat.values())).fn(spark, sf_dir).count()
    measure = _job_probe(spark) if build_mode else None

    times: dict[str, float] = {}
    scans: dict[str, int] = {}
    builds: dict[str, dict[str, float]] = {}
    errs: dict[str, str] = {}
    for name, q in cat.items():
        t0 = time.time()
        try:
            if build_mode:
                from big_data_programming_spark.plans import evaluate_fully

                df, build_s, jobs, commands = measure(lambda: q.fn(spark, sf_dir))
                _, drain_s, drain_jobs, _ = measure(lambda: evaluate_fully(df))
                builds[name] = {
                    "build_s": round(build_s, 3),
                    "drain_s": round(drain_s, 3),
                    "build_jobs": jobs,
                    "drain_jobs": drain_jobs,
                    "build_commands": commands,
                }
            elif scans_mode:
                from big_data_programming_spark.plans import (
                    evaluate_fully,
                    executed_parquet_scan_count_during,
                )

                # wrap CONSTRUCTION too (persist/localCheckpoint
                # materializations run in their own SQL executions)
                # and evaluate through the noop sink, not count —
                # count prunes columns, and with them entire corpus
                # passes (l5j counts without scanning anything).
                # scans-mode times are therefore FULL-EVALUATION
                # times, systematically >= the count-based series.
                scans[name] = executed_parquet_scan_count_during(
                    spark, lambda: evaluate_fully(q.fn(spark, sf_dir))
                )
            else:
                q.fn(spark, sf_dir).count()
            times[name] = round(time.time() - t0, 3)
        except Exception as exc:  # noqa: BLE001
            errs[name] = f"{type(exc).__name__}: {exc}"[:160]
        release_caches(spark)

    ranked = sorted(times.items(), key=lambda kv: -kv[1])
    total = sum(times.values())
    print(f"{len(times)} queries timed, {len(errs)} errors; "
          f"total {total:.1f}s at {sf_dir}")
    print("slowest 20:")
    for name, t in ranked[:20]:
        print(f"  {t:8.3f}s  {name}")
    if scans_mode:
        from collections import Counter

        dist = Counter(scans.values())
        print("executed-scan distribution:",
              {k: dist[k] for k in sorted(dist)})
        print("most scans:")
        for name, n in sorted(scans.items(), key=lambda kv: -kv[1])[:15]:
            print(f"  {n:3d} scans  {name}")
    if build_mode:
        print(f"build {sum(b['build_s'] for b in builds.values()):.1f}s, "
              f"drain {sum(b['drain_s'] for b in builds.values()):.1f}s, "
              f"{sum(b['build_jobs'] for b in builds.values())} build-time jobs")
        print("most build-time jobs:")
        for name, b in sorted(builds.items(), key=lambda kv: -kv[1]["build_jobs"])[:15]:
            if b["build_jobs"]:
                print(f"  {b['build_jobs']:4d}+{b['drain_jobs']:<3d} jobs  "
                      f"{b['build_s']:7.3f}s build  {b['drain_s']:7.3f}s drain  "
                      f"{b['build_commands']:6d} cmds  {name}")
    for name, e in errs.items():
        print(f"ERR {name}: {e}")
    if out_path:
        json.dump(
            {"sf_dir": sf_dir, "total_sec": round(total, 1), "times": times,
             "errors": errs, **({"executed_scans": scans} if scans_mode else {}),
             **({"builds": builds} if build_mode else {})},
            open(out_path, "w"), indent=1, sort_keys=True,
        )
        print(f"wrote {out_path}")
    return 0 if not errs else 1


if __name__ == "__main__":
    raise SystemExit(main())
