"""Run the benchmark over several seeds and summarise its spread.

    python3 perfbench/sweep.py --workload etl --seeds 1-10 --out perfbench/results/baseline

Each run's stdout is saved verbatim to ``<out>/<workload>-seed<N>-trace<T>.out``;
``<out>/<workload>-trace<T>-summary.json`` holds, per metric, the ten
values, their median, quartiles (``statistics.quantiles(n=4)``) and the
quartile distance as a share of the median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(text: str) -> list[int]:
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {
        "values": values,
        "median": med,
        "q1": q1,
        "q3": q3,
        "iqr_share": (q3 - q1) / med if med else None,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,3,5")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        run_seconds = str(json.load(f)["run_seconds"])
    p.add_argument("--seconds", default=run_seconds)
    p.add_argument("--trace", default="0")
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    os.makedirs(args.out, exist_ok=True)
    results = []
    for seed in parse_seeds(args.seeds):
        cmd = [
            sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", args.seconds, "--trace", args.trace,
        ]
        t0 = time.monotonic()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
        wall = time.monotonic() - t0
        name = f"{args.workload}-seed{seed}-trace{args.trace}.out"
        with open(os.path.join(args.out, name), "w") as f:
            f.write(proc.stdout)
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        result["wall_s"] = wall
        results.append(result)
        print(f"seed {seed}: {wall:.1f} s wall, correct={result['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()
        ), flush=True)
    names = results[0]["metrics"]
    summary = {
        "workload": args.workload,
        "seeds": parse_seeds(args.seeds),
        "seconds": args.seconds,
        "trace": args.trace,
        "all_correct": all(r["correct"] for r in results),
        "wall_s": spread([r["wall_s"] for r in results]),
        "metrics": {
            k: {"unit": results[0]["metrics"][k]["unit"],
                **spread([r["metrics"][k]["value"] for r in results])}
            for k in names
        },
    }
    path = os.path.join(args.out, f"{args.workload}-trace{args.trace}-summary.json")
    with open(path, "w") as f:
        json.dump(summary, f, indent=1)
    for k, v in summary["metrics"].items():
        share = v["iqr_share"]
        print(f"{k}: median {v['median']:.4g} {v['unit']}, IQR/median "
              f"{share:.3f}" if share is not None else f"{k}: median 0")
    return 0


if __name__ == "__main__":
    sys.exit(main())
