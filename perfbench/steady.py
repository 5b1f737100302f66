#!/usr/bin/env python3
"""Steadiness tool: run one workload k times on the same code, each run
with its own seed, and print per metric the median, the quartiles and
their spread (q3 - q1) / median, next to the metric's bound in
BENCHMARK.json. The bounds there were set from this tool's output.

    python3 perfbench/steady.py --workload monthly_report --runs 10

Quartiles are `statistics.quantiles(values, n=4)`. A spread is marked
`ok` when it is below a third of the bound. Each run's wall time is
printed too, so the benchmark's total run time can be budgeted.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed0", type=int, default=1)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out", help="also write every run's result here as JSON")
    a = p.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = a.seconds or spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}

    runs = []
    for i in range(a.runs):
        seed = a.seed0 + i
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(a.trace)],
            cwd=ROOT, capture_output=True, text=True)
        wall = time.time() - t0
        if out.returncode != 0:
            sys.stderr.write(out.stderr[-3000:])
            sys.exit(f"run with seed {seed} exited {out.returncode}")
        r = json.loads(out.stdout.strip().splitlines()[-1])
        r["seed"], r["wall_s"] = seed, wall
        runs.append(r)
        print(f"seed {seed}: wall {wall:.1f} s, correct {r['correct']}, "
              f"{r['failed']}/{r['attempted']} failed", flush=True)

    print(f"\n{a.workload}: {a.runs} runs, {seconds} s each")
    print(f"{'metric':40} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} {'bound':>6}")
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("nan")
        bound = bounds.get(name)
        flag = "" if bound is None else ("ok" if spread < bound / 3 else "WIDE")
        print(f"{name:40} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:7.3f} "
              f"{'' if bound is None else bound:>6} {flag}")
    walls = [r["wall_s"] for r in runs]
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    print(f"failed share: {sorted({r['failed'] / r['attempted'] for r in runs})}")
    print(f"all correct: {all(r['correct'] for r in runs)}")
    if a.out:
        json.dump(runs, open(a.out, "w"), indent=1)


if __name__ == "__main__":
    main()
