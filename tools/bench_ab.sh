#!/usr/bin/env bash
# A/B the benchmark between a parent revision and the working tree:
#   tools/bench_ab.sh <parent-rev> <workload> <n>
# Exports <parent-rev> into a temporary directory (under $TMPDIR, default
# /tmp), builds both sides, then runs `perfbench/run.py --trace 0` for
# seeds 1..n, one run per side per seed, alternating which side runs
# first (odd seeds: parent first; even seeds: working tree first). Each
# side builds and runs in its own checkout (`.bench_build/` inside it).
# The run length is BENCHMARK.json's `run_seconds`, the same on both
# sides. Prints one line per run, then per end-to-end metric the median
# and quartiles of each side, how many seed pairs the working tree won,
# whether that is a gain (at least 9 of 10 pairs won, and the medians
# apart by more than the parent's q1-q3 spread) and whether the change
# median is within the metric's BENCHMARK.json bound of the parent's.
# The parent is exported with `git archive` rather than checked out as a
# worktree, so the A/B leaves the repository's git metadata untouched.
# Writes nothing under perfbench/; the raw results stay in
# <tmp>/results.jsonl until the script exits.
set -euo pipefail
if [[ $# -ne 3 ]]; then
  echo "usage: $0 <parent-rev> <workload> <n>" >&2
  exit 2
fi
rev=$1 workload=$2 n=$3
root=$(cd "$(dirname "$0")/.." && pwd)
tmp=$(mktemp -d "${TMPDIR:-/tmp}/bench_ab.XXXXXX")
trap 'rm -rf "$tmp"' EXIT
mkdir "$tmp/parent"
git -C "$root" archive "$(git -C "$root" rev-parse --verify "$rev^{commit}")" |
  tar -x -C "$tmp/parent"
secs=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$root/BENCHMARK.json")

# Build both sides before timing anything (run.py rebuilds only when a
# source is newer than its last build).
for dir in "$tmp/parent" "$root"; do
  (cd "$dir" && python3 -c 'import sys; sys.path.insert(0, "perfbench"); import run; run.classpath()')
done

results="$tmp/results.jsonl"
for seed in $(seq 1 "$n"); do
  if (( seed % 2 )); then order="parent change"; else order="change parent"; fi
  for side in $order; do
    dir=$root
    [[ $side == parent ]] && dir=$tmp/parent
    line=$(cd "$dir" && python3 perfbench/run.py --workload "$workload" \
      --seed "$seed" --seconds "$secs" --trace 0 | tail -n 1)
    echo "$side seed=$seed $line"
    printf '{"side": "%s", "seed": %d, "result": %s}\n' "$side" "$seed" "$line" >> "$results"
  done
done

python3 - "$results" "$root/BENCHMARK.json" <<'EOF'
import json
import statistics
import sys

runs = [json.loads(l) for l in open(sys.argv[1])]
spec = json.load(open(sys.argv[2]))
def quartiles(vals):
    vals = sorted(vals)
    q = statistics.quantiles(vals, n=4) if len(vals) > 1 else vals * 3
    return q[0], statistics.median(vals), q[2]

print(f"{'metric':<12} {'parent median (q1-q3)':>26} {'change median (q1-q3)':>26}"
      "  change wins  gain  in bound")
for m in spec["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    side = {s: {r["seed"]: r["result"]["metrics"][name]["value"]
                for r in runs if r["side"] == s} for s in ("parent", "change")}
    seeds = sorted(set(side["parent"]) & set(side["change"]))
    wins = sum((side["change"][s] < side["parent"][s]) if lower
               else (side["change"][s] > side["parent"][s]) for s in seeds)
    p1, pm, p3 = quartiles(side["parent"].values())
    c1, cm, c3 = quartiles(side["change"].values())
    # a gain: at least 9 of 10 pairs won, and the change median better
    # than the parent's by more than the parent's q1-q3 spread
    better_by = pm - cm if lower else cm - pm
    gain = bool(seeds) and wins >= 0.9 * len(seeds) and better_by > p3 - p1
    # in bound: the change median worse than the parent's by at most the
    # metric's bound, a fraction of the parent median
    in_bound = cm <= pm * (1 + m["bound"]) if lower else cm >= pm * (1 - m["bound"])
    parent, change = f"{pm:.4g} ({p1:.4g}-{p3:.4g})", f"{cm:.4g} ({c1:.4g}-{c3:.4g})"
    print(f"{name:<12} {parent:>26} {change:>26}  {f'{wins}/{len(seeds)}':>11}"
          f"  {'yes' if gain else 'no':>4}  {'yes' if in_bound else 'no':>8}")
bad = [r for r in runs if not r["result"]["correct"] or r["result"]["failed"]]
print(f"runs with a failed check or operation: {len(bad)} of {len(runs)}")
EOF
