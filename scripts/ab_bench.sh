#!/usr/bin/env bash
# Same-box A/B of one benchmark workload: a parent commit against this
# checkout, in alternating pairs.
#
#   scripts/ab_bench.sh <parent-ref> <workload> <seed>...
#   scripts/ab_bench.sh HEAD~1 ann 11 12 13 14 15 16 17 18 19 20
#
# The parent is checked out as a detached `git worktree` under /tmp and
# built there with its own CARGO_TARGET_DIR (its .bench_build), so the two
# sides never share a build. Each seed is one pair: both sides run
# perfbench/run.py untraced with the same seed and run length, and the side
# that runs first flips on every pair. At the end the script prints, per end-to-end metric of
# BENCHMARK.json, each side's median and quartiles and the change's
# pair-win count (ties count for neither side), and whether the gain rule
# holds: at least 10 pairs, wins on >= 9/10 of them, and a median gap larger
# than the parent's interquartile range. After the pairs it runs one traced
# run per side on the first seed and prints, per layer, its `jobs`,
# `wall_s`, `call_s` and `gap_s` metrics side by side, plus `planning_s`
# and `add_batch_s` where the layer has them (the stream micro-batch): job
# counts repeat exactly per seed, and the times split a layer's wall time
# into the call before its lazy result returns, the driver gap between its
# jobs, and a micro-batch's planning and sink time, so together they show
# where a wall-time difference sits. Layers whose metrics are all 0 on both
# sides (the workload does not run them) are left out. It reads the
# benchmark and never edits it.
#
# Environment:
#   AB_SECONDS     run length passed to run.py (default: BENCHMARK.json run_seconds)
#   AB_OUT         directory for every run's output (default: a new /tmp dir)
#   AB_PARENT_DIR  an existing checkout of the parent to use instead of a
#                  worktree (it is built in place, never removed)
set -euo pipefail

if [ $# -lt 3 ]; then
  sed -n '2,9p' "$0" | sed 's/^# \{0,1\}//' >&2
  exit 2
fi
parent_ref=$1 workload=$2
shift 2
seeds=("$@")

root=$(cd "$(dirname "$0")/.." && pwd)
export COURSIER_MODE=${COURSIER_MODE:-offline}
seconds=${AB_SECONDS:-$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' "$root/BENCHMARK.json")}
out=${AB_OUT:-$(mktemp -d /tmp/graft-ab-XXXXXX)}
mkdir -p "$out"

worktree=""
if [ -n "${AB_PARENT_DIR:-}" ]; then
  parent_dir=$AB_PARENT_DIR
else
  sha=$(git -C "$root" rev-parse --short "$parent_ref")
  parent_dir=/tmp/graft-ab-parent-$sha
  worktree=$parent_dir
  git -C "$root" worktree add --detach "$parent_dir" "$parent_ref" >/dev/null
fi
parent_build=$parent_dir/.bench_build
cleanup() { if [ -n "$worktree" ]; then git -C "$root" worktree remove --force "$worktree"; fi; }
trap cleanup EXIT

# build both sides up front (run.py's own cached build step), so no pair
# pays a compile between its two runs
build() { (cd "$1" && python3 -c 'import os,sys; sys.path.insert(0, "perfbench"); import run
run.classpath(os.path.join(run.ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))'); }
echo "ab: building parent ($parent_ref) in $parent_dir" >&2
CARGO_TARGET_DIR=$parent_build build "$parent_dir"
echo "ab: building change in $root" >&2
build "$root"

run_side() { # side seed [trace]
  local dir=$root target=${CARGO_TARGET_DIR:-.bench_build} trace=${3:-0}
  if [ "$1" = parent ]; then dir=$parent_dir target=$parent_build; fi
  local log="$out/$1-seed$2.txt"
  if [ "$trace" = 1 ]; then log="$out/$1-seed$2-traced.txt"; fi
  (cd "$dir" && CARGO_TARGET_DIR=$target python3 perfbench/run.py \
    --workload "$workload" --seed "$2" --seconds "$seconds" --trace "$trace" >"$log" 2>"$log.err") \
    || echo "ab: $1 seed $2 (trace $trace) exited non-zero (see $log.err)" >&2
  echo "ab: $1 seed $2 (trace $trace): $(tail -n 1 "$log" | cut -c1-120)" >&2
}

i=0
for s in "${seeds[@]}"; do
  if [ $((i % 2)) -eq 0 ]; then order="parent change"; else order="change parent"; fi
  for side in $order; do run_side "$side" "$s"; done
  i=$((i + 1))
done
for side in parent change; do run_side "$side" "${seeds[0]}" 1; done

python3 - "$root/BENCHMARK.json" "$out" "$workload" "${seeds[@]}" <<'EOF'
import json, statistics, sys

bench, out, workload, seeds = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4:]
metrics = json.load(open(bench))["end_to_end"]

def result(side, seed):
    try:
        with open(f"{out}/{side}-seed{seed}.txt") as fh:
            last = fh.read().strip().splitlines()[-1]
        return json.loads(last)
    except (OSError, IndexError, ValueError):
        return None

def quartiles(xs):
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3

runs = {s: (result("parent", s), result("change", s)) for s in seeds}
failed = [f"{side} seed {s}" for s, pair in runs.items() for side, r in zip(("parent", "change"), pair)
          if r is None or not r.get("correct") or r.get("failed", 0)]
print(f"workload {workload}: {len(seeds)} pairs, seeds {' '.join(seeds)}")
if failed:
    print("runs missing or with failed checks: " + ", ".join(failed))
print(f"{'metric':<18} {'side':<7} {'q1':>10} {'median':>10} {'q3':>10}   wins")
for m in metrics:
    name, lower = m["name"], m["better"] == "lower"
    pairs = [(p["metrics"][name]["value"], c["metrics"][name]["value"]) for p, c in runs.values()
             if p and c and name in p["metrics"] and name in c["metrics"]]
    if not pairs:
        print(f"{name:<18} (no paired samples)")
        continue
    par, chg = [p for p, _ in pairs], [c for _, c in pairs]
    wins = sum((c < p) if lower else (c > p) for p, c in pairs)
    losses = sum((c > p) if lower else (c < p) for p, c in pairs)
    pq, cq = quartiles(par), quartiles(chg)
    print(f"{name:<18} {'parent':<7} {pq[0]:>10.2f} {pq[1]:>10.2f} {pq[2]:>10.2f}")
    print(f"{'':<18} {'change':<7} {cq[0]:>10.2f} {cq[1]:>10.2f} {cq[2]:>10.2f}   "
          f"{wins}/{len(pairs)} (losses {losses})")
    gap, iqr = abs(cq[1] - pq[1]), pq[2] - pq[0]
    better = cq[1] < pq[1] if lower else cq[1] > pq[1]
    rule = better and len(pairs) >= 10 and wins >= 0.9 * len(pairs) and gap > iqr
    print(f"{'':<18} median {'better' if better else 'worse'} by {gap:.2f} "
          f"({100 * (cq[1] - pq[1]) / pq[1]:+.1f}% of parent); parent IQR {iqr:.2f}; "
          f"gain rule {'holds' if rule else 'does not hold'}")

traced = [result(f"{side}", f"{seeds[0]}-traced") for side in ("parent", "change")]
print(f"\ntraced run, seed {seeds[0]}: per-layer jobs and seconds, parent / change")
if None in traced:
    print("traced run missing on the " + " and ".join(
        side for side, r in zip(("parent", "change"), traced) if r is None) + " side")
else:
    par, chg = (r["metrics"] for r in traced)
    ops = [n[:-5] for n in par if n.endswith(".jobs")]
    ops += [n[:-5] for n in chg if n.endswith(".jobs") and n[:-5] not in ops]
    fields = ("jobs", "wall_s", "call_s", "gap_s", "planning_s", "add_batch_s")

    def value(side, op, field):
        return side.get(f"{op}.{field}", {}).get("value")

    def cell(side, op, field):
        v = value(side, op, field)
        return "-" if v is None else f"{v:g}" if field == "jobs" else f"{v:.3f}"

    print(f"{'layer':<24}" + "".join(f" {f:>15}" for f in fields))
    for op in ops:
        # a layer the workload never runs reports zeros on both sides
        if all(not value(side, op, f) for side in (par, chg) for f in fields):
            continue
        print(f"{op:<24}" + "".join(f" {cell(par, op, f) + ' / ' + cell(chg, op, f):>15}" for f in fields))
EOF
echo "ab: run outputs in $out" >&2
