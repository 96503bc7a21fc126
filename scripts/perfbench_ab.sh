#!/bin/bash
# Interleaved A/B receipt for one perfbench workload.
#
#   scripts/perfbench_ab.sh <parent-dir> <change-dir> <workload> <pairs>
#
# Runs `python3 perfbench/run.py` untraced in two checkouts, one pair at a
# time, switching which side runs first on every pair. Both sides of pair
# i use seed SEED_BASE+i (SEED_BASE defaults to 1) and the run length
# BENCHMARK.json sets (`run_seconds`). Each checkout builds into its own
# `.bench_build/`.
#
# Prints, for every end-to-end metric in BENCHMARK.json, each side's
# median and quartiles (Q1, Q3), the parent's IQR, and how many pairs the
# change won (ties count for neither side). Raw result lines go to
# $AB_OUT (default: a new temporary directory), one file per side.
set -euo pipefail
if [ $# -ne 4 ]; then
  echo "usage: $0 <parent-dir> <change-dir> <workload> <pairs>" >&2
  exit 2
fi
parent=$(cd "$1" && pwd)
change=$(cd "$2" && pwd)
workload=$3
pairs=$4
seed_base=${SEED_BASE:-1}
out=${AB_OUT:-$(mktemp -d -t perfbench_ab.XXXXXX)}
mkdir -p "$out"
seconds=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$change/BENCHMARK.json")

run_side() { # <side> <dir> <seed>
  local line
  line=$(cd "$2" && python3 perfbench/run.py --workload "$workload" --seed "$3" \
    --seconds "$seconds" --trace 0 | tail -1)
  echo "$line" >> "$out/$1.jsonl"
  echo "pair seed $3 $1: $line" | cut -c1-160 >&2
}

for ((i = 0; i < pairs; i++)); do
  seed=$((seed_base + i))
  if ((i % 2 == 0)); then
    run_side parent "$parent" "$seed"; run_side change "$change" "$seed"
  else
    run_side change "$change" "$seed"; run_side parent "$parent" "$seed"
  fi
done

python3 - "$change/BENCHMARK.json" "$out/parent.jsonl" "$out/change.jsonl" <<'EOF'
import json, statistics, sys

bench = json.load(open(sys.argv[1]))
sides = [[json.loads(l) for l in open(f) if l.strip()] for f in sys.argv[2:4]]

def quartiles(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3

for name, runs in zip(("parent", "change"), sides):
    print(f"{name}: {len(runs)} runs, correct {sum(r['correct'] for r in runs)}, "
          f"failed ops {sum(r['failed'] for r in runs)}")
print(f"{'metric':14} {'parent Q1/med/Q3':>28} {'change Q1/med/Q3':>28} "
      f"{'parent IQR':>10} {'wins':>6}")
for m in bench["end_to_end"]:
    k, lower = m["name"], m["better"] == "lower"
    p = [r["metrics"][k]["value"] for r in sides[0]]
    c = [r["metrics"][k]["value"] for r in sides[1]]
    wins = sum((b < a) if lower else (b > a) for a, b in zip(p, c))
    pq, cq = quartiles(p), quartiles(c)
    fmt = lambda q: "/".join(f"{v:.3f}" for v in q)
    print(f"{k:14} {fmt(pq):>28} {fmt(cq):>28} {pq[2] - pq[0]:>10.3f} "
          f"{wins:>3}/{len(p)}")
EOF
echo "raw results: $out" >&2
