#!/bin/bash
# Alternating A/B of the repo benchmark between two checkouts.
#
#   scripts/bench_ab.sh PARENT_DIR CHANGE_DIR WORKLOAD SEED [SEED ...]
#
# PARENT_DIR and CHANGE_DIR are checkouts of the two commits (git
# worktrees or clones); each runs its own benchmark/run.py on its own
# source.  For every seed both sides run once, back to back, and the
# side that goes first alternates from seed to seed, so a slow minute on
# the box lands on both sides equally often.  Each run appends one JSON
# line to $OUT:
#   {"side", "rev", "workload", "seed", "first", "result"}
# where "result" is the JSON line run.py printed (null if it printed
# none).  Every run lasts CHANGE_DIR's BENCHMARK.json run_seconds.
# After the last seed, the medians, quartiles and per-pair wins of every
# metric are printed; whether lower or higher wins is the metric's
# "better" in BENCHMARK.json, and a metric it does not list is printed
# without wins.
#
# Env: OUT (default bench_records/ab_<workload>.jsonl in this checkout),
# TRACE (0 or 1, default 0).
set -euo pipefail

if [ $# -lt 4 ]; then
  sed -n '2,21p' "$0" >&2
  exit 2
fi
PARENT=$(cd "$1" && pwd)
CHANGE=$(cd "$2" && pwd)
WL=$3
shift 3
HERE=$(cd "$(dirname "$0")/.." && pwd)
OUT=${OUT:-$HERE/bench_records/ab_$WL.jsonl}
RUN_SECONDS=$(python3 -c 'import json, sys
print(json.load(open(sys.argv[1]))["run_seconds"])' "$CHANGE/BENCHMARK.json")
TRACE=${TRACE:-0}
mkdir -p "$(dirname "$OUT")"

run_side() {  # side dir seed first
  local rev line
  rev=$(git -C "$2" describe --always --dirty 2>/dev/null || echo unknown)
  line=$(cd "$2" && timeout 900 python3 benchmark/run.py \
           --workload "$WL" --seed "$3" --seconds "$RUN_SECONDS" \
           --trace "$TRACE" 2>/dev/null | tail -1) || true
  python3 - "$1" "$rev" "$WL" "$3" "$4" "$line" >> "$OUT" <<'PY'
import json, sys
side, rev, wl, seed, first, line = sys.argv[1:]
try:
    result = json.loads(line)
except ValueError:
    result = None
print(json.dumps({"side": side, "rev": rev, "workload": wl,
                  "seed": int(seed), "first": first == "1",
                  "result": result}))
PY
  echo "$(date +%T) $WL seed $3 $1: $(tail -1 "$OUT" | cut -c1-160)" >&2
}

i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then
    run_side parent "$PARENT" "$seed" 1
    run_side change "$CHANGE" "$seed" 0
  else
    run_side change "$CHANGE" "$seed" 1
    run_side parent "$PARENT" "$seed" 0
  fi
  i=$((i + 1))
done

python3 - "$CHANGE/BENCHMARK.json" "$OUT" "$WL" "$@" <<'PY'
import json, statistics, sys
spec, out, wl = sys.argv[1:4]
seeds = [int(s) for s in sys.argv[4:]]
spec = json.load(open(spec))
better = {m["name"]: m["better"]
          for m in spec["end_to_end"] + spec["per_layer"]}
runs = {}
for line in open(out):
    r = json.loads(line)
    if r["workload"] == wl and r["seed"] in seeds:
        runs[r["side"], r["seed"]] = r["result"]
bad = [k for k, v in runs.items() if not v or not v.get("correct")]
print(f"{wl}: {len(seeds)} seeds; failed or incorrect runs: {bad or 'none'}")
names = sorted({m for v in runs.values() if v for m in v["metrics"]})
for m in names:
    val = {k: v["metrics"][m]["value"] for k, v in runs.items()
           if v and m in v["metrics"]}
    p = [val[("parent", s)] for s in seeds if ("parent", s) in val]
    c = [val[("change", s)] for s in seeds if ("change", s) in val]
    pairs = [(val[("parent", s)], val[("change", s)]) for s in seeds
             if ("parent", s) in val and ("change", s) in val]
    if len(p) < 2 or len(c) < 2:
        continue
    qp, qc = statistics.quantiles(p, n=4), statistics.quantiles(c, n=4)
    if m in better:
        sign = 1 if better[m] == "higher" else -1
        wins = sum(sign * (b - a) > 0 for a, b in pairs)
        verdict = f"change better in {wins}/{len(pairs)} pairs"
    else:
        verdict = "not in BENCHMARK.json: no direction"
    print(f"  {m:12s} parent {qp[1]:.4g} [{qp[0]:.4g}-{qp[2]:.4g}]  "
          f"change {qc[1]:.4g} [{qc[0]:.4g}-{qc[2]:.4g}]  {verdict}")
PY
