#!/usr/bin/env bash
# Paired same-host A/B of the perfbench workloads: BASE_REF against the
# working tree, one untraced run of each side per seed and workload.
#
# usage: tools/perfbench_ab.sh BASE_REF SEEDS [WORKLOADS]
#   SEEDS      N or N-M
#   WORKLOADS  comma-separated (default: the workloads BENCHMARK.json lists)
#   e.g.  tools/perfbench_ab.sh HEAD~1 1006-1015 kmer_k8
#
# BASE_REF is exported with `git archive` into a fresh directory under
# ${TMPDIR:-/tmp}; it shares the working tree's perfbench/.data, so both
# sides read the same seeded inputs and DuckDB digests. Which side runs
# first flips from one seed to the next. The runs land in base.jsonl and
# new.jsonl in that directory (compare.py's run-set format); the script
# then prints `compare.py compare` and, for each workload and end-to-end
# metric, the pairs the working tree won and its median gap next to the
# base side's q3 - q1.
set -euo pipefail
USAGE="usage: perfbench_ab.sh BASE_REF SEEDS [WORKLOADS]"
BASE_REF="${1:?$USAGE}"
SEEDS="${2:?$USAGE}"
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
WORKLOADS="${3:-$(python3 -c 'import json, sys
print(",".join(w["name"] for w in json.load(open(sys.argv[1]))["workloads"] if w["listed"]))' \
  "$ROOT/perfbench/spec.json")}"

OUT="$(mktemp -d "${TMPDIR:-/tmp}/perfbench_ab.XXXXXX")"
BASE="$OUT/base"
mkdir -p "$BASE" "$ROOT/perfbench/.data"
git -C "$ROOT" archive "$(git -C "$ROOT" rev-parse --verify "$BASE_REF^{commit}")" | tar -x -C "$BASE"
ln -s "$ROOT/perfbench/.data" "$BASE/perfbench/.data"
trap 'rm -rf "$BASE"' EXIT

run() {  # run TREE RUNSET WORKLOAD SEED
  python3 "$1/perfbench/compare.py" collect "$2" --seeds "$4" --workloads "$3" >&2
}

IFS=- read -r LO HI <<< "$SEEDS"
flip=0
for seed in $(seq "$LO" "${HI:-$LO}"); do
  for w in ${WORKLOADS//,/ }; do
    if (( flip )); then
      run "$ROOT" "$OUT/new.jsonl" "$w" "$seed"
      run "$BASE" "$OUT/base.jsonl" "$w" "$seed"
    else
      run "$BASE" "$OUT/base.jsonl" "$w" "$seed"
      run "$ROOT" "$OUT/new.jsonl" "$w" "$seed"
    fi
  done
  flip=$(( 1 - flip ))
done

echo "run sets: $OUT/base.jsonl $OUT/new.jsonl"
status=0
python3 "$ROOT/perfbench/compare.py" compare "$OUT/base.jsonl" "$OUT/new.jsonl" || status=$?
python3 - "$ROOT/perfbench/spec.json" "$OUT/base.jsonl" "$OUT/new.jsonl" <<'EOF'
import json, statistics, sys

lower = {m["name"]: m["better"] == "lower" for m in json.load(open(sys.argv[1]))["end_to_end"]}

def load(path):
    runs = {}
    for line in open(path):
        rec = json.loads(line)
        if rec.get("result") and rec["result"].get("correct"):
            runs[(rec["workload"], rec["seed"])] = {
                m: v["value"] for m, v in rec["result"]["metrics"].items()}
    return runs

base, new = load(sys.argv[2]), load(sys.argv[3])
for w in sorted({w for w, _ in base}):
    pairs = sorted(s for ww, s in base if ww == w and (w, s) in new)
    for m, low in lower.items():
        b = [base[(w, s)][m] for s in pairs]
        n = [new[(w, s)][m] for s in pairs]
        won = sum((y < x) if low else (y > x) for x, y in zip(b, n))
        gap = statistics.median(b) - statistics.median(n) if pairs else 0.0
        q = statistics.quantiles(b, n=4) if len(b) > 1 else (0.0, 0.0, 0.0)
        print(f"{w:14} {m:15} pairs won {won}/{len(pairs)}  "
              f"median gap {gap if low else -gap:+.4g} (base q3-q1 {q[2] - q[0]:.4g})")
EOF
exit "$status"
