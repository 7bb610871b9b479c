#!/usr/bin/env bash
# Paired same-host A/B of graft.Bench queries: BASE_REF against the
# working tree, one Bench JVM per side and round.
#
# usage: tools/bench_ab.sh BASE_REF ROUNDS QUERIES
#   QUERIES  comma-separated registry names (SPARK_GRAFT_BENCH_ONLY)
#   e.g.  tools/bench_ab.sh HEAD~1 4 kmer_count,corpus_kmer
#   env:  SPARK_GRAFT_SF_DIR (default: graft.Bench's sf0.1 directory),
#         SPARK_GRAFT_CPUS (default nproc),
#         SPARK_GRAFT_BENCH_MAX_PASSES (passes per query and JVM, default 10)
#
# Both trees are compiled with perfbench/build.py (one scalac run each);
# BASE_REF is exported with `git archive` under ${TMPDIR:-/tmp}. Which
# side runs first flips each round. Every warm pass of every round is
# one sample: the script prints, per query, each side's median [q1, q3]
# and n, and whether the working tree's median lies inside the base
# side's quartile range.
set -euo pipefail
USAGE="usage: bench_ab.sh BASE_REF ROUNDS QUERIES"
BASE_REF="${1:?$USAGE}"
ROUNDS="${2:?$USAGE}"
QUERIES="${3:?$USAGE}"
ROOT="$(cd "$(dirname "$0")/.." && pwd)"

OUT="$(mktemp -d "${TMPDIR:-/tmp}/bench_ab.XXXXXX")"
BASE="$OUT/base"
mkdir -p "$BASE"
git -C "$ROOT" archive "$(git -C "$ROOT" rev-parse --verify "$BASE_REF^{commit}")" | tar -x -C "$BASE"
trap 'rm -rf "$BASE"' EXIT

classpath() {  # classpath TREE: compile TREE's sources, print the classpath
  python3 -c 'import sys; sys.path.insert(0, sys.argv[1]); import build; print(build.build()[0])' \
    "$1/perfbench"
}
FLAGS="$(python3 -c 'import sys; sys.path.insert(0, sys.argv[1]); import build
print(" ".join(build.JVM_FLAGS))' "$ROOT/perfbench")"
declare -A CP=([base]="$(classpath "$BASE")" [new]="$(classpath "$ROOT")")

bench() {  # bench SIDE ROUND
  local dir="$OUT/$1-$2"
  mkdir -p "$dir"
  SPARK_GRAFT_OUT_DIR="$dir" SPARK_GRAFT_BENCH_ONLY="$QUERIES" \
    SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" \
    SPARK_GRAFT_BENCH_MAX_PASSES="${SPARK_GRAFT_BENCH_MAX_PASSES:-10}" \
    java $FLAGS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
      -cp "${CP[$1]}" graft.Bench > "$dir/stdout" 2> "$dir/stderr"
  echo "[bench_ab] round $2 $1 done" >&2
}

for r in $(seq 1 "$ROUNDS"); do
  if (( r % 2 )); then bench base "$r"; bench new "$r"; else bench new "$r"; bench base "$r"; fi
done

python3 - "$OUT" "$ROUNDS" "$QUERIES" <<'EOF'
import json, os, statistics, sys

out, rounds, queries = sys.argv[1], int(sys.argv[2]), sys.argv[3].split(",")

def passes(side):
    secs = {q: [] for q in queries}
    for r in range(1, rounds + 1):
        with open(os.path.join(out, f"{side}-{r}", "bench_result.json")) as f:
            runs = json.load(f).get("runs", {})
        for q in queries:
            secs[q] += [p["sec"] for p in runs.get(q, []) if p["sec"] >= 0]
    return secs

def stats(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
    return med, q1, q3

base, new = passes("base"), passes("new")
print(f"run dirs: {out}")
for q in queries:
    if not base[q] or not new[q]:
        print(f"{q:20} missing passes (base n={len(base[q])}, new n={len(new[q])})")
        continue
    (bm, b1, b3), (nm, n1, n3) = stats(base[q]), stats(new[q])
    inside = "inside" if b1 <= nm <= b3 else "OUTSIDE"
    print(f"{q:20} base {bm:.4f} [{b1:.4f}, {b3:.4f}] n={len(base[q])}   "
          f"new {nm:.4f} [{n1:.4f}, {n3:.4f}] n={len(new[q])}   new median {inside} base quartiles")
EOF
