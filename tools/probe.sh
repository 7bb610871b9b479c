#!/usr/bin/env bash
# Run the N-fold scale probe and write BENCH_probe<N>x_<tag>.json — but
# only if the probe actually produced output (an empty committed
# artifact reads as coverage that isn't — the r7 lesson). The probe
# streams to a temp file and the artifact only materializes when
# `test -s` passes.
#
# usage: probe.sh <tag, e.g. r11> [copies=10]
#   SPARK_GRAFT_CPUS=4 probe.sh r11 10   # constrained-core variant:
#   fills the cores at sf0.1 so the work curve isn't masked by idle
#   parallelism (r10 verdict #3); the artifact name then carries the
#   core count so a 4-core 10x is never confused with a 32-core one.
set -euo pipefail
cd "$(dirname "$0")/.."
TAG="${1:?usage: probe.sh <tag, e.g. r11> [copies]}"
COPIES="${2:-10}"
CPUS="${SPARK_GRAFT_CPUS:-32}"
SUFFIX=""
[ "$CPUS" != "32" ] && SUFFIX="_cpus${CPUS}"
OUT="BENCH_probe${COPIES}x${SUFFIX}_${TAG}.json"
TMP="$(mktemp)"
trap 'rm -f "$TMP"' EXIT
# `|| true`: under set -eo pipefail an sbt failure (or zero JSON lines,
# grep rc=1) would exit the script HERE and skip the guard below — the
# artifact would still be withheld, but silently. Let control reach the
# test -s so the failure prints its diagnostic.
SPARK_GRAFT_CPUS="$CPUS" SPARK_GRAFT_PROBE_COPIES="$COPIES" \
  sbt -batch 'runMain graft.ScaleProbe' 2>/dev/null | grep -E '^\{' > "$TMP" || true
test -s "$TMP" || { echo "probe produced no output; NOT writing $OUT" >&2; exit 1; }
mv "$TMP" "$OUT"
trap - EXIT
echo "wrote $OUT ($(wc -l < "$OUT") lines)"
