#!/usr/bin/env bash
# Bench gate: any commit touching Bench.scala must pass this smoke first.
# Runs graft.Bench end-to-end at sf0.001 (full protocol: 10 baseline
# queries + all three streaming probes) and fails on nonzero exit or on
# output missing the single JSON result line. ~1-2 min; would have caught
# the round-10 TIMESTAMP_NTZ ClassCastException five hours before the
# driver's sf0.1 run did.
#
# graft.Bench writes its full result to BENCH_OUT.json in the repository
# root; the gate puts back whatever file was there before, so a gate run
# leaves the working tree as it found it.
#
# Usage: scripts/bench_gate.sh [sf_dir]   (default /root/testdata/sf0.001)
set -u
SF_DIR="${1:-/root/testdata/sf0.001}"
ROOT=$(cd "$(dirname "$0")/.." && pwd)
SAVED=$(mktemp)
if [ -f "$ROOT/BENCH_OUT.json" ]; then
  cp "$ROOT/BENCH_OUT.json" "$SAVED"
  trap 'mv "$SAVED" "$ROOT/BENCH_OUT.json"' EXIT
else
  trap 'rm -f "$SAVED" "$ROOT/BENCH_OUT.json"' EXIT
fi
OUT=$(cd "$ROOT" && \
  SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" \
  sbt -batch "runMain graft.Bench" 2>&1)
RC=$?
# sbt prefixes stdout with "[info] " — match the JSON anywhere in the line
JSON=$(printf '%s\n' "$OUT" | grep -oE '\{"metric":"total".*' | tail -1)
if [ $RC -ne 0 ] || [ -z "$JSON" ]; then
  printf '%s\n' "$OUT" | tail -40
  echo "BENCH GATE: FAIL (rc=$RC, json_line=${JSON:+present}${JSON:-missing})" >&2
  exit 1
fi
printf '%s\n' "$JSON"
echo "BENCH GATE: PASS"
