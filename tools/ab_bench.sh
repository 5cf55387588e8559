#!/usr/bin/env bash
# Isolated subset bench for A/B work: graft.Bench through run_main.sh,
# run in a fresh temporary directory so paired runs never share files.
# The path of that run's bench_last.json goes to stderr for diffing.
#   SPARK_GRAFT_ONLY=q1,q2 SPARK_GRAFT_RUNS=3 tools/ab_bench.sh
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
cd "$(mktemp -d)"
echo "[ab_bench] $PWD/bench_last.json" >&2
exec "$REPO/tools/run_main.sh" graft.Bench
