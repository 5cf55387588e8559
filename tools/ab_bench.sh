#!/usr/bin/env bash
# Isolated subset bench for A/B work: same JVM flags as run_main.sh,
# run in a fresh temporary directory so paired runs never share files.
# The path of that run's bench_last.json goes to stderr for diffing.
#   SPARK_GRAFT_ONLY=q1,q2 SPARK_GRAFT_RUNS=3 tools/ab_bench.sh
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
ADD_OPENS=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent \
         java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
         sun.security.action sun.util.calendar; do
  ADD_OPENS+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
cd "$(mktemp -d)"
echo "[ab_bench] $PWD/bench_last.json" >&2
exec java "${ADD_OPENS[@]}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  "-Xmx${SPARK_DRIVER_MEM:-8g}" \
  -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Bench
