#!/usr/bin/env bash
# Run a graft main class with plain `java` against the sbt-compiled
# classes — the long measurement mains (ScalingSweep, Bench) hold no
# sbt lock this way, so compilation and tests stay available while a
# sweep runs. Mirrors build.sbt's fork options (JDK17 add-opens, UTC,
# UI off, 8g driver heap). Compile first: `sbt -batch compile`. The
# main runs in the caller's working directory, where it reads and
# writes its relative paths; the examples run from the repo root.
#
#   tools/run_main.sh graft.ScalingSweep --out SCALING_r10.json
#   SPARK_GRAFT_SF_DIR=... tools/run_main.sh graft.Bench
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
ADD_OPENS=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent \
         java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
         sun.security.action sun.util.calendar; do
  ADD_OPENS+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
exec java "${ADD_OPENS[@]}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  "-Xmx${SPARK_DRIVER_MEM:-8g}" \
  -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$@"
