#!/usr/bin/env bash
# ROUND-CLOSE GATE (r11 verdict item 1) — run as the LAST step of a
# round, after the final commit. Exits non-zero when the round would
# close dirty:
#   (a) `git status` not clean — modified or untracked files (three
#       consecutive rounds closed with driver artifacts uncommitted
#       while the README checklist stayed aspirational);
#   (b) any PRESENT round artifact (BENCH_r*/CORRECTNESS_r*/
#       SCALING_r*.json, bench_last.json, LEAKCHECK.json,
#       scaling_exponents.json) untracked by git — (a) already covers
#       this unless gitignored; the separate pass names the artifact
#       in the failure message;
#   (c) the COMMITTED scaling table would be refused by HEAD's own
#       audit floors (ScalingTableSpec: coverage, bounds + re-derived
#       control evidence, refit backstop, growth axes, heaps fits);
#   (d) the off-tier float-risk cross-check fails — the float-deriving
#       Verify subset at sf0.001 + sf0.1 + a per-round reseeded
#       fixture (tools/float_risk_check.sh; mechanizes the manual run
#       that caught the r13 q19c/q19d cast-divergence bug).
#
# Driver artifacts generated AFTER the round's last commit cannot be
# committed this round — this gate exists so that state is loud, and
# the FIRST commit of the next round must contain them (re-run this
# script then).
#
# ROUND_CLOSE_SKIP_SBT=1 skips (c) for a fast tree-only check (e.g.
# when sbt is already running a sweep and would contend for the lock).
# ROUND_CLOSE_SKIP_FLOAT=1 skips (d) likewise (it needs compiled
# classes and ~3 min of Spark runs).
set -uo pipefail
cd "$(dirname "$0")/.."
fail=0

if [ -n "$(git status --porcelain)" ]; then
  echo "ROUND-CLOSE FAIL: dirty tree —"
  git status --porcelain
  fail=1
fi

for f in BENCH_r*.json CORRECTNESS_r*.json SCALING_r*.json \
         bench_last.json LEAKCHECK.json scaling_exponents.json; do
  [ -e "$f" ] || continue
  if ! git ls-files --error-unmatch "$f" >/dev/null 2>&1; then
    echo "ROUND-CLOSE FAIL: round artifact untracked: $f"
    fail=1
  fi
done

if [ "${ROUND_CLOSE_SKIP_SBT:-0}" != "1" ]; then
  echo "[round-close] ScalingTableSpec under HEAD's floors..."
  if ! sbt -batch 'testOnly graft.plans.ScalingTableSpec' \
      >/tmp/round_close_sbt.log 2>&1; then
    echo "ROUND-CLOSE FAIL: committed scaling table fails HEAD's floors:"
    grep -E '\*\*\* FAILED|was not empty|missing' /tmp/round_close_sbt.log \
      | head -20
    echo "(full log: /tmp/round_close_sbt.log)"
    fail=1
  fi
fi

if [ "${ROUND_CLOSE_SKIP_FLOAT:-0}" != "1" ]; then
  echo "[round-close] off-tier float-risk cross-check..."
  if ! bash tools/float_risk_check.sh >/tmp/round_close_float.log 2>&1; then
    echo "ROUND-CLOSE FAIL: float-risk cross-check red:"
    grep -E 'FAIL' /tmp/round_close_float.log | head -20
    echo "(full log: /tmp/round_close_float.log)"
    fail=1
  fi
fi

if [ "$fail" = 0 ]; then
  echo "[round-close] OK: tree clean, artifacts tracked, committed" \
    "table reproducible under HEAD, float-risk subset green off-tier"
fi
exit $fail
