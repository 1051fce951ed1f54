#!/usr/bin/env bash
# Round-close execution-model gates (VERDICT r13 "next round" #2).
#
# The r13i lesson: the in-suite ConcurrencySpec runs at sf0.001 — the
# scale that repeatedly PASSED while a real cross-session race existed;
# only the sf0.01 whole-surface soak caught it. This script makes the
# catching-scale soaks a standing, non-skippable round gate: it runs
# ConcurrencyProbe AND RetryProbe at sf0.01 (plus the session-churn
# endurance probe, the degenerate-input sweep and the hostile-row sweep
# at their design scale) sequentially in fresh JVMs, captures each
# probe's own pass/fail verdict, and emits a SCALE.md-ready summary
# block. Any probe failure exits 1.
#
# Usage: scripts/run_gates.sh            (from the repo root)
#   env: GATES_SF_DIR   (default /root/testdata/sf0.01)
#        SPARK_GRAFT_CPUS (default 32)
#        GATES_OUT      (log dir, default /tmp/graft_gates)
#
# Do NOT run concurrently with another Spark JVM (bench timing) or an
# sbt compile (forked probes load classes lazily from target/).
set -u
cd "$(dirname "$0")/.."

SF_DIR="${GATES_SF_DIR:-/root/testdata/sf0.01}"
CPUS="${SPARK_GRAFT_CPUS:-32}"
OUT="${GATES_OUT:-/tmp/graft_gates}"
mkdir -p "$OUT"
fail=0

run_probe() {
  local name="$1"; shift
  echo "== $name =="
  local t0=$SECONDS
  if ! "$@" >"$OUT/$name.log" 2>&1; then
    echo "GATE-FAIL: $name (see $OUT/$name.log)"
    fail=1
  fi
  echo "   ($((SECONDS - t0)) s)"
  grep -E '^(===|CHURN-OK|CHURN-FAIL|SOAK-FAIL|SOAK-DIVERGED|DIVERGED)' \
    "$OUT/$name.log" | tail -n 3 | sed 's/^/    /'
}

run_probe concurrency env SPARK_GRAFT_SF_DIR="$SF_DIR" \
  SPARK_GRAFT_CPUS="$CPUS" GRAFT_SOAK_THREADS=8 \
  sbt -batch "Test/runMain graft.ConcurrencyProbe"

run_probe retry env SPARK_GRAFT_SF_DIR="$SF_DIR" \
  SPARK_GRAFT_CPUS="$CPUS" \
  sbt -batch "Test/runMain graft.RetryProbe"

run_probe churn env SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 \
  SPARK_GRAFT_CPUS=8 \
  sbt -batch "Test/runMain graft.ChurnProbe"

# the two sweeps read their own default tables (sf0.001)
run_probe degenerate env -u SPARK_GRAFT_SF_DIR SPARK_GRAFT_CPUS=8 \
  sbt -batch "Test/runMain graft.DegenerateProbe"

run_probe hostile env -u SPARK_GRAFT_SF_DIR SPARK_GRAFT_CPUS=8 \
  sbt -batch "Test/runMain graft.HostileInputProbe"

# OK/FAIL line totals of a sweep probe's log
totals() {
  echo "$(grep -c '^OK ' "$OUT/$1.log") OK, $(grep -c '^FAIL ' "$OUT/$1.log") FAIL"
}

# slowest OK query of a sweep probe's log (a stalled query shows here
# without reading the log): "[<shape>] <query> <seconds> s"
slowest() {
  awk '/^OK / { s = $(NF - 1) + 0; if (q == "" || s > m) {
      m = s; q = $2; for (i = 3; i <= NF - 3; i++) q = q " " $i } }
    END { if (q != "") printf "slowest OK %s %.2f s", q, m }' "$OUT/$1.log"
}

SUMMARY="$OUT/gates_summary.md"
{
  echo "Round gates ($(date -u +%FT%TZ), HEAD $(git rev-parse --short HEAD), sf dir $SF_DIR, cpus $CPUS):"
  echo "- ConcurrencyProbe (8 sessions x full surface): $(grep -E '^=== ' "$OUT/concurrency.log" | tail -1 | sed 's/^=== //; s/ ===$//')"
  echo "- RetryProbe (clean vs chaos fingerprints): $(grep -E '^=== ' "$OUT/retry.log" | tail -1 | sed 's/^=== //; s/ ===$//')"
  echo "- ChurnProbe (sequential session endurance): $(grep -E '^CHURN-(OK|FAIL)' "$OUT/churn.log" | tail -1)"
  echo "- DegenerateProbe (empty/one-row/mono-key tables x full surface): $(totals degenerate); $(slowest degenerate)"
  echo "- HostileInputProbe (hostile rows x full surface): $(totals hostile); $(slowest hostile)"
  if [ "$fail" -ne 0 ]; then echo "- VERDICT: GATE FAILURE (see $OUT/*.log)"; fi
} | tee "$SUMMARY"

echo
if [ "$fail" -ne 0 ]; then
  echo "run_gates: FAILED"
  exit 1
fi
echo "run_gates: all gates green — paste $SUMMARY into SCALE.md's round entry"
