#!/usr/bin/env bash
# Round-close scale-TREND gate (r17 verdict item 6): time the top-10
# bench rows cold at 1x and SOAK_REPS x replicas and assert wall time
# grows at most ~linearly (see Profile.scala sftrend for the bound).
# Appends an auditable line per row to tools/sftrend.log, exits non-zero
# on any superlinear row.
#
# Usage: tools/sftrend.sh [sfDir]   (default /root/testdata/sf0.1)
set -u
cd "$(dirname "$0")/.."
sf="${1:-/root/testdata/sf0.1}"
reps="${SPARK_GRAFT_SOAK_REPS:-10}"
sha="$(git rev-parse --short HEAD 2>/dev/null || echo unknown)"
srctree="$(git rev-parse HEAD:src 2>/dev/null || echo unknown)"
start="$(date -u +%Y-%m-%dT%H:%M:%SZ)"
out="$(mktemp)"
t0=$(date +%s)
tools/graft-java.sh 24g graft.Profile sftrend "$sf" 1 >"$out" 2>&1
rc=$?
dt=$(( $(date +%s) - t0 ))
rows="$(grep -E '^SFTREND ' "$out" | tr '\n' ' ')"
summary="$(grep -E '^SFTREND PASS' "$out" | tail -1)"
if [ $rc -eq 0 ] && [ -n "$summary" ]; then
  echo "$start PASS head=$sha srctree=$srctree sf=$sf reps=$reps secs=$dt $rows" >> tools/sftrend.log
  echo "sftrend: GREEN ($summary, ${dt}s)"
else
  # a clean exit WITHOUT the PASS line is still a red gate (output
  # drift / truncation must not read as green to a && chain)
  [ $rc -eq 0 ] && rc=1
  echo "$start FAIL head=$sha srctree=$srctree sf=$sf reps=$reps secs=$dt rc=$rc $rows" >> tools/sftrend.log
  echo "sftrend: RED. Output tail:"
  tail -40 "$out"
fi
rm -f "$out"
exit $rc
