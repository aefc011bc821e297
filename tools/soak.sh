#!/usr/bin/env bash
# Round-close scale soak (r16 verdict item 6): run graft.Profile soakgate
# at the bench heap (-Xmx24g) against a SOAK_REPS× replica of the sf dir,
# append an auditable line to tools/soak.log, exit non-zero on failure.
# Gate contents (see Profile.scala soakgate): top-10 bench queries at
# replica scale, one bulk merge-on-read upsert over a replicated orders
# log table, vocabulary-class regime dispatch asserted distributed.
#
# Usage: tools/soak.sh [sfDir]   (default /root/testdata/sf0.1)
set -u
cd "$(dirname "$0")/.."
sf="${1:-/root/testdata/sf0.1}"
reps="${SPARK_GRAFT_SOAK_REPS:-10}"
sha="$(git rev-parse --short HEAD 2>/dev/null || echo unknown)"
srctree="$(git rev-parse HEAD:src 2>/dev/null || echo unknown)"
start="$(date -u +%Y-%m-%dT%H:%M:%SZ)"
out="$(mktemp)"
t0=$(date +%s)
tools/graft-java.sh 24g graft.Profile soakgate "$sf" 1 >"$out" 2>&1
rc=$?
dt=$(( $(date +%s) - t0 ))
summary="$(grep -E '^SOAKGATE' "$out" | tail -1)"
if [ $rc -eq 0 ] && [ -n "$summary" ]; then
  echo "$start PASS head=$sha srctree=$srctree sf=$sf reps=$reps secs=$dt $summary" >> tools/soak.log
  echo "soak: GREEN ($summary, ${dt}s)"
else
  # a clean exit WITHOUT the SOAKGATE line is still a red gate (output
  # drift / truncation must not read as green to a && chain)
  [ $rc -eq 0 ] && rc=1
  echo "$start FAIL head=$sha srctree=$srctree sf=$sf reps=$reps secs=$dt rc=$rc" >> tools/soak.log
  echo "soak: RED. Output tail:"
  tail -40 "$out"
fi
rm -f "$out"
exit $rc
