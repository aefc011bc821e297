#!/usr/bin/env bash
# Round-close pre-flight: refuse to snapshot with a red suite.
#
# Rounds 11 and 12 both shipped end-of-round snapshots carrying a failing
# test; the round-12 verdict asked for this rule to be MECHANICAL. Run
# this before the final commit of a round (and before any commit that
# claims a green suite): it runs the full ScalaTest suite, appends an
# auditable line to tools/preflight.log, and exits non-zero on any
# failure so a `preflight.sh && git commit` chain cannot snapshot red.
set -u
cd "$(dirname "$0")/.."
sha="$(git rev-parse --short HEAD 2>/dev/null || echo unknown)"
# srctree pins the AUDITED SOURCE TREE independent of later log-only
# commits: committing this log file moves HEAD, but `git rev-parse
# HEAD:src` of the snapshot must still equal the srctree recorded here —
# that equality is the mechanical "no source changed after the audit"
# check the round-14 verdict asked for (rounds 11/12 shipped red exactly
# by source commits landing after the last green audit).
srctree="$(git rev-parse HEAD:src 2>/dev/null || echo unknown)"
dirty="$(git status --porcelain -- src 2>/dev/null | wc -l | tr -d ' ')"
start="$(date -u +%Y-%m-%dT%H:%M:%SZ)"
out="$(mktemp)"
sbt -batch test >"$out" 2>&1
rc=$?
# sbt's own [error] lines only: an unanchored "error" also matched Spark
# INFO noise such as "Pushed Filters: ... EqualTo(event_type,error)"
summary="$(grep -E '^\[info\] (Tests:|Passed:)|TESTS? FAILED|^\[error\]' "$out" | tail -3 | tr '\n' ' ')"
if [ "$dirty" != "0" ]; then
  summary="UNCOMMITTED-SRC-CHANGES=$dirty $summary"
fi
# ANN recall gate (r14 verdict item 8): recall@10 of annTopK/ivfTopK vs
# brute force at 10x soak replicas, asserted >= 0.9 inside the probe —
# a failed gate turns the whole preflight red.
if [ $rc -eq 0 ]; then
  rec="$(tools/graft-java.sh 8g \
    graft.Profile recall /root/testdata/sf0.01 1 2>/dev/null | grep '^RECALL' | tail -1)"
  if [ -n "$rec" ]; then
    summary="$rec $summary"
  else
    rc=1
    summary="RECALL-GATE-FAILED $summary"
  fi
fi
if [ $rc -eq 0 ]; then
  echo "$start PASS head=$sha srctree=$srctree $summary" >> tools/preflight.log
  echo "preflight: GREEN — safe to snapshot ($summary)"
else
  echo "$start FAIL head=$sha srctree=$srctree $summary" >> tools/preflight.log
  echo "preflight: RED — DO NOT SNAPSHOT. Failing output tail:"
  tail -40 "$out"
fi
rm -f "$out"
exit $rc
