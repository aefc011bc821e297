#!/usr/bin/env bash
# Physical-plan diff: a committed revision against the working tree.
#
#   tools/plandiff.sh <rev> <sfDir> <row>...
#
# Dumps each query row's formatted plan (`graft.PlanDump`) from <rev> and
# from the working tree, each in two regimes: the default regime bound,
# and `-Dgraft.regime.collectMaxRows=0` (every regime-dispatched artifact
# served distributed). Expression ids (`#123`), plan ids, RDD ids, the
# line numbers of call sites (`at ArtifactCache.scala:161`) and the
# random parts of temp paths and file names are stripped, then one line
# per row and regime says SAME or DIFF (DIFF is followed by the diff). A
# last line per regime compares the regime decisions (`key=value`) the
# rows recorded. Exits 1 if anything differs.
#
# <rev> is exported with `git archive` into ${TMPDIR:-/tmp}/plandiff-<commit>
# and compiled there once with the Spark image's scalac (reused by later
# calls for the same commit); the working tree's src/main is copied
# beside it and recompiled only when its sources change. Both sides run
# through tools/graft-java.sh. Raw dumps go to a fresh runs-* dir.
set -euo pipefail

if [[ $# -lt 3 ]]; then
  sed -n '2,4p' "$0" | sed 's/^# \{0,1\}//' >&2
  exit 2
fi
rev=$1 sf=$2
shift 2
rows=$(IFS=,; echo "$*")

root=$(git rev-parse --show-toplevel)
cd "$root"
commit=$(git rev-parse --verify "$rev^{commit}")
base=${TMPDIR:-/tmp}/plandiff-${commit:0:12}
jars=/opt/spark/jars
mkdir -p "$base"

if [[ ! -f $base/parent/.exported ]]; then
  rm -rf "$base/parent"
  mkdir -p "$base/parent"
  git archive "$commit" | tar -x -C "$base/parent"
  touch "$base/parent/.exported"
fi
rm -rf "$base/change/src"
mkdir -p "$base/change/src"
cp -r "$root/src/main" "$base/change/src/main"

build() { # tree
  local tree=$1 classes=$1/target/scala-2.13/classes stamp
  mkdir -p "$tree/tools"
  cp "$root/tools/graft-java.sh" "$tree/tools/graft-java.sh"
  stamp=$( (cd "$tree" && find src/main -type f | sort | xargs sha256sum;
            sha256sum < "$root/tools/plandiff/PlanDiffMain.scala") | sha256sum)
  [[ -f $classes.stamp && $(cat "$classes.stamp") == "$stamp" ]] && return
  echo "plandiff: compiling $tree" >&2
  rm -rf "$classes"
  mkdir -p "$classes"
  find "$tree/src/main/scala" -name '*.scala' > "$tree/sources.txt"
  echo "$root/tools/plandiff/PlanDiffMain.scala" >> "$tree/sources.txt"
  java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -usejavacp -nowarn \
    -d "$classes" @"$tree/sources.txt"
  if [[ -d $tree/src/main/resources ]]; then
    cp -r "$tree/src/main/resources/." "$classes/"
  fi
  echo "$stamp" > "$classes.stamp"
}
build "$base/parent"
build "$base/change"

out=$(mktemp -d "$base/runs-XXXXXX")
for side in parent change; do
  for regime in default bound0; do
    opts=()
    [[ $regime == bound0 ]] && opts=(-Dgraft.regime.collectMaxRows=0)
    echo "plandiff: $side $regime" >&2
    "$base/$side/tools/graft-java.sh" 8g "${opts[@]}" graft.PlanDiffMain \
      "$sf" "$out/$side-$regime" plan "$rows" >"$out/$side-$regime.log" 2>&1
  done
done

norm() {
  sed -E 's/#[0-9]+/#/g; s/plan_id=[0-9]+/plan_id=/g; s/RDD\[[0-9]+\]/RDD[]/g;
    s/(\.scala):[0-9]+/\1/g; s/([a-z-])[0-9]{10,}/\1N/g;
    s/[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}/UUID/g' "$1"
}
status=0
for row in "$@"; do
  for regime in default bound0; do
    a=$out/parent-$regime/${row}_plan.txt b=$out/change-$regime/${row}_plan.txt
    if [[ ! -f $a || ! -f $b ]]; then
      echo "MISSING $row $regime (see $out/*-$regime.log)"; status=1
    elif diff -q <(norm "$a") <(norm "$b") >/dev/null; then
      echo "SAME $row $regime"
    else
      echo "DIFF $row $regime"; diff -u <(norm "$a") <(norm "$b") || true; status=1
    fi
  done
done
for regime in default bound0; do
  if diff -u "$out/parent-$regime/decisions.txt" "$out/change-$regime/decisions.txt"; then
    echo "SAME decisions $regime ($(wc -l < "$out/change-$regime/decisions.txt") keys)"
  else
    echo "DIFF decisions $regime"; status=1
  fi
done
echo "plandiff: dumps in $out" >&2
exit $status
