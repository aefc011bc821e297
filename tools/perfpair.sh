#!/usr/bin/env bash
# Interleaved benchmark pairs: a committed revision against the working tree.
#
#   tools/perfpair.sh [--trace 0|1] <rev> <workload> <seed>...
#
# Exports <rev> into a temporary tree, then runs
# `python3 perfbench/run.py --workload <workload> --seed <s> --seconds N
# --trace T` once in that tree and once in the working tree for every
# seed, alternating which side goes first (the first seed starts with
# <rev>). N is BENCHMARK.json's run_seconds on both sides. Prints every
# run's `correct`/`failed`, then per metric the median on each side, the
# change/<rev> ratio, the bound BENCHMARK.json gives the metric
# (end-to-end metrics only), how many pairs the change won, and the
# quartile distance of <rev>'s runs over their median.
#
# The tree is an exported copy (`git archive`), not a `git worktree`:
# nothing is registered in the repository's .git, and an interrupted run
# leaves no stale worktree entry behind. It lives in
# ${TMPDIR:-/tmp}/perfpair-<commit> and is reused by later calls for the
# same commit (its .bench_build keeps the compiled classes and fixtures);
# delete it when done. Each call's raw outputs go to a fresh runs-* dir
# beside it. Default: --trace 0.
set -euo pipefail

trace=0
while [[ $# -gt 0 && $1 == --* ]]; do
  case $1 in
    --trace) trace=$2; shift 2 ;;
    *) echo "perfpair: unknown option $1" >&2; exit 2 ;;
  esac
done
if [[ $# -lt 3 ]]; then
  sed -n '2,4p' "$0" | sed 's/^# \{0,1\}//' >&2
  exit 2
fi
rev=$1 workload=$2
shift 2
seeds=("$@")

root=$(git rev-parse --show-toplevel)
cd "$root"
commit=$(git rev-parse --verify "$rev^{commit}")
seconds=$(python3 -c \
  'import json; print(json.load(open("BENCHMARK.json"))["run_seconds"])')

base=${TMPDIR:-/tmp}/perfpair-${commit:0:12}
tree=$base/tree
if [[ ! -f $tree/.exported ]]; then
  rm -rf "$tree"
  mkdir -p "$tree"
  git archive "$commit" | tar -x -C "$tree"
  touch "$tree/.exported"
fi
out=$(mktemp -d "$base/runs-$workload-t$trace-XXXXXX")

run() { # side dir seed
  local f=$out/$1-$3
  echo "perfpair: seed $3 $1" >&2
  (cd "$2" && python3 perfbench/run.py --workload "$workload" --seed "$3" \
      --seconds "$seconds" --trace "$trace") >"$f.out" 2>"$f.err" || true
}

i=0
for s in "${seeds[@]}"; do
  if (( i % 2 == 0 )); then
    run parent "$tree" "$s"; run change "$root" "$s"
  else
    run change "$root" "$s"; run parent "$tree" "$s"
  fi
  i=$((i + 1))
done

python3 - "$out" "$root/BENCHMARK.json" "$rev" "${seeds[@]}" <<'EOF'
import json, statistics, sys

out, bench_path, rev, seeds = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4:]
bench = json.load(open(bench_path))
bounds = {m["name"]: m for m in bench["end_to_end"]}
better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}


def result(side, seed):
    try:
        lines = open(f"{out}/{side}-{seed}.out").read().strip().splitlines()
        r = json.loads(lines[-1])
    except (OSError, IndexError, ValueError):
        return None
    # each metric is {"value": v, "unit": u}
    r["metrics"] = {k: m["value"] for k, m in r["metrics"].items()}
    return r


runs = {(side, s): result(side, s) for s in seeds for side in ("parent", "change")}
print(f"runs in {out}")
for (side, s), r in runs.items():
    if r is None:
        print(f"  seed {s:>4} {side:6}  NO RESULT (see {side}-{s}.err)")
    else:
        print(f"  seed {s:>4} {side:6}  correct={str(r['correct']).lower():5} "
              f"failed={r['failed']}/{r['attempted']}")


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3
    return q[0], q[2]


names = sorted({k for r in runs.values() if r for k in r["metrics"]},
               key=lambda k: (k not in bounds, k))
print(f"\n{'metric':34} {rev[:10]:>12} {'change':>12} {'ratio':>7} {'bound':>6} "
      f"{'won':>5} {'iqr/med':>8}")
for k in names:
    pairs = [(runs["parent", s]["metrics"].get(k), runs["change", s]["metrics"].get(k))
             for s in seeds if runs["parent", s] and runs["change", s]]
    pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
    if not pairs:
        continue
    par = [p for p, _ in pairs]
    chg = [c for _, c in pairs]
    mp, mc = statistics.median(par), statistics.median(chg)
    ratio = f"{mc / mp:7.3f}" if mp else "      -"
    bound = f"{bounds[k]['bound']:6.2f}" if k in bounds else "     -"
    direction = better.get(k, "lower")
    won = sum((c < p) if direction == "lower" else (c > p) for p, c in pairs)
    lo, hi = quartiles(par)
    spread = f"{(hi - lo) / mp:8.3f}" if mp else "       -"
    print(f"{k:34} {mp:12.4g} {mc:12.4g} {ratio} {bound} {won:>2}/{len(pairs):<2} {spread}")
EOF
