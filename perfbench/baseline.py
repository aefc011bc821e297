#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarize each metric.

    python3 perfbench/baseline.py <workload> <seeds, e.g. 1-10> <seconds> <trace 0|1> [out.json]

Prints one line per run, then each metric's median, quartiles and spread
(the distance between the quartiles as a share of the median, as
statistics.quantiles(values, n=4) gives them). With an output path, also
writes the runs, their run records and the summary as JSON.
"""
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    workload, spec, seconds, trace = sys.argv[1:5]
    out_path = sys.argv[5] if len(sys.argv) > 5 else None
    runs = []
    for seed in seeds(spec):
        p = subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
             "--workload", workload, "--seed", str(seed), "--seconds", seconds,
             "--trace", trace], capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            sys.stderr.write(p.stderr[-3000:])
            sys.exit(f"seed {seed}: exit {p.returncode}")
        result, record = json.loads(lines[-1]), json.loads(lines[-2])
        runs.append({"seed": seed, "result": result, "record": record})
        print(seed, result["correct"], result["attempted"], result["failed"],
              {k: round(v["value"], 4) for k, v in result["metrics"].items()}, flush=True)
    summary = {}
    for name in runs[0]["result"]["metrics"]:
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        summary[name] = {"unit": runs[0]["result"]["metrics"][name]["unit"],
                         "median": med, "q1": q1, "q3": q3,
                         "spread": (q3 - q1) / med if med else None}
        print(f"{name}: median {med:.4g} q1 {q1:.4g} q3 {q3:.4g} "
              f"spread {summary[name]['spread']}")
    if out_path:
        with open(out_path, "w") as f:
            json.dump({"workload": workload, "seconds": float(seconds),
                       "trace": int(trace), "summary": summary, "runs": runs},
                      f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
