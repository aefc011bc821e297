#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 25 --trace 0

It builds the engine and the benchmark from source into .bench_build/
(skipped when the sources are unchanged), generates the fixture tables
once, runs one JVM for the workload, checks the program's outputs, and
prints as its last stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
The line before it is a JSON record of the run: host load and CPU steal
at start and end, the setup split, the tail percentile used, and the
workload-specific figures. A failed output check exits with code 1.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
SCALE = 0.01
WORKLOADS = ("etl_daily", "curation")
JVM_TIMEOUT_S = 150
HEAP = "3g"

sys.path.insert(0, HERE)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if os.path.isdir(jars):
            return jars
    except ImportError:
        pass
    fail("no Spark jars found (set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java found")
    return exe


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(jars):
    """Compile src/main and the benchmark's Scala into one class dir."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        fail(f"no engine sources under {main_src}")
    sources = (glob.glob(os.path.join(main_src, "**", "*.scala"), recursive=True)
               + glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    resources = os.path.join(ROOT, "src", "main", "resources")
    res_files = [p for p in glob.glob(os.path.join(resources, "**"), recursive=True)
                 if os.path.isfile(p)]
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.stamp")
    want = digest(sources + res_files)
    if os.path.exists(stamp) and open(stamp).read() == want:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    r = subprocess.run(
        [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-classpath", classes, "-nowarn",
         "-d", classes] + sources,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compile failed")
    if os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    with open(stamp, "w") as f:
        f.write(want)
    return classes


def fixtures():
    import gen_data
    data = os.path.join(BUILD, "data", f"sf{SCALE}")
    stamp = os.path.join(data, ".stamp")
    want = digest([os.path.join(HERE, "gen_data.py")]) + str(SCALE)
    if not (os.path.exists(stamp) and open(stamp).read() == want):
        shutil.rmtree(data, ignore_errors=True)
        gen_data.generate(data, SCALE)
        with open(stamp, "w") as f:
            f.write(want)
    return data


def host_sample():
    """Load averages and cumulative CPU steal (jiffies) from /proc."""
    try:
        load = open("/proc/loadavg").read().split()[:3]
        cpu = open("/proc/stat").readline().split()
        return {"loadavg": [float(x) for x in load], "steal_jiffies": int(cpu[8]),
                "total_jiffies": sum(int(x) for x in cpu[1:])}
    except (OSError, IndexError, ValueError):
        return {}


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


JVM_OPTS = [
    "--add-opens", "java.base/java.lang=ALL-UNNAMED",
    "--add-opens", "java.base/java.lang.invoke=ALL-UNNAMED",
    "--add-opens", "java.base/java.lang.reflect=ALL-UNNAMED",
    "--add-opens", "java.base/java.io=ALL-UNNAMED",
    "--add-opens", "java.base/java.net=ALL-UNNAMED",
    "--add-opens", "java.base/java.nio=ALL-UNNAMED",
    "--add-opens", "java.base/java.util=ALL-UNNAMED",
    "--add-opens", "java.base/java.util.concurrent=ALL-UNNAMED",
    "--add-opens", "java.base/java.util.concurrent.atomic=ALL-UNNAMED",
    "--add-opens", "java.base/sun.nio.ch=ALL-UNNAMED",
    "--add-opens", "java.base/sun.nio.cs=ALL-UNNAMED",
    "--add-opens", "java.base/sun.security.action=ALL-UNNAMED",
    "--add-opens", "java.base/sun.util.calendar=ALL-UNNAMED",
]


def run_jvm(classes, jars, data, work, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java(), f"-Xmx{HEAP}", "-XX:-UsePerfData", *JVM_OPTS,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
           "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
           "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--work", work, "--cores", str(cores())]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("workload JVM timed out")
    if rc != 0 or not os.path.exists(os.path.join(work, "raw.json")):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"workload JVM exited with {rc}")
    with open(os.path.join(work, "raw.json")) as f:
        return json.load(f)


def percentile(xs, p):
    """Linear-interpolated percentile of a non-empty list."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


TAIL_PCT = 75.0


def tail(xs):
    """The op time at TAIL_PCT and the number of samples beyond it."""
    t = percentile(xs, TAIL_PCT)
    return t, sum(x > t for x in xs)


def m(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(raw, ops):
    walls = [o["wall_s"] for o in ops]
    t, beyond = tail(walls)
    metrics = {
        "setup_s": m(raw["setup"]["setup_s"], "s"),
        "op_p50_s": m(statistics.median(walls), "s"),
        "op_tail_s": m(t, "s"),
        "ops_per_s": m(len(ops) / raw["setup"]["measure_s"], "1/s"),
    }
    return metrics, {"op_tail_percentile": TAIL_PCT, "op_tail_samples_beyond": beyond}


# (metric, raw layer key, unit): each is reported in total over the traced
# ops and per traced op (suffix .per_op)
LAYER_METRICS = [
    ("sources.extract_s", "sources.s", "s"),
    ("sources.extract_jobs", "sources.jobs", "count"),
    ("sources.orders_fetched", "sources.orders_fetched", "count"),
    ("etl.transform_s", "etl.s", "s"),
    ("etl.transform_jobs", "etl.jobs", "count"),
    ("store.upsert_s", "store.s", "s"),
    ("store.upsert_jobs", "store.jobs", "count"),
    ("store.bytes_written", "store.output_bytes", "bytes"),
    ("reenrich.s", "reenrich.s", "s"),
    ("reenrich.jobs", "reenrich.jobs", "count"),
    ("queries.construct_s", "queries.construct.s", "s"),
    ("queries.eager_jobs", "queries.construct.jobs", "count"),
    ("plans.plan_s", "plans.plan_s", "s"),
    ("queries.exec_s", "queries.exec.s", "s"),
    ("queries.exec_jobs", "queries.exec.jobs", "count"),
    ("artifact.entries_built", "artifact.entries_built", "count"),
    ("spark.jobs", "spark.jobs", "count"),
    ("spark.job_busy_s", "spark.job_busy_s", "s"),
    ("spark.driver_gap_s", "spark.driver_gap_s", "s"),
    ("spark.task_s", "spark.task_s", "s"),
    ("spark.shuffle_read_bytes", "spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "spark.spill_bytes", "bytes"),
    ("jvm.gc_s", "jvm.gc_s", "s"),
]


def per_layer(raw, ops):
    traced = [o for o in ops if o["traced"]]
    plain = [o for o in ops if not o["traced"]]
    n = max(1, len(traced))
    # overhead compares like with like: curation's untraced reference ops
    # are warm executions, so they are set against the traced warm ones
    ref = [o for o in plain if o["kind"] == "warm_ref"]
    like = [o for o in traced if o["kind"] == "warm"] if ref else traced
    metrics = {}
    for name, key, unit in LAYER_METRICS:
        total = sum(o["layers"].get(key, 0.0) for o in traced)
        metrics[name] = m(total, unit)
        metrics[name + ".per_op"] = m(total / n, unit)
    # leaked jobs are counted after every op, traced or not
    leaked = sum(o["leaked"] for o in ops)
    metrics["spark.jobs_leaked"] = m(leaked, "count")
    metrics["spark.jobs_leaked.per_op"] = m(leaked / max(1, len(ops)), "count")
    files = [o["layers"].get("store.live_files", 0.0) for o in traced]
    metrics["store.live_files"] = m(files[-1] if files else 0.0, "count")
    metrics["store.live_files.per_op"] = m(sum(files) / n, "count")
    orders = sum(o["units"] for o in traced if o["kind"] in ("new", "rerun"))
    bpo = metrics["store.bytes_written"]["value"] / orders if orders else 0.0
    metrics["store.bytes_per_order"] = m(bpo, "bytes")
    metrics["store.bytes_per_order.per_op"] = m(bpo, "bytes")
    t50 = statistics.median([o["wall_s"] for o in like]) if like else 0.0
    p50 = statistics.median([o["wall_s"] for o in plain]) if plain else 0.0
    metrics["trace.traced_op_p50_s"] = m(t50, "s")
    metrics["trace.untraced_op_p50_s"] = m(p50, "s")
    metrics["trace.overhead_s"] = m(t50 - p50, "s")
    return metrics


def workload_figures(ops, peak_rss_kb):
    """Figures that apply to one workload only: reported in the run record."""
    out = {"error_rate": sum(not o["ok"] for o in ops) / max(1, len(ops)),
           "jobs_leaked": sum(o["leaked"] for o in ops),
           "peak_rss_mb": peak_rss_kb / 1024.0}
    etl = [o for o in ops if o["kind"] in ("new", "rerun")]
    if etl:
        out["orders_per_s"] = sum(o["units"] for o in etl) / sum(o["wall_s"] for o in etl)
        out["orders_loaded"] = sum(o["units"] for o in etl)
    cold = [o["wall_s"] for o in ops if o["kind"] == "cold"]
    warm = [o["wall_s"] for o in ops if o["kind"] in ("warm", "warm_ref") and not o["traced"]]
    if cold:
        out["cold_op_p50_s"] = statistics.median(cold)
    if warm:
        out["warm_op_p50_s"] = statistics.median(warm)
    return out


def serve_pairs(ops):
    """A curation op serves one row cold, then warm: one record per pair."""
    pairs = []
    for cold, warm in zip(ops[::2], ops[1::2]):
        assert (cold["kind"], warm["kind"], cold["name"]) == ("cold", "warm", warm["name"])
        pairs.append({"kind": "pair", "name": cold["name"], "ok": cold["ok"] and warm["ok"],
                      "wall_s": cold["wall_s"] + warm["wall_s"]})
    return pairs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    data = fixtures()
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    host_start = host_sample()
    raw = run_jvm(classes, jars, data, work, args)
    host_end = host_sample()

    import check
    if args.workload == "etl_daily":
        problems, checked = check.check_warehouse(data, work)
    else:
        problems, checked = check.check_queries(data, work)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)

    ops = raw["ops"]
    for o in ops:
        if not o["ok"]:
            print(f"perfbench: op {o['kind']} {o['name']} failed: {o['error']}",
                  file=sys.stderr)
    measured = [o for o in ops if o["kind"] != "warm_ref"]
    if args.workload == "curation":
        measured = serve_pairs(measured)
    failed = sum(not o["ok"] for o in measured)
    if args.trace:
        metrics, detail = per_layer(raw, ops), {}
    else:
        metrics, detail = end_to_end(raw, measured)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "host_start": host_start, "host_end": host_end,
              "setup": raw["setup"], "checked_outputs": checked,
              "check_problems": len(problems), "ops": len(measured), **detail,
              **workload_figures(ops, raw["peak_rss_kb"]), **raw["extra"]}
    print(json.dumps(record, sort_keys=True))
    print(json.dumps({"correct": not problems, "attempted": len(measured),
                      "failed": failed, "metrics": metrics}))
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
