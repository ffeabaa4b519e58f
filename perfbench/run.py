#!/usr/bin/env python3
"""Benchmark of the graft query catalogue.

Run from the repository root:

  python3 perfbench/run.py --workload cold --seed 1 --seconds 20 --trace 0

builds the library and the harness from source (perfbench/build.py),
runs one JVM on local[N] with N = the CPUs this process may use, and
prints as its last line one JSON object
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The line before it is the run's environment stamp and the
details behind the metrics. perfbench/README.md defines every metric.
A run always times PASSES passes; --seconds is recorded in the stamp
but does not change the measured work.

Other modes:
  --check-all            fingerprint every query of SparkEntry.queries
                         against perfbench/expected.tsv, untimed
  --record               rewrite perfbench/expected.tsv (all queries)
  --cores N              run on local[N] instead of the CPUs available
  --inject-throw Q, --inject-wrong Q, --inject-wrong-on-reuse Q
                         self-test hooks, see perfbench/selftest.py
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

DATA = "perfbench/data/sf0.01"
EXPECTED = "perfbench/expected.tsv"
WORKLOADS = "perfbench/workloads.json"
RESULTS = os.path.join(build.BUILD_DIR, "results")
JVM_HEAP = "2g"
# a workload run must end within 180 s; leave room for start-up and
# reporting. --check-all and --record run every query, untimed.
JVM_TIMEOUT_S = 165
ALL_QUERIES_TIMEOUT_S = 1200
# The JIT compiles with C1 only. With the optimizing compiler (C2) the
# JIT did not settle within a run: it still compiled 4-5 s per 5-s pass
# after three minutes, so timed passes fell ~30% from first to last and
# measured the compiler's progress. C1 compiles the same ~29,000 methods
# in the check pass. Its code cache is sized as for tiered compilation;
# the 48 MB C1-only default fills and flushes, and the mass recompile
# that follows lands inside a timed pass.
JIT_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"]
# every run times the same number of passes, so both sides of a
# comparison measure the same work
PASSES = 4

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END = {
    "pass_s": "s", "query_p50_s": "s", "query_tail_s": "s", "cpu_s": "s",
    "peak_rss_mb": "MB", "heap_live_mb": "MB", "setup_s": "s", "ok_ratio": "ratio",
}
PER_LAYER_UNITS = {
    "queries.construct_s": "s", "queries.construct_jobs": "count",
    "temptables.build_s": "s", "temptables.builds": "count",
    "temptables.write_mb": "MB", "temptables.first_read_s": "s",
    "plan.s": "s", "plan.exchanges": "count", "plan.codegen_fallbacks": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.tasks_per_stage": "ratio", "sched.job_busy_s": "s",
    "sched.driver_gap_s": "s", "exec.s": "s",
    "task.run_s": "s", "task.cpu_s": "s", "task.gc_s": "s", "task.core_util": "ratio",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "spill.mb": "MB", "scan.input_mb": "MB", "scan.input_rows": "count",
    "jvm.jit_s": "s", "jvm.gc_s": "s", "jvm.non_task_cpu_s": "s",
    "jvm.live_threads": "count", "trace.pass_s": "s", "trace.layer_sum_ratio": "ratio",
    "sched.jobs_range": "count", "sched.stages_range": "count",
    "sched.tasks_range": "count",
}


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def loadavg():
    try:
        return [float(x) for x in open("/proc/loadavg").read().split()[:3]]
    except OSError:
        return None


def git_head():
    """HEAD of the checkout being measured; None outside a git checkout."""
    if not os.path.exists(".git"):
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return None


def run_jvm(classes, jvm_args, tmp, timeout=JVM_TIMEOUT_S):
    """Runs graftbench.Main; returns its wall start time (epoch s)."""
    spark_jars = os.path.join(build.spark_jars(), "*")
    # a fixed heap, so the peak resident size does not follow the
    # collector's heap-growth decisions; heap_live_mb answers for the heap
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}"] + JIT_FLAGS
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-Dlog4j2.configurationFile=perfbench/log4j2.properties",
              f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.local.dir={tmp}/spark",
              f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
              "-cp", f"{classes}{os.pathsep}{spark_jars}",
              "graftbench.Main"] + jvm_args)
    launched = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    try:
        _, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        fail(f"the JVM did not finish within {timeout} s")
    if proc.returncode != 0:
        sys.stderr.write(err[-4000:])
        fail(f"the JVM exited with code {proc.returncode}")
    return launched


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, p):
    """The Harrell-Davis estimate of the p-quantile: a weighted mean of
    all order statistics, weights from the Beta(p(n+1), (1-p)(n+1))
    distribution. Unlike a single order statistic it does not jump
    when two samples near the quantile swap places."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0
    a, b = p * (n + 1), (1 - p) * (n + 1)
    ln_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)

    def pdf(x):
        if x <= 0.0 or x >= 1.0:
            return 0.0
        return math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x) - ln_beta)

    # the Beta mass of each interval [i/n, (i+1)/n], by Simpson's rule
    steps = 64
    weights = []
    for i in range(n):
        h = 1.0 / (n * steps)
        ys = [pdf(i / n + j * h) for j in range(steps + 1)]
        weights.append(h / 3 * (ys[0] + ys[-1] + 4 * sum(ys[1:-1:2]) + 2 * sum(ys[2:-1:2])))
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def tail(latencies):
    """The latency at the highest percentile that has at least ten
    samples beyond it, p = 1 - 10/n. Returns (value, percentile,
    sample count)."""
    n = len(latencies)
    p = max(0.5, 1.0 - 10.0 / n) if n else 0.5
    return quantile(latencies, p), round(100.0 * p, 1), n


def summarise(raw, launched, traced):
    checks = raw["checks"]
    passes = raw["passes"]
    samples = [s for p in passes for s in p["samples"]]
    attempted = len(checks) + len(samples)
    failed = sum(not c["ok"] for c in checks) + sum(not s["ok"] for s in samples)
    ok_lat = [s["latency_s"] for s in samples if s["ok"]]
    tail_v, tail_pct, n = tail(ok_lat)
    details = {
        "passes": len(passes),
        "pass_wall_s": [p["wall_s"] for p in passes],
        "heap_live_mb": [p["heap_live_mb"] for p in passes],
        "latency_samples": n,
        "latency_s": {q: [s["latency_s"] for s in samples if s["ok"] and s["query"] == q]
                      for q in sorted({s["query"] for s in samples})},
        "query_tail_percentile": tail_pct,
        "check_s": {f"{c['when']}/{c['query']}": c["seconds"] for c in checks},
        "failed_checks": [c for c in checks if not c["ok"]],
        "failed_executions": [{"pass": p["pass"], "query": s["query"], "error": s["error"]}
                              for p in passes for s in p["samples"] if not s["ok"]],
        "setup_breakdown_s": {
            "jvm_and_session": raw["session_ready_ms"] / 1e3 - launched,
            "check_pass": (raw["first_pass_start_ms"] - raw["session_ready_ms"]) / 1e3,
        },
    }
    if traced:
        metrics = {}
        layer_rows = [p["layers"] for p in passes]
        for name, unit in PER_LAYER_UNITS.items():
            if name.endswith("_range"):
                key = name[: -len("_range")]
                vals = [r[key] for r in layer_rows]
                v = (max(vals) - min(vals)) if vals else 0
            else:
                v = median([r[name] for r in layer_rows])
            metrics[name] = {"value": v, "unit": unit}
        details["sched_counts_per_pass"] = {
            k: [r[k] for r in layer_rows] for k in ("sched.jobs", "sched.stages", "sched.tasks")}
        details["layer_sum_ratio_per_pass"] = [r["trace.layer_sum_ratio"] for r in layer_rows]
    else:
        values = {
            "pass_s": median([p["wall_s"] for p in passes]),
            "query_p50_s": quantile(ok_lat, 0.5),
            "query_tail_s": tail_v,
            "cpu_s": median([p["cpu_s"] for p in passes]),
            "peak_rss_mb": raw["peak_rss_kb"] / 1024.0,
            "heap_live_mb": median([p["heap_live_mb"] for p in passes]),
            "setup_s": raw["first_pass_start_ms"] / 1e3 - launched,
            "ok_ratio": 1.0 - failed / attempted if attempted else 0.0,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    return attempted, failed, metrics, details


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--check-all", action="store_true")
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--cores", type=int)
    ap.add_argument("--inject-throw")
    ap.add_argument("--inject-wrong")
    ap.add_argument("--inject-wrong-on-reuse")
    a = ap.parse_args()

    if not (os.path.isdir("perfbench") and os.path.isfile(WORKLOADS)):
        fail("run from the repository root")
    load_start = loadavg()
    try:
        classes, src_digest = build.build()
    except SystemExit as e:
        fail(str(e))
    workloads = json.load(open(WORKLOADS))
    cores = a.cores or nproc()

    if a.record or a.check_all:
        ids, name, fresh, passes = ["ALL"], "all", False, 0
    else:
        if a.workload not in workloads:
            fail(f"unknown workload {a.workload!r}; known: {', '.join(workloads)}")
        w = workloads[a.workload]
        groups = [g if isinstance(g, list) else [g] for g in w["queries"]]
        ids = ["+".join(g) for g in groups]
        name, fresh, passes = a.workload, w["fresh_session_per_pass"], PASSES

    os.makedirs(RESULTS, exist_ok=True)
    tmp = os.path.abspath(os.path.join(build.BUILD_DIR, "tmp", str(os.getpid())))
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(tmp, "result.json")
    try:
        if a.record:
            jvm_args = ["--data", DATA, "--cores", str(cores), "--queries", ",".join(ids),
                        "--record", EXPECTED]
            run_jvm(classes, jvm_args, tmp, ALL_QUERIES_TIMEOUT_S)
            print(f"recorded {EXPECTED}")
            return
        jvm_args = ["--data", DATA, "--cores", str(cores), "--queries", ",".join(ids),
                    "--fresh-session", str(fresh).lower(), "--seed", str(a.seed),
                    "--passes", str(passes), "--trace", str(a.trace),
                    "--expected", EXPECTED, "--out", out]
        trace_file = None
        if a.trace:
            trace_file = os.path.abspath(os.path.join(RESULTS, f"{name}-seed{a.seed}-spans.json"))
            jvm_args += ["--trace-out", trace_file]
        for flag in ("inject_throw", "inject_wrong", "inject_wrong_on_reuse"):
            if getattr(a, flag):
                jvm_args += ["--" + flag.replace("_", "-"), getattr(a, flag)]
        launched = run_jvm(classes, jvm_args, tmp,
                           ALL_QUERIES_TIMEOUT_S if a.check_all else JVM_TIMEOUT_S)
        raw = json.load(open(out))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    if a.check_all:
        bad = [c for c in raw["checks"] if not c["ok"]]
        for c in bad:
            print(f"FAIL {c['query']}: {c['reason']}")
        print(f"{len(raw['checks']) - len(bad)}/{len(raw['checks'])} outputs match {EXPECTED}"
              f" on local[{cores}]")
        sys.exit(len(bad))

    attempted, failed, metrics, details = summarise(raw, launched, bool(a.trace))
    stamp = {
        "workload": name, "seed": a.seed, "seconds": a.seconds, "traced": bool(a.trace),
        "nproc": nproc(), "cores": cores, "loadavg_start": load_start, "loadavg_end": loadavg(),
        "git_head": git_head(), "source_digest": src_digest,
        "xmx": JVM_HEAP, "xmx_mb_seen": raw["xmx_mb"], "spark_version": raw["spark_version"],
        "scale": os.path.basename(DATA), "queries": len({c["query"] for c in raw["checks"]}),
    }
    if a.trace:
        stamp["spans"] = os.path.relpath(trace_file)
        ratios = details["layer_sum_ratio_per_pass"]
        if any(abs(r - 1.0) > 0.05 for r in ratios):
            sys.stderr.write(f"perfbench: layer sum off pass wall by >5%: {ratios}\n")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    record = {"stamp": stamp, "details": details, "result": result}
    with open(os.path.join(RESULTS, f"{name}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({"stamp": stamp, "details": details}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
