#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload interactive|pipeline|ingest \
      --seed N --seconds S --trace 0|1

Builds the engine and the client if needed (perfbench/build.py), clears the
run's scratch directory, runs the workload in its own JVM on local[nproc],
grades the outputs (perfbench/check.py) and prints, as the last stdout line,
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. A readable summary, the
host state and any failures go to stderr. Everything the run writes stays
under .bench_build/perfbench in the repository root.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import check  # noqa: E402

WORKLOADS = ["interactive", "pipeline", "ingest"]
DATA = os.path.join(HERE, "data", "sf0.01")
JVM_TIMEOUT_S = 165
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
# per-layer metrics: name -> unit (means per traced query unless noted)
LAYERS = {
    "build.ms": "ms", "build.jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimizer_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.ms": "ms", "sched.jobs": "count", "sched.stages": "count",
    "sched.tasks": "count", "sched.serial_stages": "count",
    "task.run_ms": "ms", "task.cpu_ms": "ms", "task.gc_ms": "ms",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB",
    "shuffle.fetch_wait_ms": "ms", "spill.mb": "MB",
    "scan.input_mb": "MB", "scan.input_rows": "rows",
    "output.mb": "MB", "output.files": "count",
    "self.build_ms": "ms", "self.plan_ms": "ms", "self.execute_ms": "ms",
    "self.job_ms": "ms", "self.stage_ms": "ms",
}


def reset(scratch):
    """Same starting state for every run: an empty scratch tree."""
    shutil.rmtree(scratch, ignore_errors=True)
    for d in ("io", "out", "tmp", "local", "warehouse"):
        os.makedirs(os.path.join(scratch, d))


def run_jvm(args, classpath, scratch, record_path):
    # fixed, pre-touched heap: peak RSS then reads heap size plus the
    # native peak instead of wherever G1's adaptive sizing ended up
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={scratch}/tmp",
           f"-Dspark.local.dir={scratch}/local",
           f"-Dspark.sql.warehouse.dir={scratch}/warehouse"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", DATA, "--scratch", scratch, "--out", record_path]
    log_path = os.path.join(scratch, "jvm.log")
    if os.path.exists(record_path):
        os.remove(record_path)
    started = time.monotonic()
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                  timeout=JVM_TIMEOUT_S, cwd=scratch)
            code = proc.returncode
        except subprocess.TimeoutExpired:  # run() has killed and reaped it
            code = "timeout"
    if code != 0 or not os.path.exists(record_path):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.exit(f"perfbench: JVM failed ({code}); log in {log_path}")
    with open(record_path) as f:
        rec = json.load(f)
    rec["jvm_wall_s"] = time.monotonic() - started
    return rec


def quantile(xs, q, steps=200):
    """Harrell-Davis estimate of quantile q: the mean of all order
    statistics weighted by a Beta(q(n+1), (1-q)(n+1)) density (midpoint
    rule). With the 8-19 samples of a run, the plain median jumps between
    two neighbouring queries; this estimate moves smoothly."""
    xs = sorted(xs)
    n = len(xs)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    grid = [(i + 0.5) / (steps * n) for i in range(steps * n)]
    w = [x ** (a - 1) * (1 - x) ** (b - 1) for x in grid]
    return sum(xs[i // steps] * wi for i, wi in enumerate(w)) / sum(w)


def end_to_end(rec, ok):
    return {
        "setup_s": (rec["setup_s"], "s"),
        "qps": (len(ok) / rec["timed_s"], "queries/s"),
        "latency_p50_s": (quantile([s["s"] for s in ok], 0.5), "s"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
    }


def per_layer(rec, ok):
    layers = [q for q in rec["layers"] if q["id"] in {s["id"] for s in ok}]
    n = len(layers)
    if not n:
        sys.exit("perfbench: no traced query completed correctly")
    out = {k: (sum(q[k] for q in layers) / n, u) for k, u in LAYERS.items()}
    cores = rec["host"]["nproc"]
    wall = sum(q["query.ms"] for q in layers)
    out["cpu.util"] = (sum(q["task.run_ms"] for q in layers) / (wall * cores), "fraction")
    out["storage.block_mb_peak"] = (max(q["storage.block_mb_peak"] for q in layers), "MB")
    out["jvm.heap_after_gc_peak_mb"] = (rec["heap_after_gc_peak_mb"], "MB")
    src = rec["sources"]
    out["sources.ipc_write_ms"] = (src["ipc_write_ms"], "ms")
    out["sources.ipc_read_ms"] = (src["ipc_read_ms"], "ms")
    out["sources.ipc_bytes_per_input_byte"] = (src["ipc_bytes_per_input_byte"], "ratio")
    totals = {True: [], False: []}
    for p in rec["passes"]:
        totals[p["traced"]].append(p["total_s"])
    out["trace.overhead"] = (
        statistics.mean(totals[True]) / statistics.mean(totals[False]) - 1, "fraction")
    return out, layers


def summarize(rec, ok, failures, metrics, layers):
    w = rec["workload"]
    err = sys.stderr
    h = rec["host"]
    print(f"[perfbench] {w} seed={rec['seed']} nproc={h['nproc']} xmx_mb={h['xmx_mb']} "
          f"loadavg start=[{h['loadavg_start']}] end=[{h['loadavg_end']}] "
          f"cpu steal in timed region {h['steal_frac']:.3f}", file=err)
    print(f"[perfbench] {w} JVM wall {rec['jvm_wall_s']:.3f} s, grading {rec['grade_s']:.3f} s", file=err)
    print(f"[perfbench] {w} session {rec['session_s']:.3f} s, check/warm-up pass "
          f"{sum(c['s'] for c in rec['checks']):.3f} s; timed passes: "
          + " ".join(f"{p['total_s']:.3f}{'t' if p['traced'] else ''}" for p in rec["passes"]),
          file=err)
    by_name = {}
    for s in ok:
        by_name.setdefault(s["name"], []).append(s["s"])
    for name in sorted(by_name):
        xs = by_name[name]
        print(f"[perfbench] {w}   {name:<26} n={len(xs):<3} median {statistics.median(xs):.3f} s "
              f"[{min(xs):.3f}..{max(xs):.3f}]", file=err)
    if layers:
        print(f"[perfbench] {w} layer sums over {len(layers)} traced queries: "
              + ", ".join(f"{k}={sum(q[k] for q in layers):.6g}" for k in LAYERS), file=err)
        for q in sorted({q["name"] for q in layers}):
            qs = [x for x in layers if x["name"] == q]
            def mean(k):
                return sum(x[k] for x in qs) / len(qs)
            print(f"[perfbench] {w}   layers {q:<26} build {mean('build.ms'):7.1f} ms "
                  f"plan {mean('self.plan_ms'):6.1f} ms jobs {mean('sched.jobs'):5.1f} "
                  f"stages {mean('sched.stages'):5.1f} tasks {mean('sched.tasks'):6.1f} "
                  f"task_cpu {mean('task.cpu_ms'):7.1f} ms", file=err)
    attempted, failed = len(rec["samples"]), sum(failures.values())
    print(f"[perfbench] {w} failed_frac = {failed / attempted:.4f} ({failed} of {attempted})",
          file=err)
    for n, c in sorted(failures.items()):
        print(f"[perfbench] {w}   FAILED {n} x{c}", file=err)
    for k, (v, u) in metrics.items():
        print(f"[perfbench] {w} {k} = {v:.6g} {u}", file=err)
    # too few samples lie above p90 in one run for a harness bound on it
    tail = quantile([s["s"] for s in ok], 0.9)
    print(f"[perfbench] {w} latency_p90_s = {tail:.6g} s (n={len(ok)}, "
          f"{sum(s['s'] > tail for s in ok)} above; not a harness metric)", file=err)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    classpath = build.build()
    scratch = os.path.join(build.BUILD, "run")
    reset(scratch)
    record_path = os.path.join(build.BUILD, f"{args.workload}-{args.seed}-t{args.trace}.json")
    rec = run_jvm(args, classpath, scratch, record_path)

    started = time.monotonic()
    verdict = check.grade(rec["checks"], DATA, os.path.join(scratch, "out"),
                          os.path.join(build.BUILD, "oracle"))
    rec["grade_s"] = time.monotonic() - started
    bad = {n: why for n, why in verdict.items() if why}
    for n, why in sorted(bad.items()):
        print(f"[perfbench] {args.workload} output check FAILED {n}: {why}", file=sys.stderr)
    failures = {}
    for s in rec["samples"]:
        if "error" in s or s["name"] in bad:
            failures[s["name"]] = failures.get(s["name"], 0) + 1
            if "error" in s:
                print(f"[perfbench] {args.workload} {s['id']} threw: {s['error']}", file=sys.stderr)
    ok = [s for s in rec["samples"] if "error" not in s and s["name"] not in bad]
    if not ok:
        sys.exit("perfbench: no query completed correctly")

    layers = None
    if args.trace:
        metrics, layers = per_layer(rec, ok)
    else:
        metrics = end_to_end(rec, ok)
    summarize(rec, ok, failures, metrics, layers)
    result = {
        "correct": not bad and not failures,
        "attempted": len(rec["samples"]),
        "failed": sum(failures.values()),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
