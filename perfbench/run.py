#!/usr/bin/env python3
"""Benchmark entry point: builds the program, runs one workload in one
JVM, checks its outputs against DuckDB, and prints one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload etl-batch --seed 1 --seconds 9 --trace 0

--trace 0 prints the end-to-end metrics; --trace 1 runs with the layer
listeners attached, prints the per-layer metrics, and writes the per-
operation spans to perfbench/out/trace-<workload>-s<seed>.json.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import checks

BENCH = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("etl-batch", "graph-loop", "stream-write")
# A copy of the project's seed-42 synthetic tables at scale factor 0.01
# (TESTDATA.md), kept in the benchmark so that a run reads only its checkout.
DATA = os.path.join(BENCH, "data", "sf0.01")
HEAP = "3g"
CORES = 4
MB = 1e6

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# Per-layer metrics: (name, unit, key in the per-pass counters, scale).
# Each is the median over the timed passes unless it reads the first pass.
LAYER = [
    ("queries.build_s", "s", "queries.build_s", 1),
    ("queries.readout_s", "s", "queries.readout_s", 1),
    ("catalyst.executions", "count", "catalyst.executions", 1),
    ("catalyst.analysis_s", "s", "catalyst.analysis_s", 1),
    ("catalyst.optimization_s", "s", "catalyst.optimization_s", 1),
    ("catalyst.planning_s", "s", "catalyst.planning_s", 1),
    ("codegen.compiles", "count", "codegen.compiles", 1),
    ("codegen.source_kb", "kB", "codegen.source_bytes", 1e-3),
    ("scheduler.jobs", "count", "scheduler.jobs", 1),
    ("scheduler.stages", "count", "scheduler.stages", 1),
    ("scheduler.tasks", "count", "scheduler.tasks", 1),
    ("executor.run_s", "s", "executor.run_s", 1),
    ("executor.cpu_s", "s", "executor.cpu_s", 1),
    ("executor.deser_s", "s", "executor.deser_s", 1),
    ("executor.gc_s", "s", "executor.gc_s", 1),
    ("executor.peak_exec_mb", "MB", "executor.peak_exec_bytes", 1 / MB),
    ("executor.peak_mem_mb", "MB", "peak_unified_bytes", 1 / MB),
    ("shuffle.read_mb", "MB", "shuffle.read_bytes", 1 / MB),
    ("shuffle.spill_mb", "MB", "shuffle.spill_bytes", 1 / MB),
    ("shuffle.fetch_wait_s", "s", "shuffle.fetch_wait_s", 1),
    ("blocks.live_after", "count", "blocks.live_after", 1),
    ("blocks.peak_stored_mb", "MB", "blocks.peak_stored_bytes", 1 / MB),
    ("streaming.batches", "count", "streaming.batches", 1),
    ("streaming.addbatch_s", "s", "streaming.addbatch_s", 1),
    ("streaming.walcommit_s", "s", "streaming.walcommit_s", 1),
    ("streaming.commitoffsets_s", "s", "streaming.commitoffsets_s", 1),
    ("io.written_mb", "MB", "io.written_bytes", 1 / MB),
    ("io.read_mb", "MB", "io.read_bytes", 1 / MB),
    ("etl.run_s", "s", "etl.run_s", 1),
    ("jvm.gc_s", "s", "jvm.gc_s", 1),
    ("jvm.jit_s", "s", "jvm.jit_s", 1),
]
# First-pass readings of the layers that explain first_pass_s.
FIRST = [
    ("codegen.first_compiles", "count", "codegen.compiles", 1),
    ("catalyst.first_executions", "count", "catalyst.executions", 1),
    ("jvm.first_jit_s", "s", "jvm.jit_s", 1),
    ("jvm.first_gc_s", "s", "jvm.gc_s", 1),
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def tree_digest(root, paths):
    """Digest of every file under `paths`, to tell when a build is stale."""
    h = hashlib.sha256()
    for p in paths:
        full = os.path.join(root, p)
        walk = [(full, [], [""])] if os.path.isfile(full) else os.walk(full)
        for d, dirs, files in walk:
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                fp = os.path.join(d, f) if f else d
                h.update(os.path.relpath(fp, root).encode())
                with open(fp, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compiles the program and the harness with sbt, once per source state,
    and returns the runtime classpath."""
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"no {need} here: run from the repository root")
    out = os.path.join(BENCH, ".build")
    stamp_f, cp_f = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    stamp = tree_digest(root, ["build.sbt", "project", "src/main",
                               "perfbench/harness"])
    if os.path.exists(cp_f) and open(stamp_f).read() == stamp:
        return open(cp_f).read()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the program and the harness (sbt)")
    with open(os.path.join(out, "build.log"), "w") as lf:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(BENCH, "harness"), env=env, stdout=subprocess.PIPE,
            stderr=lf, text=True, timeout=840)
        lf.write(r.stdout)
    lines = [l for l in r.stdout.splitlines()
             if l and not l.startswith("[") and "classes" in l]
    if r.returncode != 0 or not lines:
        fail(f"build failed (exit {r.returncode}); see {out}/build.log")
    with open(cp_f, "w") as f:
        f.write(lines[-1])
    with open(stamp_f, "w") as f:
        f.write(stamp)
    return lines[-1]


def run_jvm(cp, workload, seed, seconds, trace, data, work, cores, deadline):
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
            "-XX:+UseCodeCacheFlushing", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={local}", "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "harness", "log4j2.properties"),
            "-cp", cp, "perfbench.Main", workload, str(seed), str(seconds),
            str(trace), data, work, result])
    env = dict(os.environ, SPARK_LOCAL_DIRS=local, TMPDIR=tmp)
    env.pop("SPARK_CONF_DIR", None)
    log_f = os.path.join(work, "jvm.log")
    with open(log_f, "w") as lf:
        launched = time.time_ns()
        p = subprocess.Popen(cmd + [str(launched), str(cores)], stdout=lf,
                             stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0 or not os.path.exists(result):
        with open(log_f, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"the JVM run ended with {rc}", 3)
    with open(result) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(r):
    passes = r["passes"]
    return {
        "setup_s": (r["setup_s"], "s"),
        "first_pass_s": (r["first_pass_s"], "s"),
        "warm_pass_s": (median([p["pass_s"] for p in passes]), "s"),
        "shuffle_mb": (median([p.get("shuffle.write_bytes", 0) for p in passes]) / MB, "MB"),
    }


def per_layer(r):
    passes = r["passes"]
    m = {"session.create_s": (r["session_create_s"], "s"),
         "trace.pass_s": (median([p["pass_s"] for p in passes]), "s")}
    for name, unit, key, scale in LAYER:
        m[name] = (median([p.get(key, 0.0) for p in passes]) * scale, unit)
    trig = [t for p in passes for t in p["triggers_ms"]]
    m["streaming.trigger_ms_p50"] = (median(trig), "ms")
    for name, unit, key, scale in FIRST:
        m[name] = (r["first"].get(key, 0.0) * scale, unit)
    return m


def write_trace(r, workload, seed, lost):
    out = os.path.join(BENCH, "out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"trace-{workload}-s{seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": workload, "seed": seed,
                   "task_ends": r["task_ends"],
                   "declared_tasks": r["declared_tasks"], "lost_tasks": lost,
                   "spans": r["spans"]}, f)
    log(f"trace written to {path}")


def main(argv):
    # A terminated run still stops its JVM and removes its work tree.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=9)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    root = os.getcwd()
    cp = build(root)
    cores = min(CORES, os.cpu_count() or 1)
    work = os.path.join(BENCH, ".run", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        deadline = time.monotonic() + 150
        r = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, DATA, work,
                    cores, deadline)
        problems = checks.check_run(root, DATA, work, r)
        for p in problems:
            log(f"check failed: {p}")
        correct = not problems
        if a.trace:
            lost = r["declared_tasks"] - r["task_ends"]
            write_trace(r, a.workload, a.seed, lost)
            if lost != 0:
                log(f"trace lost {lost} task-end events: layer numbers withheld")
                metrics = {"trace.lost_tasks": (lost, "count")}
                correct = False
            else:
                metrics = per_layer(r)
        else:
            metrics = end_to_end(r)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": correct, "attempted": int(r["attempted"]),
        "failed": int(r["failed"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main(sys.argv[1:])
