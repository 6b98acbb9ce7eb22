#!/usr/bin/env python3
"""Benchmark command: builds the engine with the harness, sizes the host, runs
one workload in one JVM, checks its outputs and prints its metrics.

    python3 perfbench/run.py --workload recrawl|curate --seed N \
        --seconds S --trace 0|1 [--size full|traced|smoke]

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. `--trace 0` reports the
end-to-end metrics, `--trace 1` runs the smaller traced run, reports the
per-layer metrics and writes its spans under `.bench_build/traces/`.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(ROOT, "BENCHMARK.json")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "target", "classpath.txt")
STAMP = os.path.join(BUILD, "build.stamp")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src", "main", "scala")
BUILD_TIMEOUT_S = 840
# the JVM is killed after this long; it stops starting units of work once
# BUDGET_S has passed, so a slow commit still reports what it measured
RUN_TIMEOUT_S = 170
BUDGET_S = 120
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(f"ERROR: {msg}")
    sys.exit(code)


def load_spec():
    """(workloads, end-to-end (name, unit) pairs, per-layer (name, unit) pairs)
    from BENCHMARK.json, the one list of the names the benchmark reports."""
    try:
        with open(SPEC) as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        die(f"cannot read BENCHMARK.json: {e}")

    def pairs(key):
        return [(m["name"], m["unit"]) for m in spec[key]]
    return [w["name"] for w in spec["workloads"]], pairs("end_to_end"), pairs("per_layer")


# ---- host sizing ----

def cpus():
    return len(os.sched_getaffinity(0))


def widths():
    """(wide, narrow): 4N = every CPU, N = a quarter of them (at least one)."""
    wide = cpus()
    return wide, max(1, wide // 4)


def mem_total_gb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1024 * 1024)
    return 4.0


def heap_gb(size):
    """Maximum heap: a quarter of the host's memory, between 1 and 8 GB (smoke
    runs: 1 GB)."""
    if size == "smoke":
        return 1
    return int(min(8, max(1, mem_total_gb() // 4)))


# ---- build ----

def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for src in (ENGINE_SRC, HARNESS_SRC):
        for d, _, fs in sorted(os.walk(src)):
            files += [os.path.join(d, f) for f in sorted(fs) if f.endswith((".scala", ".java"))]
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness with sbt unless the classes of the
    current sources are already built."""
    if not os.path.isdir(ENGINE_SRC) or not os.path.isfile(os.path.join(HERE, "build.sbt")):
        die(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}")
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    sbt = shutil.which("sbt")
    if sbt is None:
        die("sbt not found on PATH")
    env = dict(os.environ)
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    env.setdefault("COURSIER_MODE", "offline")
    log("building engine + harness with sbt")
    t0 = time.time()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's own state, temp files and JVM perf data stay in the checkout too
    cmd = [sbt, "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           "-Dsbt.server.forcestart=false", "-J-XX:-UsePerfData",
           f"-J-Djava.io.tmpdir={tmp}", "compile", "writeClasspath"]
    p = subprocess.Popen(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                         stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        rc = p.wait(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        kill_group(p)
        die("build timed out")
    except BaseException:
        kill_group(p)
        raise
    if rc != 0 or not os.path.isfile(CLASSPATH):
        die(f"build failed (sbt exit {rc})")
    with open(STAMP, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")


def kill_group(p):
    """Kill a child started in its own session, with everything it started."""
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


# ---- run ----

def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.isfile(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    j = shutil.which("java")
    if j is None:
        die("java not found")
    return j


def run_jvm(args, scratch, out, trace_file, wide, narrow):
    """Run the harness JVM; returns its peak resident set in MB."""
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    heap = heap_gb(args.size)
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java_bin()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # the heap is capped, not pinned, so the resident set follows what the
    # run needs; -UsePerfData: no hsperfdata file outside the checkout; a
    # large initial metaspace skips the metadata-threshold full GCs of class
    # loading
    cmd += [f"-Xmx{heap}g", "-XX:+UseParallelGC",
            "-XX:MetaspaceSize=256m", "-XX:-UsePerfData",
            "-XX:-DontCompileHugeMethods", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--size", args.size, "--wide", str(wide), "--narrow", str(narrow),
            *(["--tables", os.path.abspath(args.tables)] if args.tables else []),
            "--budget", str(BUDGET_S),
            "--scratch", os.path.join(scratch, "work"), "--out", out,
            "--trace-file", trace_file]
    env = dict(os.environ)
    env.pop("SPARK_DRIVER_MEM", None)
    env.pop("JAVA_TOOL_OPTIONS", None)
    env["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "work", "spark-local")
    log(f"jvm: width {wide}/{narrow}, heap {heap}g, scratch {os.path.relpath(scratch, ROOT)}")
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                         stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    deadline = time.time() + RUN_TIMEOUT_S
    try:
        while True:
            pid, status, usage = os.wait4(p.pid, os.WNOHANG)
            if pid != 0:
                p.returncode = os.waitstatus_to_exitcode(status)
                break
            if time.time() > deadline:
                die("benchmark JVM timed out", 1)
            time.sleep(0.05)
    except BaseException:
        kill_group(p)
        raise
    if p.returncode != 0:
        die(f"benchmark JVM exited with {p.returncode}", 1)
    return usage.ru_maxrss / 1024.0


# ---- metrics ----

def e2e_metrics(res):
    """End-to-end metrics from the run's warm units (see README)."""
    kind = "query" if res["workload"] == "curate" else "round"
    units = [u for u in res["units"]
             if u["error"] is None and u["kind"] == kind and not u["cold"]]
    if not units:
        return None
    if kind == "query":
        per_q = {}
        for u in units:
            per_q.setdefault(u["where"].split()[1], []).append(u["secs"])
        round_s = sum(stats.median(v) for v in per_q.values())
    else:
        round_s = stats.median([u["secs"] for u in units])
    print(f"samples: {len(units)} warm {kind} timings")
    return {
        "items_per_s": sum(u["items"] for u in units) / sum(u["secs"] for u in units),
        "round_s_p50": round_s,
        "setup_s": res["setup_s"],
        "live_heap_mb": res["live_heap_mb"],
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    workloads, end_to_end, per_layer = load_spec()
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "traced", "smoke"), default=None,
                    help="input sizes (default: full, or traced with --trace 1)")
    ap.add_argument("--tables", default=None,
                    help="curate: read the tables from this directory instead of "
                         "generating them (to compare the generator with real tables)")
    args = ap.parse_args()
    # a terminated launcher takes its build or JVM process group down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.size is None:
        args.size = "traced" if args.trace else "full"

    build()
    wide, narrow = widths()
    # run scratch stays inside the checkout, like everything the run writes
    scratch = os.path.join(BUILD, f"run-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    out = os.path.join(scratch, "result.json")
    trace_file = os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.jsonl")
    try:
        rss_mb = run_jvm(args, scratch, out, trace_file, wide, narrow)
        log(f"peak resident set {rss_mb:.0f} MB")
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    units = res["units"]
    if not units:
        die("no unit of work was attempted", 1)
    failed = [u for u in units if u["error"] is not None]
    for u in failed:
        print(f"FAILED {args.workload} {u['where']}: {u['error']}")
    print(f"error_share {stats.failure_share(len(units), len(failed)):.4f} "
          f"({len(failed)} of {len(units)} units failed)")
    if args.trace:
        expected = per_layer
        values = res["layer"]
        missing = [name for name, _ in per_layer if name not in values]
        unknown = sorted(set(values) - {name for name, _ in per_layer})
        if missing or unknown:
            die(f"harness did not report {missing}, reported unlisted {unknown}", 1)
        print(f"trace: {os.path.relpath(trace_file, ROOT)}  overhead "
              f"{values['trace.overhead_s']:.3f} s over {values['trace.untraced_s']:.3f} s untraced")
    else:
        expected = end_to_end
        values = e2e_metrics(res)
        if values is None:
            die("no unit of work completed", 1)
    metrics = {name: {"value": values[name], "unit": unit} for name, unit in expected}
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": not failed, "attempted": len(units), "failed": len(failed),
                      "metrics": metrics}), flush=True)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
