#!/usr/bin/env python3
"""Benchmark of the ad-report pipeline.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload etl_many_files --seed 1 --seconds 30 --trace 0

Builds the program and the harness from source with sbt (once per source
state, into .bench_build/), runs one workload in a single JVM and prints the
result as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. Host state, sample counts, spans and the
dominant layer go to .bench_build/results/<workload>-s<seed>-t<trace>.json.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "build.stamp")
RUN_TIMEOUT_S = 170

# JDK 17 module opens Spark needs outside spark-submit (the program's build
# passes the same list to its forked JVMs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_child(cmd, cwd, timeout, what, env=None, stderr=None):
    """Runs `cmd` to completion and returns its standard output. The child is
    killed and reaped if it overruns `timeout` or this process is stopped."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=stderr, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"{what} exceeded {timeout} s")
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    if p.returncode != 0 or not out.strip():
        sys.stderr.write(out[-4000:])
        fail(f"{what} failed (exit {p.returncode})")
    return [l for l in out.splitlines() if l.strip()]


def source_files():
    """Every file the build reads: the program's and the harness's build
    definitions and main sources."""
    out = []
    for base in (ROOT, HERE):
        out.append(os.path.join(base, "build.sbt"))
        proj = os.path.join(base, "project")
        if os.path.isdir(proj):
            out += [os.path.join(proj, f) for f in sorted(os.listdir(proj))]
        for d, dirs, files in os.walk(os.path.join(base, "src", "main")):
            dirs.sort()
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile once per source state; the classpath is kept for later runs."""
    want = stamp()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           "export perfbench/Runtime/fullClasspath"]
    t0 = time.time()
    lines = run_child(cmd, HERE, 850, "build", stderr=subprocess.STDOUT)
    if lines[-1].startswith("["):
        fail("build printed no classpath")
    with open(CLASSPATH, "w") as fh:
        fh.write(lines[-1].strip())
    with open(STAMP, "w") as fh:
        fh.write(want)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are not in this checkout")
    build()
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()

    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    out = os.path.join(BUILD, "results", tag + ".json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # a fixed heap and the throughput collector: with G1 the same run on the
    # same host spread about twice as wide from one JVM to the next
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Dfile.encoding=UTF-8",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Dspark.local.dir={os.path.join(BUILD, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'spark-warehouse')}"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", os.path.join(BUILD, "work", a.workload), "--out", out]
    env = dict(os.environ, LC_ALL="C.UTF-8", LANG="C.UTF-8")
    lines = run_child(cmd, BUILD, RUN_TIMEOUT_S, "run", env)
    result = json.loads(lines[-1])
    want = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    if sorted(result["metrics"]) != sorted(want):
        fail(f"metrics {sorted(result['metrics'])} differ from BENCHMARK.json {sorted(want)}")
    with open(out) as fh:
        detail = json.load(fh)["detail"]
    summary = {k: detail[k] for k in ("run_samples", "nproc", "load1", "steal_pct", "host_drift",
                                      "failed_frac", "dominant_layer", "traced_samples")
               if k in detail}
    print(f"perfbench: {tag} {json.dumps(summary)} detail in {os.path.relpath(out, ROOT)}")
    for f in detail.get("failures", []):
        print(f"perfbench: FAILED {f}")
    print(lines[-1])


if __name__ == "__main__":
    # SIGTERM unwinds through run_child, which then stops its child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()
