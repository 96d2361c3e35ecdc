#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload customs_stream --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark with sbt on first use (or when a source
file changed), then runs one JVM: set-up, a timed window of --seconds, the
output checks, and the result object
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics of a traced
window (--trace 1). Everything it writes stays under .bench_build/ in the
checkout. Workloads and metrics are described in perfbench/LAYERS.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("customs_stream", "registry_sweep")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
HEAP = "3g"

# What spark-submit would add on JDK 17 (Spark's JavaModuleOptions), as in
# the engine's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, as paths relative to the checkout root."""
    found = []
    for top in ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src/main"):
        path = os.path.join(ROOT, top)
        if os.path.isfile(path):
            found.append(top)
        for d, dirs, files in os.walk(path):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            found += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    return sorted(found)


def fingerprint():
    h = hashlib.sha256()
    for rel in sources():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath(fp):
    """The runtime classpath, building first when the sources (`fp`) changed."""
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    with open(log, "w") as out:
        try:
            rc = subprocess.run(cmd, cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_LIMIT_S} s (log: {log})", 3)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = [l for l in lines if not l.startswith("[") and "scala-2.13/classes" in l]
    if rc != 0 or not cp:
        fail(f"build failed (rc={rc}, log: {log})", 3)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp[-1]}, f)
    return cp[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} holds no engine sources (build.sbt, src/main/scala/graft)")

    started = time.monotonic()
    fp = fingerprint()
    cp = classpath(fp)
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # a fixed heap: a growing one makes the first minute of ops slower
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work, "--out", out]
    log = os.path.join(work, "jvm.log")
    # the build may have used the first run's allowance; the run keeps its own
    limit = RUN_LIMIT_S if time.monotonic() - started > 60 else RUN_LIMIT_S - (time.monotonic() - started)
    with open(log, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {limit:.0f} s (log: {log})", 4)
    if rc != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"benchmark JVM failed (rc={rc}, log: {log})", 5)
    with open(out) as f:
        result = json.load(f)
    if a.trace == "1":
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        for name in os.listdir(work):
            if name.startswith("trace_"):
                shutil.move(os.path.join(work, name), os.path.join(traces, name))
                print(f"trace: {os.path.relpath(os.path.join(traces, name), ROOT)}")
    cpus = os.cpu_count()
    print(json.dumps({"environment": {
        "nproc": cpus, "master": f"local[{cpus}]", "shuffle_partitions": cpus, "heap": HEAP,
        "sources": fp[:12]}}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
