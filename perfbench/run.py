#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The engine's sources (src/main) and the
benchmark's (perfbench/src) are compiled together with the Scala compiler
that ships in Spark's jars directory ($SPARK_HOME/jars, or the jars next to
the spark-submit on PATH), into $CARGO_TARGET_DIR (default .bench_build).
A build is reused while no source file changes. The last line of standard
output is the result object; the line before it (PERFBENCH_DETAIL) carries
every workload-specific metric, the inputs' properties and the checks.
"""
import argparse
import ctypes
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("refresh_stream", "catalog_serve")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, as (relative path, absolute path)."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    out = []
    for r in roots:
        if not os.path.isdir(r):
            fail(f"missing source directory {os.path.relpath(r, ROOT)}")
        for d, _, files in os.walk(r):
            for f in files:
                p = os.path.join(d, f)
                out.append((os.path.relpath(p, ROOT), p))
    return sorted(out)


def build(build_dir, jars):
    srcs = sources()
    h = hashlib.sha256()
    for rel, p in srcs:
        h.update(rel.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return classes
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        scala = [p for rel, p in srcs if p.endswith((".scala", ".java"))]
        args_file = os.path.join(build_dir, "sources.txt")
        with open(args_file, "w") as f:
            f.write("\n".join(scala) + "\n")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars,
               "scala.tools.nsc.Main", "-classpath", jars, "-d", tmp,
               "-nowarn", "@" + args_file]
        print(f"perfbench: compiling {len(scala)} sources", file=sys.stderr)
        try:
            r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                               timeout=BUILD_TIMEOUT_S,
                               preexec_fn=die_with_parent)
        except subprocess.TimeoutExpired:
            fail("build timed out")
        if r.returncode != 0:
            fail("build failed")
        res = os.path.join(ROOT, "src", "main", "resources")
        if os.path.isdir(res):
            shutil.copytree(res, tmp, dirs_exist_ok=True)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return classes


def die_with_parent():
    """In the child: get SIGKILL when this script dies (Linux prctl)."""
    try:
        ctypes.CDLL("libc.so.6", use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG
    except OSError:
        pass


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("no Spark jars: set SPARK_HOME")
    return jars


def latency_limit_ms():
    """The stream's p99 latency limit, as written in BENCHMARK.json."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    for w in spec.get("workloads", []):
        m = re.search(r"p99 limit (\d+) ms", w.get("why", ""))
        if w.get("name") == "refresh_stream" and m:
            return int(m.group(1))
    fail("BENCHMARK.json names no refresh_stream p99 limit")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    jars_dir = spark_jars()
    jars = os.path.join(jars_dir, "*")
    limit = latency_limit_ms()
    build_dir = os.path.join(
        ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    classes = build(build_dir, jars)

    run_id = f"{a.workload}-{a.seed}-{'traced' if a.trace == '1' else 'plain'}"
    work = os.path.join(build_dir, "work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    cpus = len(os.sched_getaffinity(0))
    cmd = (["java", "-Xmx2g", "-Xss4m", "-XX:+UseG1GC"] +
           [f"--add-opens={p}=ALL-UNNAMED" for p in JDK17_OPENS] +
           ["-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false", "-Djava.io.tmpdir=" + work,
            "-cp", classes + os.pathsep + jars, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
            "--cpus", str(cpus), "--latency-limit-ms", str(limit),
            "--trace-out", os.path.join(build_dir, "traces", run_id + ".jsonl")])
    os.makedirs(work, exist_ok=True)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True, cwd=ROOT,
                            preexec_fn=die_with_parent)
    # a signal to this script stops the benchmark's JVM too
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, lambda *_: sys.exit(5))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("run timed out", 3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    detail = [l for l in lines if l.startswith("PERFBENCH_DETAIL ")]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stderr.write(out)
        fail(f"no result line (exit {proc.returncode})", 4)
    for l in detail:
        print(l)
    print(json.dumps(result))
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
