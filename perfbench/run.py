#!/usr/bin/env python3
"""Service benchmark for graft: build the library from source, then run
one workload in a fresh JVM and print its result as the last stdout line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload ingest_mixed --seed 1 --seconds 10 --trace 0

Workloads: ingest_mixed, olap_batch (see perfbench/spec.json).
`--trace 1` prints the per-layer metrics instead of the end-to-end ones
and writes the recorded spans under .bench_out/.

The library and the benchmark are compiled with the Scala compiler that
ships among the Spark jars (the jar directory named by build.sbt's
`unmanagedBase`, or $SPARK_HOME/jars) into $CARGO_TARGET_DIR (default
.bench_build); a source hash skips the build when nothing changed.
Every file the run creates stays inside the checkout and is removed at
exit, except the build cache and the span files.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH_DIR = os.path.join(ROOT, "perfbench")
SRC_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(BENCH_DIR, "src")]
WORKLOADS = ("ingest_mixed", "olap_batch")
RUN_TIMEOUT_S = 170
ADD_OPENS = [a for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        fail("build.sbt not found: run from the root of a graft checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m or not os.path.isdir(m.group(1)):
        fail("cannot locate the Spark jar directory (set SPARK_HOME)")
    return m.group(1)


def sources():
    out = []
    for d in SRC_DIRS:
        if not os.path.isdir(d):
            fail(f"missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files
                    if f.endswith(".scala") or f.endswith(".java")]
    return sorted(out)


def build(jars):
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    target = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    out = os.path.join(ROOT, target, "perfbench-classes")
    stamp_file = out + ".stamp"
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test hook: corrupt expected answers so the failure path shows
    ap.add_argument("--wrong-answer", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive")

    jars = spark_jars()
    classes = build(jars)

    work = os.path.join(ROOT, ".bench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    cmd = ["java"] + ADD_OPENS + [
        "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dderby.system.home={os.path.join(work, 'derby')}",
        "-Dspark.ui.enabled=false",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{classes}:{os.path.join(jars, '*')}",
        "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cpus", str(cpus), "--out", out_dir,
        "--wrong-answer", str(a.wrong_answer)]
    p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                         stderr=sys.stderr, text=True,
                         start_new_session=True)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        stdout, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with code {p.returncode}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("benchmark JVM printed no result line")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
