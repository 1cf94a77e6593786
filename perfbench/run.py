#!/usr/bin/env python3
"""Layered benchmark launcher.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_batch --seed 42 --seconds 8 --trace 0

Builds the engine and the benchmark from source with sbt (offline) when
the sources changed, then runs `perfbench.Main` in one JVM at
local[nproc]. The last line of standard output is the result JSON. Build
outputs go to `.bench_build/` and `perfbench/target/`, the run's fixtures
and Spark scratch to `.bench_cache/`.
"""
import hashlib
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
CACHE = os.path.join(ROOT, ".bench_cache")
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
              os.path.join(BENCH, "src", "main"), os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles with sbt when needed; returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "perfbench.stamp")
    cp_file = os.path.join(BUILD, "perfbench.classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx4g")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = [l for l in out.stdout.splitlines() if "perfbench" in l and "target" in l and ":" in l]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def driver_mem():
    """Half of MemTotal, clamped to 2..8 GiB (the default build heap is
    larger than small hosts)."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return "%dg" % max(2, min(8, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the repository root: the engine sources (src/main/scala/graft) are missing")
    cp = build()
    mem = driver_mem()
    env = dict(os.environ)
    env["SPARK_DRIVER_MEM"] = mem
    env["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    tmp = os.path.join(CACHE, "tmp")
    # scratch of earlier runs (a killed JVM leaves its own behind)
    if os.path.isdir(CACHE):
        for w in os.listdir(CACHE):
            if w.startswith("work-"):
                shutil.rmtree(os.path.join(CACHE, w), ignore_errors=True)
    for d in (env["SPARK_LOCAL_DIRS"], tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + tmp, "-Xmx" + mem, "-XX:+UseParallelGC",
            "-cp", cp, "perfbench.Main"] + sys.argv[1:]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("run exceeded %d s" % RUN_TIMEOUT_S)
    sys.exit(code)


if __name__ == "__main__":
    main()
