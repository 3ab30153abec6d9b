#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload clip_verdicts --seed 1 --seconds 8 --trace 0

Run from the root of the repository. The first run builds the benchmark
(perfbench/build.sbt: the engine's sources plus the benchmark's own) with sbt
in offline mode; later runs reuse the build unless a source file is newer.
The JVM is then launched directly. Scratch data goes to perfbench/out/work
and is removed when the run ends; per-run reports and traced spans go to
perfbench/out/results. See perfbench/README.md.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
OUT = os.path.join(BENCH, "out")
CLASSPATH_FILE = os.path.join(BENCH, "target", "perfbench.classpath")
WORKLOADS = ("clip_verdicts", "table_lifecycle", "doc_text")
RUN_TIMEOUT_S = 170

# Same JVM flags as the engine's own build.sbt: Spark 4 on JDK 17 needs the
# module opens, and the fixed GC/JIT thread counts keep the 1- and 4-thread
# levels comparable. One departure: the JIT stops at C1. A run lives well
# under a minute, and in that time C2 never finishes compiling Spark (tens of
# CPU-seconds of compilation still queued while the window runs), so the
# timed cycles would sit on a warm-up curve whose height changes by up to a
# fifth from run to run. C1-only runs reach their steady speed within the
# first cycle and read the same throughput as the fastest C2 runs (see
# README.md).
JVM_OPTS = [
    "-Xmx3g",
    "-XX:TieredStopAtLevel=1",
    "-XX:ParallelGCThreads=4",
    "-XX:ConcGCThreads=2",
    "-XX:CICompilerCount=4",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar",
    )
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    for top in (ENGINE_SRC, os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                if f.endswith(".scala"):
                    yield os.path.join(d, f)
    yield os.path.join(BENCH, "build.sbt")


def run_child(cmd, cwd, env, timeout, stdout, stderr):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """Compile with sbt (offline) unless the recorded build is current."""
    if os.path.exists(CLASSPATH_FILE):
        stamp = os.path.getmtime(CLASSPATH_FILE)
        if all(os.path.getmtime(s) <= stamp for s in sources()):
            return open(CLASSPATH_FILE).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(OUT, exist_ok=True)
    log_path = os.path.join(OUT, "build.log")
    with open(log_path, "w") as log:
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         BENCH, env, 600, log, subprocess.STDOUT)
    lines = open(log_path).read().splitlines()
    cp = [l for l in lines if "perfbench" in l and "classes" in l and os.pathsep in l]
    if code != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {code}); log in {log_path}")
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp[-1].strip() + "\n")
    return cp[-1].strip()


def main():
    # a terminated run still stops its children (run_child kills the group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}; run from a full checkout")
    classpath = build()

    work = os.path.join(OUT, "work")
    results = os.path.join(OUT, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                                  "-cp", classpath, "perfbench.Main",
                                  "--workload", a.workload, "--seed", str(a.seed),
                                  "--seconds", str(a.seconds), "--trace", a.trace,
                                  "--work", work, "--out", results])
    log_path = os.path.join(OUT, f"{a.workload}.log")
    t0 = time.time()
    try:
        with open(log_path, "w") as log, \
                open(os.path.join(work, "stdout"), "w") as out:
            code = run_child(cmd, ROOT, dict(os.environ), RUN_TIMEOUT_S, out, log)
        stdout = open(os.path.join(work, "stdout")).read().splitlines()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s; log in {log_path}")
    if code != 0 or not stdout:
        sys.stderr.write("\n".join(open(log_path).read().splitlines()[-40:]) + "\n")
        fail(f"benchmark exited with {code}; log in {log_path}")
    result = json.loads(stdout[-1])
    for line in stdout[:-1]:
        print(line)
    print(f"[perfbench] {a.workload} run_wall_s = {time.time() - t0:.3f} s")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
