#!/usr/bin/env python3
"""KG-construction benchmark for nerspark.

Run from the repository root:

    python3 kgbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Workloads: kg_build, kg_link, kg_maintain, or `all` (the three in one JVM).
`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer ones
and writes one span per line to kgbench/target/traces/.

The first run in a checkout builds the program and the benchmark from
source with sbt (the benchmark's own build depends on the root build)
and records the classpath in kgbench/target/ with a hash of every source
and build file; later runs start the JVM directly until a file changes.
The last line of stdout is the result object; build and Spark logs go to
stderr. Exits non-zero, without a result, when the build, the run or its
180 s budget (510 s for `all`) fails.
"""
import argparse
import hashlib
import os
import selectors
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
# One workload's run must end within 180 s; `all` runs the three in turn.
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


# Spark on JDK 17 outside spark-submit needs these (the root build passes
# the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# The JVM runs C1-compiled code only (-XX:TieredStopAtLevel=1). Every build,
# fold and read plans fresh queries whose generated classes are new, so the
# JIT never settles: some 500 methods a second are still compiled (and many
# deoptimized) in the timed section. Under the default tiered JIT that
# compile work differs from one JVM to the next, and the timed work follows
# it: on a 4-core host the median kg_build build landed near 2.3 s or near
# 3.4 s, and kg_maintain's reads near 0.33 s or near 0.48 s, for the same
# seed, with GC time and the code cache flat. C1 alone compiles cheaply:
# the work takes up to 2x longer, but every JVM lands within a few per cent.
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1"]


def fail(msg, code=2):
    print(f"kgbench: {msg}", file=sys.stderr)
    sys.exit(code)


CHILD = None  # the running child process group, stopped on any exit path


def stop_child():
    if CHILD is not None and CHILD.poll() is None:
        os.killpg(CHILD.pid, signal.SIGKILL)
        CHILD.wait()


def on_signal(signum, _frame):
    stop_child()
    sys.exit(128 + signum)


def start(cmd, **kw):
    """Starts `cmd` in its own process group so that every process it
    spawns can be stopped together."""
    global CHILD
    CHILD = subprocess.Popen(cmd, start_new_session=True, text=True, **kw)
    return CHILD


def source_files():
    """Every file whose change must rebuild the classpath."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def classpath():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    # one record of the LAST build: compiled classes live in one place, so
    # a classpath is only valid for the sources it was built from
    stamp = h.hexdigest()
    cache = os.path.join(TARGET, "classpath.txt")
    if os.path.isfile(cache):
        with open(cache) as fh:
            built, _, cp = fh.read().partition("\n")
        if built == stamp:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    print("kgbench: building with sbt", file=sys.stderr)
    try:
        sbt = start(["sbt", "--batch", "-Dsbt.log.noformat=true",
                     "export kgbench/Runtime/fullClasspath"],
                    cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr)
        stdout, _ = sbt.communicate(timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        stop_child()
        fail(f"build failed: {e}")
    lines = [l.strip() for l in stdout.splitlines() if l.strip()]
    if sbt.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(stdout)
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(cache, "w") as fh:
        fh.write(f"{stamp}\n{lines[-1]}")
    return lines[-1]


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["kg_build", "kg_link", "kg_maintain", "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no nerspark sources next to {HERE} (expected build.sbt and src/main/scala)")

    cp = classpath()
    work = os.path.join(TARGET, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp",
              "-cp", cp, "kgbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work,
              "--trace-dir", os.path.join(TARGET, "traces")])
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # would override the run's own spark.local.dir
    proc = start(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE)
    lines = []
    limit = RUN_TIMEOUT_S * (3 if a.workload == "all" else 1)
    deadline = time.monotonic() + limit
    try:
        sel = selectors.DefaultSelector()
        sel.register(proc.stdout, selectors.EVENT_READ)
        while True:
            left = deadline - time.monotonic()
            if left <= 0:
                raise TimeoutError
            if sel.select(timeout=min(left, 1.0)):
                line = proc.stdout.readline()
                if not line:
                    break
                lines.append(line.rstrip("\n"))
                # hold the result line back until the JVM exits cleanly
                if not line.startswith('{"correct"'):
                    print(line, end="", flush=True)
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except (TimeoutError, subprocess.TimeoutExpired):
        stop_child()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {limit} s", 3)
    shutil.rmtree(work, ignore_errors=True)
    result = [l for l in lines if l.startswith('{"correct"')]
    if proc.returncode != 0 or len(result) != 1:
        fail(f"run failed (exit {proc.returncode})", 4)
    print(result[0], flush=True)


if __name__ == "__main__":
    main()
