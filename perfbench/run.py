#!/usr/bin/env python3
"""Benchmark of the graft engine's wire-spec path, end to end and per layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt); each run then starts
one JVM sized from the host (local[<cores>], heap = half of RAM capped at
8g), generates the seed's inputs once (in a separate JVM, off every
clock), and prints one JSON result as the last line of standard output.
Everything it writes stays under perfbench/work and perfbench/target.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
TMP = os.path.join(WORK, "tmp")  # java.io.tmpdir: native libs, spill files
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
WORKLOADS = ("panel_batch", "wire_service")
DEADLINE_S = 170  # after the build, a run must end within 180 s

# What spark-submit would inject for Spark 4 on JDK 17 (build.sbt's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"# {msg}", flush=True)


def sources():
    for top in (os.path.join(ROOT, "src", "main", "scala"),
                os.path.join(BENCH, "src", "main", "scala")):
        for d, _, files in os.walk(top):
            for f in files:
                if f.endswith(".scala"):
                    yield os.path.join(d, f)
    yield os.path.join(BENCH, "build.sbt")


def build():
    """Compile engine + harness unless the classpath is newer than every source."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: the engine sources (src/main/scala/graft) are missing")
    if os.path.exists(CLASSPATH):
        stamp = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) < stamp for f in sources()):
            return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine + harness with sbt")
    t = time.monotonic()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", f"-Djava.io.tmpdir={TMP}", "--batch",
                             "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                            timeout=850).returncode
    if rc != 0 or not os.path.exists(CLASSPATH):
        sys.exit(f"perfbench: build failed (rc={rc}), see {os.path.join(WORK, 'build.log')}")
    log(f"built in {time.monotonic() - t:.1f}s")


def host():
    cores = len(os.sched_getaffinity(0))
    gib = 2
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                gib = int(line.split()[1]) // 2097152  # half of RAM, in GiB
    return cores, f"{min(8, max(2, gib))}g"


def java(heap, args, timeout, echo=False):
    """Run perfbench.Main; stream its stdout (when `echo`), return (rc, lines)."""
    # compiler threads stay alive, so Host.programCpuS can leave out
    # their CPU time without losing any of it to an exited thread
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={TMP}",
           "-XX:-UseDynamicNumberOfCompilerThreads"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-cp", open(CLASSPATH).read().strip(), "perfbench.Main"] + args
    lines = []
    with open(os.path.join(WORK, "jvm.log"), "a") as err:
        proc = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE, stderr=err, text=True)
        timer = threading.Timer(timeout, proc.kill)
        timer.start()
        try:
            for line in proc.stdout:
                line = line.rstrip("\n")
                if echo and lines:
                    print(lines[-1], flush=True)
                lines.append(line)
            proc.wait()
        finally:
            timer.cancel()
            proc.kill()
            proc.wait()
    return proc.returncode, lines


def inputs(workload, seed, t0):
    """The seed's inputs, generated once per (workload, seed)."""
    data = os.path.join(WORK, "data", f"{workload}-{seed}")
    if not os.path.exists(os.path.join(data, "_SIZES")):
        parent = os.path.dirname(data)
        if os.path.isdir(parent):  # keep one seed per workload on disk
            for d in os.listdir(parent):
                if d.startswith(workload + "-"):
                    shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
        t = time.monotonic()
        rc, _ = java("2g", ["gen", workload, str(seed), data],
                     DEADLINE_S - (time.monotonic() - t0))
        if rc != 0:
            sys.exit(f"perfbench: input generation failed (rc={rc})")
        log(f"generated inputs in {time.monotonic() - t:.1f}s (off the clock)")
    return data


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    os.makedirs(TMP, exist_ok=True)
    build()
    t0 = time.monotonic()
    cores, heap = host()
    data = inputs(a.workload, a.seed, t0)
    rc, lines = java(heap, ["run", a.workload, str(a.seed), str(a.seconds), str(a.trace),
                            data, WORK, str(cores)],
                     DEADLINE_S - (time.monotonic() - t0), echo=True)
    if rc != 0 or not lines:
        sys.exit(f"perfbench: benchmark JVM failed (rc={rc}), see {os.path.join(WORK, 'jvm.log')}")
    result = json.loads(lines[-1])
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
