#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per fresh JVM.

Usage (from the repository root):
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds perfbench together with the engine sources (sbt, offline) on first
use, then runs perfbench.Main at local[<cores>] with a heap of half the
machine's RAM clamped to 2-8 GB. The last stdout line is the summary:
{"correct", "attempted", "failed", "metrics"}; end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. Per-query, per-pass and span
detail goes to perfbench/out/<workload>-seed<N>-trace<T>.json, and the JVM's
log beside it. Exits non-zero, without a summary, when the engine sources
or the build are missing, and with code 1 when any output fails its check.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_INPUTS = [
    (ROOT, ["build.sbt", "project/build.properties", "src/main"]),
    (HERE, ["build.sbt", "project/build.properties", "src/main"]),
]
CLASSPATH_FILE = os.path.join(HERE, "target", "perfbench-classpath.txt")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark 4 on JDK 17 outside spark-submit; same list as the engine's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, to tell a stale build."""
    h = hashlib.sha256()
    for base, rels in BUILD_INPUTS:
        for rel in rels:
            path = os.path.join(base, rel)
            files = [path] if os.path.isfile(path) else sorted(
                os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
            for f in files:
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out


def build():
    """Compile with sbt unless the classpath file matches the sources."""
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as f:
            old_stamp, cp = (f.read().split("\n") + [""])[:2]
        if old_stamp == stamp and cp:
            return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log("building perfbench and the engine with sbt")
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    try:
        rc, out = run_group(
            ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
             "-J-XX:-UsePerfData", "compile", "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: sbt build timed out after {BUILD_TIMEOUT_S}s")
    lines = [ln for ln in out.splitlines() if ln.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or cp.startswith("[") or os.pathsep not in cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        sys.exit(f"perfbench: sbt build failed (rc {rc})")
    os.makedirs(os.path.dirname(CLASSPATH_FILE), exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def heap_gb():
    """Half of RAM, clamped to 2-8 GB."""
    with open("/proc/meminfo") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return min(8, max(2, kb // (2 * 1024 * 1024)))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        sys.exit("perfbench: run from a checkout of the engine: no build.sbt and "
                 "src/main/scala/graft beside perfbench/")
    spec = os.path.join(HERE, "workloads.json")
    with open(spec) as f:
        workloads = json.load(f)["workloads"]
    if a.workload not in workloads:
        sys.exit(f"perfbench: unknown workload {a.workload}; known: {', '.join(workloads)}")

    cp = build()
    cores = len(os.sched_getaffinity(0))
    heap = heap_gb()
    # a scratch directory of this process's own, so runs side by side
    # never delete each other's Spark files
    work = os.path.join(HERE, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{heap}g", f"-Xms{heap}g", "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={work}/tmp",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--spec", spec, "--data", os.path.join(HERE, "data"),
        "--work", work, "--out", stem + ".json", "--cores", str(cores)]
    log(f"{a.workload} seed {a.seed} trace {a.trace}: local[{cores}], heap {heap}g, log {stem}.log")
    try:
        with open(stem + ".log", "w") as err:
            rc, out = run_group(cmd, JVM_TIMEOUT_S, cwd=work, stdout=subprocess.PIPE,
                                stderr=err, stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: run timed out after {JVM_TIMEOUT_S}s; see {stem}.log")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    lines = out.strip().splitlines()
    try:
        summary = json.loads(lines[-1])
        assert set(summary) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        with open(stem + ".log") as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        sys.exit(f"perfbench: no summary from the run (rc {rc}); see {stem}.log")
    print(lines[-1], flush=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
