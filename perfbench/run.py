#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage, from the repo root:

    python3 perfbench/run.py --workload spell_cast --seed 1 --seconds 15 --trace 0

The first call in a checkout compiles the harness together with the
library sources (sbt, offline); later calls reuse the classes while the
sources are unchanged. Each run gets a private scratch directory under
perfbench/.work/ (Spark local dirs, replay checkpoints, the memos'
temp files) that is deleted when the run ends, so every run pays the
same set-up.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(BENCH, "target")
CLASSES = os.path.join(TARGET, "scala-2.13", "classes")
STAMP = os.path.join(TARGET, "perfbench.stamp")
WORKLOADS = ("spell_cast", "batch_queries", "stream_replay")


def spark_home():
    """SPARK_HOME, else the first spark-submit on PATH that sits in a full
    installation (one with a jars/ directory)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    return next((h for h in homes if h and os.path.isdir(os.path.join(h, "jars"))), "")


SPARK_HOME = spark_home()
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
# -XX:-UsePerfData: no hsperfdata file outside the checkout
JVM_OPTS = ["-Xmx4g", "-XX:-UsePerfData"]
BUILD_LIMIT_S = 880
# a run's time beyond --seconds: JVM start, inputs, the untimed warm-up
# passes and the last timed pass (about 25-45 s on 4 cores)
RUN_ALLOWANCE_S = 160
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def sources_hash():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (LIB_SRC, os.path.join(BENCH, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compile when the sources changed since the last build; True if it did."""
    digest = sources_hash()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return False
    os.makedirs(os.path.join(TARGET, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=SPARK_HOME)
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    env["SBT_OPTS"] += f" -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(TARGET, 'tmp')}"
    print("[perfbench] compiling (first run in this checkout)", file=sys.stderr, flush=True)
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=sys.stderr,
        stderr=sys.stderr, start_new_session=True)
    wait(proc, deadline)
    if proc.returncode != 0:
        sys.exit(f"[perfbench] build failed with code {proc.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return True


def wait(proc, deadline):
    """Wait for proc; kill its whole process group at the deadline."""
    try:
        return proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        sys.exit("[perfbench] timed out")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def java_command(work, args):
    """The benchmark JVM's command line; its temp files go under `work`."""
    home = os.environ.get("JAVA_HOME")
    cmd = [os.path.join(home, "bin", "java") if home else "java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + [
        *JVM_OPTS, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false",
        "-cp", f"{CLASSES}{os.pathsep}{os.path.join(SPARK_JARS, '*')}", *args]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM ends the run like an error: the finally blocks below kill
    # the JVM's process group and remove the run's scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("[perfbench] terminated"))
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        sys.exit(f"[perfbench] library sources not found under {LIB_SRC}")
    if not SPARK_HOME:
        sys.exit("[perfbench] no Spark installation: set SPARK_HOME")

    start = time.time()
    built = build(start + BUILD_LIMIT_S)
    deadline = start + (BUILD_LIMIT_S if built else RUN_ALLOWANCE_S) + args.seconds

    work = os.path.join(BENCH, ".work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_command(work, [
        f"-Dspark.local.dir={os.path.join(work, 'local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "graft.perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--bench-dir", BENCH])
    try:
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, stderr=sys.stderr,
                                text=True, start_new_session=True)
        out, _ = wait(proc, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.exit(f"[perfbench] benchmark exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("[perfbench] malformed result line")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
