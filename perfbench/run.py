#!/usr/bin/env python3
"""Runs one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload collect_ua --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. The first run builds the engine and
the benchmark harness with sbt (offline); later runs reuse the build
while the sources are unchanged. The harness JVM prints one line per
metric and ends with one JSON result line, which is also the last line
this script prints. Exit code 0 means every output check passed.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("collect_ua", "registry_sf0.001")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JVM_HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """SHA-256 over every file the build reads, in path order."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             "perfbench/build.sbt", "perfbench/project/build.properties",
             "perfbench/src"]
    files = []
    for r in roots:
        p = os.path.join(ROOT, r)
        if os.path.isfile(p):
            files.append(r)
        for d, _, fs in os.walk(p):
            files += [os.path.relpath(os.path.join(d, f), ROOT) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    """Compiles engine + harness; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath." + digest)
    if os.path.exists(stamp):
        with open(stamp) as fh:
            classpath = fh.read().strip()
        if all(os.path.exists(p) for p in classpath.split(os.pathsep)):
            return classpath
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=os.path.join(ROOT, "perfbench"), env=env, stdout=subprocess.PIPE,
            stderr=log, stdin=subprocess.DEVNULL, text=True,
            start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop(proc)
            fail(f"build timed out; see {log_path}")
        log.write(out)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench/target" not in lines[-1]:
        fail(f"build failed; see {log_path}")
    with open(stamp, "w") as fh:
        fh.write(lines[-1].strip())
    return lines[-1].strip()


def stop(proc):
    """Stops a child's whole process group and waits for it."""
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGTERM)
            proc.wait(timeout=10)
        except (ProcessLookupError, subprocess.TimeoutExpired):
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()


def commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                       capture_output=True, text=True)
    return r.stdout.strip() or "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt",
                 "perfbench/registry_golden.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from the root of a checkout: {need} is missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    digest = source_digest()
    classpath = build(digest)
    work = os.path.join(BUILD, "work", f"{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    env.update({
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_SCRATCH_DIR": os.path.join(work, "scratch"),
        "PERFBENCH_COMMIT": commit(),
        "PERFBENCH_SOURCE_SHA256": digest,
    })
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--root", ROOT, "--work", work])
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE,
                            stderr=open(os.path.join(BUILD, "last_run.log"), "w"),
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop(proc)
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        fail(f"harness exited {proc.returncode} without a result; "
             f"see {os.path.join(BUILD, 'last_run.log')}", 4)
    print("\n".join(lines))
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
