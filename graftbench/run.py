#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

    python3 graftbench/run.py --workload ts_interactive --seed 1 --seconds 40 --trace 0

Run it from the root of a checkout. It builds the engine and the benchmark
from source with sbt (only when a source changed), then runs the workload in
one JVM. Everything it writes goes under `.bench_build/graftbench/` in the
checkout: build stamp, generated inputs, per-run records and span files.
See graftbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "graftbench")
ENGINE = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
WORKLOADS = ("ts_interactive", "llm_pipeline", "stream_ingest")
RUN_LIMIT_S = 175
HEAP = "4g"  # -Xms = -Xmx: heap growth must not land inside timed work
# C1 only: with tiered C2 the warm passes were still getting faster after a
# minute (the C2 compiler threads used more CPU than the query path), so a
# pass's time depended on how far the compiler had got in that JVM. C1
# settles within the cold pass.
JIT = ["-XX:TieredStopAtLevel=1"]
BUILD_LIMIT_S = 600
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [ENGINE, os.path.join(HERE, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, limit_s, stdout):
    """Run cmd in its own process group; kill the group past limit_s."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        log(f"{cmd[0]} exceeded {limit_s:.0f}s; killed")
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def build(digest):
    stamp = os.path.join(WORK, "build.sha")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    log("building engine + benchmark with sbt")
    t0 = time.time()
    rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"], HERE, BUILD_LIMIT_S,
                     sys.stderr)
    if rc != 0:
        sys.exit(f"build failed (sbt exit {rc})")
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.0f}s")


def revision(digest):
    """git commit and dirty flag when the checkout is a repository; the
    source hash always."""
    try:
        rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        dirty = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"], cwd=ROOT,
                               capture_output=True, text=True, timeout=10)
        if rev.returncode == 0:
            return f"{rev.stdout.strip()}+src{digest[:12]}", str(bool(dirty.stdout.strip())).lower()
    except (OSError, subprocess.SubprocessError):
        pass
    return f"none+src{digest[:12]}", "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="write the observed fingerprints as the expected ones")
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (sf0.001); no expected check")
    args = ap.parse_args()
    t_start = time.time()

    if not os.path.isdir(os.path.join(ENGINE, "graft")):
        sys.exit(f"engine sources not found under {os.path.relpath(ENGINE, ROOT)}: "
                 "run from the root of a full checkout")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        sys.exit("SPARK_HOME must point at a Spark installation with a jars/ directory")

    os.makedirs(WORK, exist_ok=True)
    digest = source_hash()
    build(digest)
    t_start = time.time()  # the run limit starts after a (first-run) build
    rev, dirty = revision(digest)

    # inputs are keyed by the generator's source, so a changed generator
    # never reuses inputs an older one wrote; older inputs are removed
    with open(os.path.join(HERE, "src", "main", "scala", "graftbench", "Gen.scala"), "rb") as f:
        data = os.path.join(WORK, "data-" + hashlib.sha256(f.read()).hexdigest()[:12])
    for d in os.listdir(WORK):
        if d.startswith("data") and os.path.join(WORK, d) != data:
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)

    out = os.path.join(WORK, f"result-{os.getpid()}.json")
    if os.path.exists(out):
        os.remove(out)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", f"-Xms{HEAP}", *JIT, "-Dspark.ui.enabled=false",
        "-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
        "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--root", WORK, "--data", data, "--out", out,
        "--expected", os.path.join(HERE, "expected.json"), "--rev", rev, "--dirty", dirty,
    ] + [f"--{f}" for f in ("record", "smoke") if getattr(args, f)]
    limit = BUILD_LIMIT_S if args.record else RUN_LIMIT_S

    # inputs first, in a JVM of their own: the timed JVM then starts equally
    # cold whether this seed's inputs were built now or by an earlier run
    t_gen = time.time()
    rc = run_bounded(cmd + ["--gen-only"], ROOT, max(10, limit - (time.time() - t_start)), sys.stderr)
    if rc != 0:
        sys.exit(f"input generation failed (exit {rc})")
    gen_s = time.time() - t_gen
    rc = run_bounded(cmd + ["--gen-s", f"{gen_s:.3f}"], ROOT,
                     max(10, limit - (time.time() - t_start)), sys.stdout)
    sys.stdout.flush()
    if rc != 0 or not os.path.exists(out):
        sys.exit(f"benchmark JVM failed (exit {rc})")
    with open(out) as f:
        line = f.read().strip()
    os.remove(out)
    print(line, flush=True)


if __name__ == "__main__":
    main()
