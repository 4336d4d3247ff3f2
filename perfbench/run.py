#!/usr/bin/env python3
"""Changelog-to-served-view benchmark of the graft streaming path.

Usage (from the repository root):

    python3 perfbench/run.py --workload bulk_changelog --seed 1 --seconds 8 --trace 0

Builds the engine and the benchmark program (graft.perfbench.StreamBench)
with sbt once per source state (output under .bench_build/ and
perfbench/target/), then runs it in one JVM with a pinned core count and
heap. Its last stdout line is the result JSON. With --trace 1 it also writes
the spans and per-layer metrics to
.bench_build/perfbench/trace-<workload>-<seed>.json.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("bulk_changelog", "trickle_serve")
HEAP = "2g"
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, cwd, env, timeout, merge_stderr=False):
    """Run `cmd` in its own process group and return (exit code, stdout).
    On timeout the whole group is killed and waited for, so no JVM that sbt
    or StreamBench started outlives the benchmark.
    """
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT if merge_stderr else None,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} exceeded {timeout} s")
    return proc.returncode, out


def source_stamp(root):
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"), os.path.join(root, "perfbench", "src")]
    files = [os.path.join(root, "perfbench", "build.sbt"),
             os.path.join(root, "perfbench", "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files.extend(os.path.join(base, n) for n in names)
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    """Compile with sbt and return the runtime classpath (cached per stamp)."""
    stamp = source_stamp(root)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    started = time.time()
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    code, output = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        os.path.join(root, "perfbench"), env, BUILD_TIMEOUT_S, merge_stderr=True)
    lines = output.strip().splitlines()
    if code != 0 or not lines:
        sys.stderr.write(output[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    print(f"perfbench: build took {time.time() - started:.1f} s", file=sys.stderr)
    os.makedirs(out, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--cores", type=int, default=2,
                    help="local[N] core count (pinned; reference runs use 2)")
    ap.add_argument("--engine", default="processor", choices=("processor", "stream"),
                    help="KTable engine: KTableProcessor (default) or KTableStream")
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the repository root: {need} is missing")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must name a Spark installation")
    java = shutil.which("java")
    if java is None:
        fail("java is not on PATH")
    if args.cores > (os.cpu_count() or 1):
        fail(f"--cores {args.cores} exceeds the {os.cpu_count()} available")

    out = os.path.join(root, ".bench_build", "perfbench")
    classpath = build(root, out)

    work = os.path.join(out, f"work-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the heap is pinned and pre-touched, so peak RSS does not depend on how
    # far G1 happened to grow the young generation in a given run
    cmd = [java, f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-Dspark.ui.enabled=false",
        "-cp", classpath, "graft.perfbench.StreamBench",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace,
        "--cores", str(args.cores), "--engine", args.engine,
        "--work", os.path.join(work, "run"),
        "--trace-file", os.path.join(out, f"trace-{args.workload}-{args.seed}.json"),
    ]
    try:
        code, stdout = run_group(cmd, work, os.environ, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    result = next((l for l in reversed(lines) if l.startswith('{"correct"')), None)
    for line in lines:
        if line is not result:
            print(line)
    if result is None:
        fail(f"StreamBench printed no result (exit code {code})")
    print(result, flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
