#!/usr/bin/env python3
"""Runs one benchmark workload against the graft sources of this checkout.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload cofactor_scan --seed 1 --seconds 15 --trace 0

The first run compiles the repository and the harness with sbt (the
harness build in this directory loads the root build as a dependency) and
records a class-data-sharing archive; later runs reuse both until a
source file changes. The harness then runs in its own JVM and prints a
report followed by one JSON result line.
"""
import argparse
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(HERE, "target", "runtime-classpath.txt")
ARCHIVE = os.path.join(WORK, "classes.jsa")
WORKLOADS = ["cofactor_scan", "mice_impute", "star_refresh"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 needs these outside spark-submit (the root build passes
# the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def java_cmd(args, archive_flag=None):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(CLASSPATH) as f:
        classpath = f.read().strip()
    # a fixed, pre-touched heap: no run spends time growing it. JVM log
    # lines go to stderr, so standard output ends with the result line.
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch",
           "-Xlog:disable", "-Xlog:all=warning:stderr",
           "-Djava.io.tmpdir=" + tmp,
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    if archive_flag:
        cmd.append(archive_flag)
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "perfbench.Main"] + args + ["--work", WORK]


def build():
    """Compiles graft and the harness when a source changed, then records
    a class-data-sharing archive from one tiny run, which every later run
    maps instead of loading and verifying Spark's classes again."""
    sources = [
        os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
        os.path.join(ROOT, "project", "build.properties"), os.path.join(HERE, "src"),
        os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
    ]
    if not (os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_mtime(sources)):
        print("perfbench: building graft and the harness with sbt", file=sys.stderr)
        done = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                              cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                              timeout=BUILD_TIMEOUT_S)
        if done.returncode != 0:
            return False
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
    if not os.path.exists(ARCHIVE):
        print("perfbench: recording the class-data-sharing archive", file=sys.stderr)
        train = java_cmd(["--workload", "star_refresh", "--seed", "1", "--seconds", "1",
                          "--trace", "0", "--scale", "tiny"],
                         "-XX:ArchiveClassesAtExit=" + ARCHIVE)
        done = subprocess.run(train, cwd=ROOT, stdout=subprocess.DEVNULL,
                              stderr=subprocess.DEVNULL, timeout=RUN_TIMEOUT_S)
        if done.returncode != 0 and os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
    return True


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="tiny: small inputs, for the self-test")
    ap.add_argument("--corrupt", type=int, choices=[0, 1], default=0,
                    help="1: corrupt one checked triple (negative self-test)")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        print("perfbench: no graft sources next to the benchmark directory", file=sys.stderr)
        return 2
    if not build():
        print("perfbench: build failed", file=sys.stderr)
        return 1
    archive = "-XX:SharedArchiveFile=" + ARCHIVE if os.path.exists(ARCHIVE) else None
    cmd = java_cmd(["--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(args.trace),
                    "--scale", args.scale, "--corrupt", str(args.corrupt)], archive)
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                              timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired as e:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        out = e.stdout.decode(errors="replace") if isinstance(e.stdout, bytes) else e.stdout
        sys.stderr.write(out or "")
        return 1
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        return proc.returncode or 1
    sys.stdout.write(proc.stdout)
    return 0


if __name__ == "__main__":
    sys.exit(main())
