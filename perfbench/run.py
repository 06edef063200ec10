#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. Builds the program (src/main/scala) and the
harness (perfbench/src) with the Scala compiler shipped in the Spark jars,
then runs one workload in one JVM on local[<cores>]. The harness prints
progress lines and, last, one JSON result line, which this script passes
through. Exit code 0 only if every output check passed.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
WORKLOADS = ["mirror_skew", "small_batches"]
BUILD_TIMEOUT_S = 800
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else those beside
    the first spark-submit on PATH that has them."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    sys.exit("perfbench: Spark jars not found; set SPARK_HOME")


SPARK_JARS = spark_jars()


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    out = []
    for r in roots:
        if not os.path.isdir(r):
            sys.exit(f"perfbench: missing source tree {os.path.relpath(r, ROOT)}")
        for d, _, files in os.walk(r):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile program + harness once per source state; returns classes dir."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, ".done")):
        return classes
    if os.path.isdir(classes):
        shutil.rmtree(classes)
    os.makedirs(classes)
    t = time.time()
    cp = os.path.join(SPARK_JARS, "*")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", cp] + srcs,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.exit("perfbench: build failed")
    open(os.path.join(classes, ".done"), "w").close()
    print(f"[perfbench] built {len(srcs)} sources in {time.time() - t:.1f} s", file=sys.stderr)
    return classes


def java_cmd(classes, main, args):
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                          os.path.join(SPARK_JARS, "*")])
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    # fixed, pre-touched heap: a lazily grown heap makes executor threads
    # serialize on page faults and turns timings into noise
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}",
             "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
            + opens + ["-cp", cp, main] + args)


def run_jvm(cmd, work):
    """Run the harness, pass its stdout through, return (code, last line)."""
    # Spark's scratch dirs stay inside the checkout even if the caller's
    # environment points SPARK_LOCAL_DIRS elsewhere (it overrides spark.local.dir)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, env=env,
                         text=True, start_new_session=True)
    timer = threading.Timer(JVM_TIMEOUT_S, os.killpg, (p.pid, signal.SIGKILL))
    timer.start()
    last = ""
    try:
        for line in p.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                last = line
            else:
                print(line, flush=True)
        code = p.wait()
    finally:
        timer.cancel()
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if code == -signal.SIGKILL:
        print("perfbench: harness killed (timeout)", file=sys.stderr)
        return 124, ""
    return code, last


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the generator self-test instead of a workload")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    classes = build()
    work = os.path.join(BUILD, "work", f"{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        if a.selftest:
            code, _ = run_jvm(java_cmd(classes, "perfbench.MirrorGenCheck", [work]), work)
            sys.exit(code)
        traces = os.path.join(BUILD, "traces")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work,
                "--trace-out", os.path.join(traces, f"{a.workload}-seed{a.seed}.json")]
        code, last = run_jvm(java_cmd(classes, "perfbench.Main", args), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not last:
        sys.exit(code or 1)
    print(last, flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
