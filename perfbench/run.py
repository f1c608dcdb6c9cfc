#!/usr/bin/env python3
"""Benchmark entry point: build the engine plus the harness from source, then
run one workload in one JVM and relay its result.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --selftest

Run it from the repository root. The engine sources (src/main/scala) and the
harness sources (perfbench/src) compile with the Scala compiler that ships in
Spark's jar directory into .bench_build/classes; the build is reused while the
sources are unchanged. Every file the run makes lives under .bench_build and
.bench_work in the current directory.

The harness prints progress and the environment stamp to stdout; its last
stdout line is the result object {"correct", "attempted", "failed",
"metrics"}, which this script prints last.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import threading

BUILD = ".bench_build"
WORK = ".bench_work"
ENGINE_SRC = os.path.join("src", "main", "scala")
ENGINE_RES = os.path.join("src", "main", "resources")
HARNESS_SRC = os.path.join("perfbench", "src")
WORKLOADS = ("ingest", "table_mix", "llm_dedup")
HEAP = "3g"
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("no Spark installation: set SPARK_HOME or put spark-submit on PATH")
    return jars


def scala_files(root):
    out = []
    for d, _, fs in os.walk(root):
        out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(jars):
    """Compile engine + harness unless the classes match the source digest."""
    engine = scala_files(ENGINE_SRC)
    harness = scala_files(HARNESS_SRC)
    if not engine:
        fail(f"no engine sources under {ENGINE_SRC}; run from the repository root")
    if not harness:
        fail(f"no harness sources under {HARNESS_SRC}")
    digest = source_digest(engine + harness)
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "digest")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, digest
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(engine + harness))
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
    print("perfbench: compiling engine and harness", flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("compilation failed")
    if os.path.isdir(ENGINE_RES):
        shutil.copytree(ENGINE_RES, classes, dirs_exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes, digest


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java_cmd(classes, jars, args):
    tmp = os.path.abspath(os.path.join(WORK, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    log4j = os.path.abspath(os.path.join("perfbench", "log4j2.properties"))
    return (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j.configurationFile={log4j}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens
            + ["-cp", classes + os.pathsep + os.path.join(jars, "*")] + args)


def run_jvm(cmd):
    """Run the harness JVM, killing it after RUN_TIMEOUT_S; stream its
    stdout and return its exit code and last line."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    watchdog = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    watchdog.start()
    last = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.strip():
                if last is not None:
                    print(last, flush=True)
                last = line
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    return proc.returncode, last


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    jars = spark_jars()
    classes, digest = build(jars)
    shutil.rmtree(WORK, ignore_errors=True)
    try:
        if a.selftest:
            args = ["perfbench.SelfTest", os.path.join(WORK, "selftest")]
        else:
            args = ["perfbench.Main", a.workload, str(a.seed), str(a.seconds),
                    str(a.trace), WORK, digest[:12]]
        code, last = run_jvm(java_cmd(classes, jars, args))
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    if code != 0 or last is None:
        if last is not None:
            print(last, file=sys.stderr)
        fail(f"harness exited with code {code}")
    print(last, flush=True)


if __name__ == "__main__":
    main()
