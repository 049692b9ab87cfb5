#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the
benchmark (perfbench/build.sbt compiles graft's sources together with
the benchmark's code in perfbench/src), records the runtime classpath
and dumps a class-data-sharing archive; later runs start the JVM
directly. Every file the run makes stays inside the checkout, under
perfbench/out and perfbench/target. The last line of stdout is the JSON
result; the lines before it name every metric with its unit.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "graftbench.stamp")
CLASSPATH = os.path.join(TARGET, "graftbench.classpath")
# class-data-sharing archive of the classes the workloads load: it cuts
# JVM and Spark start-up, which every run pays once, by seconds
ARCHIVE = os.path.join(TARGET, "graftbench.jsa")
WORKLOADS = ["ingest_layout", "ingest_duckdb", "graph_query", "snapshot_refresh"]
BUILD_TIMEOUT_S = 480  # build + training + one run stay under 900 s
TRAIN_TIMEOUT_S = 240
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit (same list as graft's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads from the checkout, for the rebuild stamp."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, f) for f in ("build.sbt", os.path.join("project", "build.properties"), "run.py")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    want = stamp()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return
    os.makedirs(TARGET, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "package", "export Runtime/fullClasspathAsJars"]
    print("perfbench: building (first run in this checkout)", file=sys.stderr)
    try:
        p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 4)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed", 4)
    cp = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if not cp:
        sys.stderr.write(p.stdout[-4000:])
        fail("build did not print a classpath", 4)
    with open(CLASSPATH, "w") as fh:
        fh.write(cp[-1].strip())
    train()
    with open(STAMP, "w") as fh:
        fh.write(want)


def jvm(extra):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    return [java] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] + [
        "-Xmx2g", "-XX:+UseParallelGC", "-Xlog:all=warning:stderr", "-Dspark.ui.enabled=false",
    ] + extra + ["-cp", cp]


def run_jvm(cmd, work, timeout_s):
    """Run the JVM in its own process group; kill the group on timeout.
    Returns (exit code or None on timeout, stdout)."""
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        stdout, _ = p.communicate(timeout=timeout_s)
        return p.returncode, stdout
    except subprocess.TimeoutExpired:
        return None, ""
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        shutil.rmtree(work, ignore_errors=True)


def train():
    """Dump the class-data-sharing archive from one JVM that sets up and
    warms every workload."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(HERE, "out", f"train-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = jvm([f"-XX:ArchiveClassesAtExit={ARCHIVE}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]) + [
        "graftbench.Train", "--work", work]
    code, _ = run_jvm(cmd, work, TRAIN_TIMEOUT_S)
    if code != 0:
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
        fail("class-data-sharing training run failed", 4)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    # the benchmark builds graft from this checkout's sources
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"{ROOT} is not a graft checkout (no build.sbt / src/main/scala/graft)")
    if shutil.which("sbt") is None and not os.path.exists(CLASSPATH):
        fail("sbt is not on PATH")
    build()

    out = os.path.join(HERE, "out")
    work = os.path.join(out, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = jvm([f"-XX:SharedArchiveFile={ARCHIVE}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]) + [
        "graftbench.Run", "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", work]
    code, stdout = run_jvm(cmd, work, RUN_TIMEOUT_S)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write("\n".join(l for l in lines if not l.startswith("{")) + "\n")
        fail(f"run failed (exit {code})", 1)
    print("\n".join(lines))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
