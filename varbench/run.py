#!/usr/bin/env python3
"""Runner for the variant benchmark.

Usage, from the repository root:

  python3 varbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0
  python3 varbench/run.py --self-test

It compiles `src/main/scala` and the benchmark's own Scala sources with
the Scala compiler shipped in the Spark jars (plain `java`, no sbt, no
network), caches the classes under the build directory keyed by a hash of
the sources, then runs one workload in a fresh JVM on `local[N]` with
N = `nproc` - 1. Everything the run writes stays under the build directory
(`$CARGO_TARGET_DIR`, default `.bench_build`); the scratch part of it is
emptied before and after every run. The last line on stdout is the
result record.
"""
import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the sbt build declares, else the install `spark-submit` belongs to."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    submit = shutil.which("spark-submit")
    return os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars") if submit else ""


SPARK_JARS = spark_jars()
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
WORKLOADS = ("ingest", "stored_query", "raw_query", "lanes")


def fail(msg):
    print(f"varbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root, with_tests):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    if with_tests:
        dirs.append(os.path.join(HERE, "test"))
    out = []
    for d in dirs:
        if not os.path.isdir(d):
            fail(f"missing source directory {os.path.relpath(d, root)}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, build_dir, with_tests):
    srcs = sources(root, with_tests)
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    classes = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    # classes of other source trees are stale; drop them
    if os.path.isdir(build_dir):
        for d in os.listdir(build_dir):
            if d.startswith("classes-"):
                shutil.rmtree(os.path.join(build_dir, d), ignore_errors=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(SPARK_JARS, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp] + srcs
    print(f"varbench: compiling {len(srcs)} sources", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    os.rename(tmp, classes)
    return classes


def java_cmd(classes, scratch, main, args):
    opens = []
    for p in ADD_OPENS:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return (["java"] + opens + [
        "-Xmx3g", "-XX:ReservedCodeCacheSize=256m", "-XX:-UsePerfData",
        "-Dfile.encoding=UTF-8",
        f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", f"{classes}{os.pathsep}{os.path.join(SPARK_JARS, '*')}",
        main] + args)


def run(cmd, timeout):
    """Run in its own process group; kill the whole group on timeout.
    Spark binds to the loopback interface unless told otherwise."""
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    proc = subprocess.Popen(cmd, start_new_session=True, env=env)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"timed out after {timeout} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    # a SIGTERM to the runner still stops the JVM (see `run`'s finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and a.workload is None:
        fail("--workload is required")

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("run from the repository root (src/main/scala not found)")
    if shutil.which("java") is None or not os.path.isdir(SPARK_JARS):
        fail("needs java on PATH and Spark's jars ($SPARK_HOME, build.sbt's unmanagedBase, or spark-submit)")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = build(root, build_dir, a.self_test)

    scratch = os.path.join(build_dir, "scratch")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    # one core stays free for the JIT compiler and GC threads, which
    # otherwise preempt task threads and make timings jumpy
    cores = max(1, (len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()) - 1)
    common = ["--root", root, "--scratch", scratch, "--out", os.path.join(build_dir, "traces"),
              "--cores", str(cores), "--python", sys.executable]
    try:
        if a.self_test:
            code = run(java_cmd(classes, scratch, "varbench.SelfTest", common), 900)
        else:
            code = run(java_cmd(classes, scratch, "varbench.Main", [
                "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)] + common), 175)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
