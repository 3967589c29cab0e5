#!/usr/bin/env python3
"""CT-path benchmark entry point.

    python3 ctbench/run.py --workload serve|live --seed N \
        --seconds S --trace 0|1 [--size full|tiny]

Run from the repository root. Builds the repository's main sources and
the benchmark with ctbench/build.sh when they changed since the last
build, then runs one workload in one JVM on Spark local[4]. Human-readable
lines start with '#'; the last line of standard output is one JSON object
with the keys correct, attempted, failed and metrics. Exits non-zero,
without a result line, when the build or the run fails.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")
RUN_TIMEOUT_S = 170


def spark_jars():
    """The Spark 4 / Scala 2.13 jars: $SPARK_JARS, else $SPARK_HOME/jars,
    else the directory the repository's build.sbt names as unmanagedBase."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(os.path.join(ROOT, "build.sbt")).read())
    return m.group(1)


# Spark 4 on JDK 17 outside spark-submit (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def sources():
    files = [os.path.join(HERE, "build.sh")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def digest():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.stderr.write("run.py: no src/main/scala beside the benchmark; nothing to build\n")
        return False
    want = digest()
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return True
    os.makedirs(BUILD, exist_ok=True)
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh")], stdout=sys.stderr,
                       env=dict(os.environ, SPARK_JARS=spark_jars()))
    if r.returncode != 0:
        return False
    with open(STAMP, "w") as fh:
        fh.write(want)
    return True


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=["serve", "live"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, default=0, choices=[0, 1])
    p.add_argument("--size", default="full", choices=["full", "tiny"])
    a = p.parse_args()
    if not build():
        return 2
    work = os.path.join(HERE, ".work", "run-%d" % os.getpid())
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [x for o in ADD_OPENS for x in ("--add-opens", o + "=ALL-UNNAMED")]
           + ["-cp", CLASSES + os.pathsep + os.path.join(spark_jars(), "*"), "ctbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--size", a.size, "--workdir", work])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.stderr.write("run.py: the run exceeded %d s\n" % RUN_TIMEOUT_S)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if not l.startswith('{"correct"'):
            print(l)
    if proc.returncode != 0 or not result:
        sys.stderr.write("run.py: the run failed (exit %d)\n" % proc.returncode)
        return 4
    print(result[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
