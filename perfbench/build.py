#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the harness (perfbench/harness) with the Scala compiler that ships in the
Spark distribution, into <build_dir>/classes.

Usage: python3 perfbench/build.py [build_dir]      (default .bench_build)

Run from the repository root. The build is skipped when the sources are
unchanged since the last one (a content hash is kept next to the
classes). The Spark jars come from $SPARK_HOME/jars (default /opt/spark,
the same directory build.sbt uses as its unmanaged base).
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
HARNESS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "harness")


def sources():
    prog = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not prog:
        raise SystemExit("perfbench: no program sources under src/main/scala "
                         "(run from the repository root)")
    return prog + sorted(glob.glob(os.path.join(HARNESS, "*.scala")))


def classpath():
    return os.path.join(SPARK_JARS, "*")


def build(build_dir=".bench_build"):
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.sha256")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    # no perf-data file: the JVM would write it under /tmp
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", classpath(),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-cp", classpath()] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit(f"perfbench: compile failed (exit {r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build(*sys.argv[1:]))
