#!/usr/bin/env python3
"""Compile the graft sources plus the benchmark's own sources into
`.bench_build/classes` with the Scala compiler that ships in the Spark jar
directory (no sbt, no dependency resolution), the same jars the sbt build
compiles against.

Run from the repository root: `python3 perfbench/build.py`. Rebuilds only
when a source file changed (content hash stamp). Exits nonzero when the
program sources are missing or do not compile.
"""
import hashlib
import os
import shutil
import subprocess
import sys

PROGRAM_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")


def build_dir():
    return os.environ.get("CARGO_TARGET_DIR") or ".bench_build"


def spark_jars():
    """`$SPARK_HOME/jars`, else the jars of the installed pyspark package."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            home = ""
    jars = os.path.join(home, "jars")
    if not home or not os.path.isdir(jars):
        sys.exit("perfbench: Spark jars not found (set SPARK_HOME)")
    return jars


def sources():
    out = []
    for root in (PROGRAM_SRC, BENCH_SRC):
        if not os.path.isdir(root):
            sys.exit(f"perfbench: {root} not found; run from the repository root")
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Returns the classes directory, compiling first if it is stale."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.abspath(build_dir())}",
           "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        sys.exit("perfbench: compilation failed")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build())
