#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the library (src/main/scala) together with the benchmark's own
harness (perfbench/src) into .bench_build/classes, using the Scala
compiler that ships in Spark's jars directory ($SPARK_HOME/jars, or the
installation that holds the `spark-submit` on PATH). The build is
skipped when a stamp over every source file and the compiler jar still
matches, so only the first run in a checkout pays for it.

Usage: python3 perfbench/build.py [--force]
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
SOURCE_ROOTS = ["src/main/scala", "perfbench/src"]
LIBRARY_MARKER = "src/main/scala/graft/SparkEntry.scala"


class BuildError(Exception):
    pass


def spark_jars():
    submit = shutil.which("spark-submit")
    home = os.environ.get("SPARK_HOME") or (
        os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else "")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Spark distribution with a Scala compiler in {jars}")
    return jars


def sources(root):
    if not os.path.isfile(os.path.join(root, LIBRARY_MARKER)):
        raise BuildError(f"library sources missing: {LIBRARY_MARKER} not found")
    out = []
    for top in SOURCE_ROOTS:
        for d, _, files in os.walk(os.path.join(root, top)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(root, files, jars):
    h = hashlib.sha256()
    h.update(" ".join(sorted(os.path.basename(p) for p in
                             glob.glob(os.path.join(jars, "scala-*.jar")))).encode())
    for p in files:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root, force=False, log=sys.stderr):
    """Returns the classpath (classes dir + Spark jars) of a current build."""
    jars = spark_jars()
    files = sources(root)
    out = os.path.join(root, BUILD_DIR, "classes")
    stamp_file = os.path.join(root, BUILD_DIR, "classes.stamp")
    want = stamp(root, files, jars)
    cp = f"{out}{os.pathsep}{os.path.join(jars, '*')}"
    if not force and os.path.isfile(stamp_file) and open(stamp_file).read() == want:
        return cp
    # the stamp goes first: a build that fails part-way must not leave an
    # old stamp that vouches for an emptied classes directory
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args_file = os.path.join(root, BUILD_DIR, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(files) + "\n")
    print(f"[perfbench] compiling {len(files)} Scala files", file=log, flush=True)
    r = subprocess.run(
        ["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-nowarn", "-d", out,
         "-classpath", os.path.join(jars, "*"), "@" + args_file],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp


if __name__ == "__main__":
    try:
        print(build(os.getcwd(), force="--force" in sys.argv))
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
