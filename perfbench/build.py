#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's JVM side (perfbench/src) with the Scala compiler that ships in
Spark's jars, into perfbench/.build/classes. Skips the compile when no source
changed since the last build.

Usage, from the repository root: python3 perfbench/build.py
"""
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, ".build", "classes")
STAMP = os.path.join(BENCH, ".build", "stamp")


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else those of the installed pyspark
    (the same set for the same Spark version)."""
    dirs = [os.path.join(os.environ.get("SPARK_HOME", ""), "jars")]
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.origin:
        dirs.append(os.path.join(os.path.dirname(spec.origin), "jars"))
    for jars in dirs:
        if os.path.isdir(jars) and any(f.startswith("scala-compiler") for f in os.listdir(jars)):
            return jars + "/*"
    sys.exit(f"build: no Scala compiler among Spark's jars in {dirs}; set SPARK_HOME")


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
    if not os.path.isdir(roots[0]):
        sys.exit(f"build: engine sources not found at {roots[0]}")
    files = []
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(files)


def build():
    """Compile if needed; returns the classpath to run with."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp = OUT + os.pathsep + jars
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                return cp
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(OUT)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-classpath", jars, "-d", OUT, "-nowarn"] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit(f"build: scalac failed with code {r.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return cp


if __name__ == "__main__":
    print(build())
