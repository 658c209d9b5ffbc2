#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine sources (`src/main/scala` of the checkout) together
with the benchmark's own sources (`perfbench/src`) into
`perfbench/.build/classes` with the Scala compiler that ships in the
Spark distribution's jar directory (the one the engine's build.sbt uses),
and packs them with the engine's resources into `perfbench/.build/bench.jar`
(a jar, so the JVM's class-data archive can hold them; see run.py).
No build tool, no dependency resolution: the classpath is exactly the
Spark jars.

A stamp over every source file's path, size and content hash makes a
second call a no-op until a source changes.

    python3 perfbench/build.py          # build if stale, print classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "bench.jar")
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")
STAMP = os.path.join(BUILD, "stamp")


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    directory the engine's own build.sbt takes its jars from (unmanagedBase).
    """
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(sbt).read()) if os.path.exists(sbt) else None
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"build: no Spark jars found (set SPARK_HOME); tried '{jars}'")
    return jars


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"build: engine sources not found at {ENGINE_SRC}")
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            h.update(f.encode() + b"\0" + hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return os.pathsep.join([JAR, os.path.join(spark_jars(), "*")])


def build(quiet=False):
    """Compile when the stamp is stale; return the runtime classpath."""
    files = sources()
    want = stamp_of(files)
    if os.path.exists(STAMP) and os.path.exists(JAR) and open(STAMP).read() == want:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    for f in (STAMP, JAR, CDS_ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    os.makedirs(CLASSES)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jars] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit("build: scalac failed")
    res = ["-C", ENGINE_RES, "."] if os.path.isdir(ENGINE_RES) else []
    r = subprocess.run(["jar", "--create", "--file", JAR, "-C", CLASSES, "."] + res,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-5000:])
        raise SystemExit("build: jar failed")
    if not quiet:
        sys.stderr.write(f"build: compiled {len(files)} sources\n")
    with open(STAMP, "w") as fh:
        fh.write(want)
    return classpath()


if __name__ == "__main__":
    print(build())
