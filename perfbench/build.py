#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala` at the
repo root) together with the harness (`perfbench/harness`) into
`perfbench/.build/classes`.

The Scala compiler ships inside Spark's own jars, so the build needs only a
JDK and a Spark distribution: `$SPARK_HOME`, or the one `spark-submit` on
PATH belongs to. The build is skipped when the sources are unchanged since
the last one (a digest of their paths and contents is kept beside the
classes).

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("no Spark distribution found: set SPARK_HOME")
    return jars


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise BuildError(f"engine sources not found at {os.path.relpath(engine)}")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    return files + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def classpath():
    return os.pathsep.join([CLASSES, os.path.join(spark_jars(), "*")])


def build(log=sys.stderr):
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(BUILD, "sources.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return
    jars = spark_jars()
    compiler = [glob.glob(os.path.join(jars, f"scala-{p}-2.*.jar")) for p in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError(f"no Scala compiler jars in {jars}")
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    staging = CLASSES + ".new"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", staging] + files
    done = subprocess.run(cmd, stdout=log, stderr=log)
    if done.returncode != 0:
        raise BuildError(f"scalac exited with {done.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(staging, CLASSES)
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
