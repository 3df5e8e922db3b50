#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the engine's Scala sources (src/main/scala) together with the
benchmark's own (perfbench/src) into .bench_build/classes, with the Scala
compiler that ships in the Spark distribution ($SPARK_HOME/jars). It
rebuilds only when a source file changed, and fails when the engine's
sources are absent.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")
SCALA = ("scala-compiler", "scala-library", "scala-reflect")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("SPARK_HOME must point at a Spark distribution with a jars/ directory")
    return jars


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise BuildError(f"engine sources not found under {os.path.relpath(engine, ROOT)}")
    srcs = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    srcs += sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    return srcs


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    """Compiles when stale; returns the classpath to run with."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return classpath()
    compiler = []
    for name in SCALA:
        found = glob.glob(os.path.join(jars, f"{name}-2.13*.jar"))
        if not found:
            raise BuildError(f"{name} jar not found in {jars}")
        compiler.append(found[0])
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-cp", os.path.join(jars, "*"),
           "@" + argfile]
    print("perfbench: compiling", len(srcs), "sources", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise BuildError("scalac failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return classpath()


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        sys.exit(f"perfbench: {e}")
