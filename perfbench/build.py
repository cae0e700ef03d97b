#!/usr/bin/env python3
"""Offline build of the program and of the benchmark's own Scala runner.

Compiles `src/main/scala` (the program) and `perfbench/src` (the runner)
with the Scala compiler that ships in the Spark jars directory, into
`.bench_build/` at the checkout root. No sbt, no network. A stamp over
every source file makes a rebuild happen only when a source changed.

    python3 perfbench/build.py        # prints the classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
RUNNER_SRC = os.path.join(HERE, "src")


def spark_jars():
    """`$SPARK_HOME/jars`, else the first `jars` directory beside a
    `bin/spark-submit` on PATH that holds the Spark core jar."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    for d in os.environ.get("PATH", "").split(os.pathsep):
        jars = os.path.join(os.path.dirname(os.path.realpath(d)), "jars")
        if (os.path.exists(os.path.join(d, "spark-submit")) and
                glob.glob(os.path.join(jars, "spark-core_*.jar"))):
            return jars
    return "spark-jars-not-found"


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(spark_jars().encode())
    return h.hexdigest()


def _scalac(out, classpath, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise RuntimeError(f"scalac failed for {out}:\n{r.stdout[-4000:]}")


def classpath():
    """Compile when needed; return the runtime classpath."""
    prog = _sources(PROGRAM_SRC)
    drv = _sources(RUNNER_SRC)
    if not prog:
        raise RuntimeError(f"no program sources under {PROGRAM_SRC}")
    if not drv:
        raise RuntimeError(f"no runner sources under {RUNNER_SRC}")
    if not os.path.isdir(spark_jars()):
        raise RuntimeError(f"Spark jars not found at {spark_jars()}")
    prog_out = os.path.join(BUILD, "classes")
    drv_out = os.path.join(BUILD, "perfbench")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = _stamp(prog + drv)
    have = ""
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            have = fh.read()
    if have != stamp:
        for d in (prog_out, drv_out):
            shutil.rmtree(d, ignore_errors=True)
        jars = os.path.join(spark_jars(), "*")
        _scalac(prog_out, jars, prog)
        _scalac(drv_out, prog_out + os.pathsep + jars, drv)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return os.pathsep.join([drv_out, prog_out, PROGRAM_RES, os.path.join(spark_jars(), "*")])


if __name__ == "__main__":
    try:
        print(classpath())
    except RuntimeError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
