"""Build file of the benchmark: compiles the program (``src/main/scala``)
together with the benchmark's JVM harness (``perfbench/src``) in one
plain ``scalac`` run, against the Spark jars the program's own build
uses (``$SPARK_HOME/jars``).  No sbt, so nothing is written outside the
build directory.

    python3 perfbench/build.py            # builds into .bench_build/
    CARGO_TARGET_DIR=out python3 perfbench/build.py

A stamp (SHA-256 over every source path and its bytes) skips the compile
when nothing changed.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit("Spark jars not found: set SPARK_HOME")
    return jars


def sources():
    found = []
    for d in SOURCE_DIRS:
        found += glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True)
    if not any("/src/main/scala/" in f for f in found):
        raise SystemExit(f"no program sources under {ROOT}/src/main/scala")
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Runtime classpath: compiled classes, then every Spark jar."""
    return os.path.join(build_dir(), "classes") + os.pathsep + \
        os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    files = sources()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    want = stamp(files)
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return out
    jars = spark_jars()
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.13*.jar"))
                for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise SystemExit(f"scala compiler jars not found in {jars}")
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp",
           os.pathsep.join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"compile failed ({r.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return out


if __name__ == "__main__":
    print(build())
