#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the repository's library sources (`src/main/scala`) together with
the harness (`perfbench/src`) in one scalac pass, using the Scala compiler
and Spark jars that ship with the Spark install (`$SPARK_HOME/jars`, or the
first `spark-submit` on the PATH whose install has them). Nothing is downloaded
and no build server is left running. Output goes to `<build dir>/classes`;
a stamp of every input file's content lets later runs skip the compile when
nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        if glob.glob(os.path.join(home, "jars", "scala-compiler-2.13.*.jar")):
            return os.path.join(home, "jars")
    raise SystemExit("build: no Spark install with a Scala 2.13 compiler (set SPARK_HOME)")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"), recursive=True))
    if not lib:
        raise SystemExit("build: no library sources under src/main/scala")
    if not bench:
        raise SystemExit("build: no harness sources under perfbench/src")
    return lib + bench


def compiler_jars():
    jars = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        hits = sorted(glob.glob(os.path.join(spark_jars(), name + "-2.13.*.jar")))
        if not hits:
            raise SystemExit(f"build: {name} jar not found in {spark_jars()}")
        jars.append(hits[-1])
    return jars


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(compiler_jars()).encode())
    return h.hexdigest()


def classpath():
    """Runtime classpath (classes first, then the Spark install)."""
    return os.path.join(build_dir(), "classes") + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    files = sources()
    want = stamp(files)
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler_jars()),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out,
           "-cp", os.path.join(spark_jars(), "*"), "@" + argfile]
    print(f"build: compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, cwd=ROOT, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return out


if __name__ == "__main__":
    build()
