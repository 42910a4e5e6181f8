"""Build file of the benchmark: compiles the program's sources and the
benchmark's own sources with the Scala compiler that ships with Spark, into
`.bench_build/` at the repository root.

    python3 perfbench/build.py      # from the repository root; prints the class path

A build is kept under a digest of every source file, so an unchanged tree
is built once. Spark is found under $SPARK_HOME, or else beside the first
`bin/spark-submit` on the PATH that has a `jars/` directory next to it.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD_DIR = os.path.join(ROOT, ".bench_build")
PROGRAM_SOURCES = os.path.join("src", "main", "scala")
PROGRAM_RESOURCES = os.path.join("src", "main", "resources")
BENCH_SOURCES = os.path.join("perfbench", "src")


def spark_jars():
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        found = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if found:
            return found
    raise SystemExit("no Spark jars found; set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def _files(top, pattern):
    return sorted(glob.glob(os.path.join(top, "**", pattern), recursive=True))


def sources():
    program = _files(PROGRAM_SOURCES, "*.scala")
    bench = _files(BENCH_SOURCES, "*.scala")
    if not program or not bench:
        raise FileNotFoundError(
            f"no Scala sources under {PROGRAM_SOURCES} and {BENCH_SOURCES}: "
            "run from the root of a full checkout")
    return program + bench


def _plan():
    """(sources, resources, jars, output directory) of the current tree."""
    srcs = sources()
    resources = [f for f in _files(PROGRAM_RESOURCES, "*") if os.path.isfile(f)]
    jars = spark_jars()
    digest = hashlib.sha256()
    for f in srcs + resources:
        digest.update(f.encode() + b"\0")
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    digest.update("\0".join(os.path.basename(j) for j in jars).encode())
    return srcs, resources, jars, os.path.join(BUILD_DIR, "classes-" + digest.hexdigest()[:16])


def is_built():
    return os.path.exists(os.path.join(_plan()[3], ".complete"))


def build():
    """Compiles if needed; returns the class path of program and benchmark."""
    srcs, resources, jars, out = _plan()
    classpath = os.pathsep.join([out] + jars)
    if os.path.exists(os.path.join(out, ".complete")):
        return classpath

    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    print(f"[perfbench] compiling {len(srcs)} Scala files", file=sys.stderr)
    subprocess.run(
        [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
         "-d", tmp] + srcs,
        check=True, stdout=sys.stderr)
    for f in resources:
        dest = os.path.join(tmp, os.path.relpath(f, PROGRAM_RESOURCES))
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.copyfile(f, dest)
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, out)
    return classpath


if __name__ == "__main__":
    print(build())
