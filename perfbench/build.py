#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the library (`src/main/scala`) together with the benchmark's own
Scala sources (`perfbench/src`) into `.bench_build/perfbench/classes` with
the Scala compiler that ships among the Spark jars, so a fresh checkout needs
no dependency resolution. A stamp over every source file's path and content
skips the compile when nothing changed.

Usage, from the repository root:

    python3 perfbench/build.py            # build if stale, print the classes dir
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build/perfbench"
LIB_SRC = "src/main/scala"
BENCH_SRC = "perfbench/src"
COMPILE_TIMEOUT_S = 800


class BuildError(Exception):
    pass


def spark_jars_dir():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one next to `spark-submit` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on the PATH")
    return os.path.join(home, "jars")


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    java = shutil.which("java")
    if not java:
        raise BuildError("no java on the PATH and JAVA_HOME unset")
    return java


def classpath(jars):
    return os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))


def sources():
    found = []
    for root in (LIB_SRC, BENCH_SRC):
        if not os.path.isdir(root):
            raise BuildError(f"missing source directory {root}: run from the repository root")
        for d, _, files in os.walk(root):
            found.extend(os.path.join(d, f) for f in files if f.endswith(".scala"))
    return sorted(found)


def stamp(srcs, jars):
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(classpath(jars).encode())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if stale; return the classes directory."""
    jars = spark_jars_dir()
    srcs = sources()
    want = stamp(srcs, jars)
    classes = os.path.join(BUILD_DIR, "classes")
    stamp_file = os.path.join(BUILD_DIR, "STAMP")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                return classes
    os.makedirs(BUILD_DIR, exist_ok=True)
    tmp = os.path.join(BUILD_DIR, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = classpath(jars)
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    cmd = [java_bin(), "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.abspath(BUILD_DIR)}",
           "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              timeout=COMPILE_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        raise BuildError(f"compile did not finish in {COMPILE_TIMEOUT_S} s")
    if proc.returncode != 0:
        raise BuildError("compile failed:\n" + proc.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(want + "\n")
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
