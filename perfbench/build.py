#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main) together with
the benchmark sources (perfbench/src) into one class directory.

It calls the Scala compiler that ships with the Spark distribution
($SPARK_HOME/jars holds scala-compiler), then javac for the engine's Java
sources, so the build needs no network and writes only under
<root>/.bench_build/perfbench. A stamp over every source file's path, size
and content skips the build when nothing changed.

    python3 perfbench/build.py            # build if stale, print class dir
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BuildError("SPARK_HOME is not set; the build needs $SPARK_HOME/jars")
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars) or not any(
            f.startswith("scala-compiler") for f in os.listdir(jars)):
        raise BuildError(f"no scala-compiler jar under {jars}")
    return jars


def sources():
    found = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files
                      if f.endswith(".scala") or f.endswith(".java")]
    if not any(p.startswith(SOURCE_DIRS[0]) and p.endswith(".scala") for p in found):
        raise BuildError("src/main holds no Scala sources")
    return sorted(found)


def stamp(files, jars):
    h = hashlib.sha256(jars.encode())
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Returns (classes_dir, classpath) and builds when stale."""
    jars = spark_jars()
    files = sources()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    want = stamp(files, jars)
    cp = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classes, cp
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(classes)
    java_files = [f for f in files if f.endswith(".java")]
    jar_cp = os.path.join(jars, "*")
    # scalac reads the Java sources for their signatures; javac then
    # compiles them against the Scala classes
    run(["java", "-Xmx2g", "-Xss8m", "-cp", jar_cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", jar_cp] + files)
    if java_files:
        run(["javac", "-nowarn", "-d", classes, "-cp", cp] + java_files)
    with open(stamp_file, "w") as f:
        f.write(want)
    return classes, cp


def run(cmd):
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise BuildError(f"{cmd[0]} exited with {r.returncode}")


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.stderr.write(f"build failed: {e}\n")
        sys.exit(1)
