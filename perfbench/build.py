#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the library sources (`src/main/scala`) together with the
benchmark harness (`perfbench/src`) into `.bench_build/classes`, using
the Scala compiler that ships in Spark's jar directory. No sbt, no
dependency resolution: the only classpath is Spark's own jars.

The output is stamped with a digest of every compiled source, so a
second call on unchanged sources returns at once.

Usage: python3 perfbench/build.py      (from the repository root)
Exit code 0 on success; non-zero with the compiler's message otherwise.
"""
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
CLASSES = os.path.join(BUILD_DIR, "classes")
SOURCE_ROOTS = ["src/main/scala", "perfbench/src"]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the first one beside
    a `spark-submit` on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("build: no Spark jar directory; set SPARK_HOME")


def sources():
    out = []
    for root in SOURCE_ROOTS:
        if not os.path.isdir(root):
            raise SystemExit(f"build: source directory {root} is missing; "
                             "run from the root of a full checkout")
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files):
    h = hashlib.sha1()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns (classes dir, source digest), compiling only when needed."""
    files = sources()
    stamp = digest(files)
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return CLASSES, stamp
    jars = spark_jars()
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-deprecation:false", "-d", tmp, "-classpath", cp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return CLASSES, stamp


if __name__ == "__main__":
    classes, stamp = build()
    print(f"built {classes} ({stamp[:12]})")
