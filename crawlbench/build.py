#!/usr/bin/env python3
"""Build file of the crawl-engine benchmark.

Compiles the library sources (`src/main/scala`) together with the benchmark's
own sources (`crawlbench/scala`) into `.bench_build/classes`, using the Scala
compiler that ships with Spark's jars. No sbt, no network: the classpath is
Spark's jars directory ($SPARK_HOME/jars, else the `unmanagedBase` that the
library's build.sbt declares).

The build is skipped when a stamp over every source file's path and content
matches the last successful build, so only the first run in a checkout pays
for it.

    python3 crawlbench/build.py          # build (or confirm up to date)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "crawlbench", "scala")]


class BuildError(Exception):
    pass


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {os.path.relpath(d, ROOT)}")
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    """$SPARK_HOME/jars, else the `unmanagedBase` the library's build.sbt
    declares: the same jars the library itself builds against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise BuildError("SPARK_HOME unset and build.sbt declares no unmanagedBase")
    return m.group(1)


def compiler_classpath(jars_dir):
    jars = [os.path.join(jars_dir, f"scala-{m}-2.13.17.jar")
            for m in ("compiler", "library", "reflect")]
    missing = [j for j in jars if not os.path.isfile(j)]
    if missing:
        raise BuildError(f"Scala compiler jars not found: {missing}")
    return os.pathsep.join(jars)


def runtime_classpath(jars_dir):
    return os.pathsep.join([CLASSES, os.path.join(jars_dir, "*")])


def build(log=sys.stderr):
    """Compile if the sources changed since the last build; return the
    runtime classpath."""
    files = sources()
    jars_dir = spark_jars()
    stamp = stamp_of(files)
    if os.path.isfile(STAMP) and open(STAMP).read().strip() == stamp \
            and os.path.isdir(CLASSES):
        return runtime_classpath(jars_dir)
    os.makedirs(BUILD, exist_ok=True)
    staging = CLASSES + ".new"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    print(f"[build] compiling {len(files)} Scala files", file=log, flush=True)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", compiler_classpath(jars_dir),
           "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.path.join(jars_dir, "*"),
           "-d", staging, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(staging, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(stamp + "\n")
    return runtime_classpath(jars_dir)


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(1)
