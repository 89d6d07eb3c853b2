#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark client (perfbench/src) with the Scala compiler that ships in the
Spark distribution the repository builds against, into
.bench_build/perfbench/classes.

The build is skipped when the sources are unchanged since the last one (a
hash of every source file is kept next to the classes).

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "classes")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def spark_jars():
    """The Spark jar directory the repository's build.sbt compiles against
    (`unmanagedBase`), else $SPARK_HOME/jars."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
    except (OSError, AttributeError):
        if "SPARK_HOME" not in os.environ:
            sys.exit("perfbench: no unmanagedBase in build.sbt and SPARK_HOME unset")
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"perfbench: no Spark distribution with a Scala compiler at {jars}")
    return os.path.join(jars, "*")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        sys.exit("perfbench: engine sources not found under src/main/scala")
    return engine + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build():
    """Compile if needed; returns the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp_path = os.path.join(BUILD, "classes.stamp")
    stamp = digest.hexdigest()
    if not (os.path.exists(stamp_path) and open(stamp_path).read() == stamp):
        shutil.rmtree(CLASSES, ignore_errors=True)
        tmp = os.path.join(BUILD, "tmp")
        os.makedirs(CLASSES)
        os.makedirs(tmp, exist_ok=True)
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
        subprocess.run(
            ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-cp", jars, "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
             "-classpath", jars, "@" + argfile],
            check=True, stdout=sys.stderr)
        with open(stamp_path, "w") as f:
            f.write(stamp)
    return os.pathsep.join([CLASSES, RESOURCES, jars])


if __name__ == "__main__":
    build()
