#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources (src/main/scala)
together with the benchmark's own (perfbench/scala) with the Scala compiler
that ships in the Spark distribution ($SPARK_HOME/jars, the jars build.sbt
compiles against). No sbt and no network.

The classes go to <build dir>/classes-<hash of all sources>, so an unchanged
tree is compiled once. The build dir is $CARGO_TARGET_DIR if set, else
.bench_build, relative to the checkout root.

Usage: python3 perfbench/build.py     (prints the classes directory)
"""
import glob
import hashlib
import os
import subprocess
import sys

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME") or "/opt/spark", "jars")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "scala")]


class BuildError(Exception):
    pass


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {SPARK_JARS}")
    return jars


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {os.path.relpath(d, ROOT)}")
        for dirpath, _, files in os.walk(d):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    if not any(s.startswith(SOURCE_DIRS[0]) for s in out):
        raise BuildError("no engine sources under src/main/scala")
    return sorted(out)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def build():
    """Returns the classes directory, compiling first if needed."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    os.makedirs(out, exist_ok=True)
    jars = spark_classpath()
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", ":".join(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", ":".join(jars)] + srcs
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    open(os.path.join(out, ".done"), "w").close()
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
