#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's own Scala sources (perfbench/src) into .bench_build/classes,
with the Scala compiler that ships with the Spark distribution.

Usage: python3 perfbench/build.py   (from the repo root; no-op when the
sources are unchanged since the last build)
"""
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "perfbench", "src")]


def spark_jars():
    """The Spark jars directory: $SPARK_HOME/jars, else the repo build's
    `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    sys.exit("perfbench: cannot locate the Spark jars (set SPARK_HOME)")


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            sys.exit(f"perfbench: missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp_file = os.path.join(BUILD, "classes.stamp")
    stamp = h.hexdigest()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return CLASSES
    os.makedirs(BUILD, exist_ok=True)
    tmp = CLASSES + ".tmp"
    subprocess.run(["rm", "-rf", tmp], check=True)
    os.makedirs(tmp)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars(), "*")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp, "@" + args_file],
                       stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        sys.exit("perfbench: compilation failed")
    subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return CLASSES


if __name__ == "__main__":
    print(build())
