#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine sources
(src/main/scala) together with the benchmark program (perfbench/src) into
one class directory, with the Scala compiler that ships among the Spark
jars the engine's own build uses. Nothing is fetched; a build is skipped
when the source digest is unchanged.

    python3 perfbench/build.py          # prints the class directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "classes.sha256")


def spark_jars():
    """SPARK_HOME/jars, else the `unmanagedBase` of the engine's build.sbt."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise FileNotFoundError("Spark jars not found: set SPARK_HOME")
    return m.group(1)


def sources():
    """The engine's main sources plus the benchmark's; raises when the engine
    sources are absent (the benchmark is not inside a checkout)."""
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise FileNotFoundError(f"engine sources not found at {engine}")
    out = []
    for base in (engine, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    files = sources()
    want = digest(files)
    if os.path.exists(STAMP) and open(STAMP).read().strip() == want:
        return CLASSES
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise FileNotFoundError(f"Spark jars not found at {jars} (set SPARK_HOME)")
    cp = os.path.join(jars, "*")
    if os.path.exists(STAMP):
        os.remove(STAMP)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise RuntimeError(f"scalac failed with exit code {r.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except (OSError, RuntimeError) as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
