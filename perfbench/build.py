#!/usr/bin/env python3
"""Compile the program (src/main/scala) and the benchmark harness
(perfbench/src) into one class directory, with the Scala compiler that
ships among the Spark jars.

    python3 perfbench/build.py        # prints the class directory

The output lands in .bench_build/classes-<hash> under the checkout
root, keyed by a hash of every source file, so an unchanged tree is
not rebuilt. Exits non-zero when the program's sources are missing.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the sbt build declares
    (`unmanagedBase := file("...")` in build.sbt)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    return m.group(1) if m else ""


SPARK_JARS = spark_jars()


def sources():
    out = []
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Return (class dir, source hash), compiling when needed."""
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala")):
        sys.exit("perfbench: no program sources (src/main/scala) next to perfbench/")
    if not os.path.isdir(SPARK_JARS):
        sys.exit(f"perfbench: Spark jars not found (set SPARK_HOME): '{SPARK_JARS}'")
    files = sources()
    digest = source_hash(files)
    out = os.path.join(BUILD, f"classes-{digest}")
    if os.path.exists(os.path.join(out, ".ok")):
        return out, digest
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"perfbench: compile failed ({r.returncode})")
    open(os.path.join(out, ".ok"), "w").close()
    for old in os.listdir(BUILD):
        if old.startswith("classes-") and old != os.path.basename(out):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    return out, digest


if __name__ == "__main__":
    print(build()[0])
