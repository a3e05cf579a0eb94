#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's measuring code (perfbench/src) in one pass of the Scala
compiler that ships in the Spark jar directory, which the project's
build.sbt names as `unmanagedBase` (the `SPARK_JARS` environment variable
overrides it). Output goes to `.bench_build/classes-<hash of every
source>`, so an unchanged tree is never compiled twice.

Usage (from the repository root): python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.exists(sbt):
        fail("build.sbt not found: run from the repository root")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m:
        fail("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src")]
    if not os.path.isdir(roots[0]):
        fail("program sources (src/main/scala) not found")
    files = []
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def build(jars):
    """Compile program + benchmark once per source tree; returns classes dir."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    out = os.path.join(BUILD, f"classes-{h.hexdigest()[:16]}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    os.makedirs(BUILD, exist_ok=True)
    for old in os.listdir(BUILD):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    t = time.time()
    p = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
        + files, capture_output=True, text=True)
    if p.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compile failed:\n" + p.stdout[-4000:] + p.stderr[-4000:])
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.replace(tmp, out)
    print(f"built {len(files)} sources in {time.time() - t:.1f} s")
    return out


if __name__ == "__main__":
    print(build(spark_jars()))
