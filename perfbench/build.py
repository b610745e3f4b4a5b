"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's Scala harness
(`perfbench/scala`) into `.bench_build/classes`, with the Scala compiler
that ships among the Spark jars the program itself builds against (the
`unmanagedBase` of build.sbt, or `SPARK_JARS`).

Usage: python3 perfbench/build.py        (from the repository root)

The build is skipped when a stamp of every source's path and content
matches the last successful build.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")


def _build_sbt_jars():
    """The jar directory the program's own build declares
    (`unmanagedBase := file("...")` in build.sbt)."""
    path = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(path):
        return ""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(path).read())
    return m.group(1) if m else ""


SPARK_JARS = os.environ.get("SPARK_JARS") or _build_sbt_jars()
SOURCE_DIRS = (os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "scala"))


def classpath():
    return CLASSES + os.pathsep + os.path.join(SPARK_JARS, "*")


def sources():
    out = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if stale; returns seconds spent (0 when up to date)."""
    files = sources()
    if not any(f.startswith(SOURCE_DIRS[0]) for f in files):
        raise SystemExit(f"no program sources under {SOURCE_DIRS[0]}")
    if not SPARK_JARS or not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"Spark jars not found at '{SPARK_JARS}'; set SPARK_JARS")
    want = stamp(files)
    if os.path.isfile(STAMP) and open(STAMP).read() == want:
        return 0.0
    t0 = time.time()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-classpath", CLASSES, "-nowarn", "-d", CLASSES, "@" + argfile]
    r = subprocess.run(cmd, cwd=ROOT, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"scalac failed with exit code {r.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(want)
    return time.time() - t0


if __name__ == "__main__":
    print(f"build took {build():.1f}s", file=sys.stderr)
