#!/usr/bin/env python3
"""Build the program and the benchmark harness from source.

    python3 perfbench/build.py

Compiles the repo's main sources (src/main/scala) together with the
harness (perfbench/src) in one scalac run against the Spark jars, the
same classpath the repo's build.sbt declares. Output goes to
perfbench/.build/<source hash>/, so an unchanged tree is built once.
Spark's jar directory is $SPARK_HOME/jars, else build.sbt's unmanagedBase.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, ".build")

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
          "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
          "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
JVM_FLAGS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in _OPENS] + ["-Xmx3g"]


def digest_text(s):
    return hashlib.sha1(s.encode()).hexdigest()[:16]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise RuntimeError("no Spark jars: set SPARK_HOME or keep build.sbt's unmanagedBase")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not prog:
        raise RuntimeError("no program sources under src/main/scala")
    return prog + sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))


def build():
    """Return (classpath, build dir), compiling if the sources changed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha1(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(OUT, h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    classpath = f"{classes}{os.pathsep}{os.path.join(jars, '*')}"
    if os.path.exists(os.path.join(out, "ok")):
        return classpath, out
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(classes)
    print(f"[bench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", classes, *srcs],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise RuntimeError(f"scalac failed:\n{r.stdout[-4000:]}")
    open(os.path.join(out, "ok"), "w").close()
    return classpath, out


if __name__ == "__main__":
    print(build()[0])
