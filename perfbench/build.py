#!/usr/bin/env python3
"""Build file of the benchmark harness.

Compiles graft (the repository's src/main/scala) together with the harness
(perfbench/src) into one class directory, with the Scala compiler that
ships in $SPARK_HOME/jars, and records a stamp of the sources so an
unchanged tree is not compiled twice. Usage: python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "graft"
SOURCES = [ROOT / "src" / "main" / "scala", BENCH / "src"]
SCALAC_FLAGS = ["-nowarn", "-deprecation:false"]

# JDK 17 needs these to run Spark outside spark-submit; the same list as
# the repository's build.sbt and org.apache.spark.launcher.JavaModuleOptions
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("build: SPARK_HOME must point at a Spark 4 install with jars/")
    return str(Path(home) / "jars" / "*")


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def source_files():
    files = []
    for d in SOURCES:
        if not d.is_dir():
            raise SystemExit(f"build: source directory {d.relative_to(ROOT)} is missing")
        files += sorted(p for p in d.rglob("*.scala"))
    if not files:
        raise SystemExit("build: no sources")
    return files


def stamp(files):
    h = hashlib.sha256(" ".join(SCALAC_FLAGS).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    return f"{OUT / 'classes'}{os.pathsep}{spark_jars()}"


def build(log=sys.stderr):
    """Compile if the sources changed; returns the source stamp."""
    files = source_files()
    st = stamp(files)
    stamp_file = OUT / "stamp"
    if stamp_file.exists() and stamp_file.read_text() == st:
        return st
    classes = OUT / "classes"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    args_file = OUT / "sources.txt"
    args_file.write_text("\n".join(str(f) for f in files))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", spark_jars(), "scala.tools.nsc.Main",
           *SCALAC_FLAGS, "-d", str(classes), "-classpath", spark_jars(), f"@{args_file}"]
    print(f"[build] compiling {len(files)} sources", file=log)
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=600)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    stamp_file.write_text(st)
    return st


if __name__ == "__main__":
    print(build())
