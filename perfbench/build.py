#!/usr/bin/env python3
"""Builds the program and the benchmark harness from source.

Compiles every Scala file under src/main/scala (the program) together with
perfbench/src (the harness) with the Scala compiler that ships in Spark's
jars directory ($SPARK_HOME/jars, else the one build.sbt names), and copies
src/main/resources next to the classes. Output
goes to .bench_build/classes in the checkout; a stamp of the sources'
SHA-256 skips the build when nothing changed.

Usage: python3 perfbench/build.py        (prints the classpath)
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
RESOURCES = ROOT / "src" / "main" / "resources"


def fail(message):
    """Exit code 2: nothing was measured."""
    print(message, file=sys.stderr)
    raise SystemExit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jars directory the repo's build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = (ROOT / "build.sbt").read_text() if (ROOT / "build.sbt").is_file() else ""
    found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not found:
        fail("build: set SPARK_HOME to a Spark installation")
    return Path(found.group(1))


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not d.is_dir():
            fail(f"build: missing source directory {d.relative_to(ROOT)}")
        files += sorted(d.rglob("*.scala"))
    return files


def stamp(files):
    h = hashlib.sha256()
    extra = sorted(RESOURCES.rglob("*")) if RESOURCES.is_dir() else []
    for f in files + [p for p in extra if p.is_file()]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    return f"{CLASSES}:{spark_jars()}/*"


def build():
    """Compiles if the sources changed; returns the source stamp."""
    files = sources()
    digest = stamp(files)
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = CLASSES / ".stamp"
        if stamp_file.is_file() and stamp_file.read_text() == digest:
            return digest
        tmp = BUILD / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir()
        argfile = BUILD / "sources.txt"
        argfile.write_text("\n".join(str(f) for f in files) + "\n")
        cmd = [java(), "-Xss16m", "-Xmx3g", "-XX:-UsePerfData", "-cp", f"{spark_jars()}/*",
               "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
               "-cp", f"{spark_jars()}/*", f"@{argfile}"]
        print(f"build: compiling {len(files)} Scala files", file=sys.stderr)
        done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if done.returncode != 0:
            sys.stderr.write(done.stdout[-20000:])
            fail(f"build: scalac failed with code {done.returncode}")
        if RESOURCES.is_dir():
            shutil.copytree(RESOURCES, tmp, dirs_exist_ok=True)
        (tmp / ".stamp").write_text(digest)
        shutil.rmtree(CLASSES, ignore_errors=True)
        tmp.rename(CLASSES)
        return digest


if __name__ == "__main__":
    build()
    print(classpath())
