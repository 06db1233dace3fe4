#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (src/main/scala) and
the benchmark program (perfbench/scala) with the Scala compiler that ships
in the Spark jars build.sbt builds against, into .bench_build/classes-<hash>.

    python3 perfbench/build.py        # prints the classes directory

The output directory is keyed by a hash of every source file, so an
unchanged checkout builds once and a changed one rebuilds.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"

SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory the library builds against: the
    `unmanagedBase` that build.sbt names."""
    sbt = ROOT / "build.sbt"
    m = sbt.is_file() and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m:
        raise BuildError("build.sbt names no unmanagedBase jar directory")
    return Path(m.group(1))


def classpath(classes):
    return f"{classes}{os.pathsep}{spark_jars()}/*"


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not d.is_dir():
            raise BuildError(f"missing source directory {d.relative_to(ROOT)}")
        files += sorted(d.rglob("*.scala"))
    if not any(str(f).startswith(str(SOURCE_DIRS[0])) for f in files):
        raise BuildError("no library sources under src/main/scala")
    return files


def ensure():
    """Return the classes directory for the current sources, compiling
    them first if this checkout has not built them yet."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if out.is_dir():
        return out
    jars = spark_jars()
    if not jars.is_dir():
        raise BuildError(f"Spark jars not found at {jars}")
    tmp = BUILD / f"tmp-classes-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-classpath", str(tmp),
           "-d", str(tmp)] + [str(f) for f in files]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited with {r.returncode}")
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp.rename(out)
    return out


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
