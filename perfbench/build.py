#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources together with
the benchmark's own Scala sources into `.bench_build/classes`.

The engine ships no jar of its own, so the benchmark compiles it from the
checkout with the Scala compiler that sits beside Spark's jars
(`scala-compiler_2.13`), the same Scala version `build.sbt` pins. The output
is keyed by a hash of every source file, so a second run in the same
checkout reuses it and an edited source rebuilds.

Usage: python3 perfbench/build.py        (from the root of the checkout)
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BUILD_DIR = Path(".bench_build")
CLASSES = BUILD_DIR / "classes"
BENCH_SRC = Path("perfbench/src")
ENGINE_SRC = Path("src/main/scala")


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """The Spark jar directory: `$SPARK_HOME/jars`, else the `unmanagedBase`
    that the engine's build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = Path("build.sbt")
    if sbt.exists():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildError("no Spark jars: set SPARK_HOME or run from a checkout with build.sbt")


def sources() -> list:
    if not ENGINE_SRC.is_dir() or not Path("build.sbt").exists():
        raise BuildError("run from the root of a checkout of the engine "
                         "(src/main/scala and build.sbt are missing)")
    if not BENCH_SRC.is_dir():
        raise BuildError("perfbench/src is missing")
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def source_hash(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()


def build(quiet: bool = False) -> Path:
    """Compile if the sources changed since the last build; return the
    classes directory."""
    files = sources()
    jars = spark_jars()
    digest = source_hash(files)
    BUILD_DIR.mkdir(exist_ok=True)
    stamp = CLASSES / ".stamp"
    with open(BUILD_DIR / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if stamp.exists() and stamp.read_text() == digest:
            return CLASSES
        out = BUILD_DIR / "classes.tmp"
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir()
        argfile = BUILD_DIR / "sources.txt"
        argfile.write_text("\n".join(str(f) for f in files) + "\n")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
               "-d", str(out), f"@{argfile}"]
        if not quiet:
            print(f"perfbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            raise BuildError("scalac failed:\n" + r.stdout[-6000:])
        (out / ".stamp").write_text(digest)
        shutil.rmtree(CLASSES, ignore_errors=True)
        out.rename(CLASSES)
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
