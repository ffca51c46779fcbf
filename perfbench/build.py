#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's sources together with
the harness under perfbench/scala into <checkout>/.bench_build/classes.

It calls the Scala compiler that ships among the Spark jars (the same
jar directory build.sbt compiles against), so a build writes nothing
outside the checkout. A stamp over the sources and the jar list skips
the compile when nothing changed.

Usage: python3 perfbench/build.py    (from the root of the checkout)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]


def spark_jars():
    """The jar directory build.sbt names as `unmanagedBase`, else
    $SPARK_HOME/jars."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  (ROOT / "build.sbt").read_text())
    d = Path(m.group(1)) if m else Path(os.environ.get("SPARK_HOME", "")) / "jars"
    jars = sorted(d.glob("*.jar"))
    if not jars:
        raise SystemExit(f"build: no Spark jars found in {d}")
    return jars


def sources():
    missing = [d for d in SOURCE_DIRS if not d.is_dir()]
    if missing:
        raise SystemExit(f"build: source directory missing: {missing[0]}")
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def jvm_opens():
    """The --add-opens flags build.sbt passes to forked runs (Spark on
    JDK 17 outside spark-submit)."""
    pkgs = re.findall(r'"(java\.base/[a-z.]+)"', (ROOT / "build.sbt").read_text())
    return [a for p in pkgs for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def source_stamp():
    """sha256 over the paths and contents of every compiled source."""
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile if needed; return the runtime classpath string."""
    srcs = sources()
    jars = spark_jars()
    cp = ":".join(str(j) for j in jars)
    stamp = hashlib.sha256((source_stamp() + cp).encode()).hexdigest()
    stamp_file = OUT / "classes.stamp"
    if not (stamp_file.exists() and stamp_file.read_text() == stamp):
        tmp = OUT / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        print(f"build: compiling {len(srcs)} Scala files", file=sys.stderr)
        subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-d", str(tmp), "-classpath", cp] + [str(s) for s in srcs],
            check=True, stdout=sys.stderr)
        shutil.rmtree(CLASSES, ignore_errors=True)
        tmp.rename(CLASSES)
        stamp_file.write_text(stamp)
    return f"{CLASSES}:{cp}"


if __name__ == "__main__":
    build()
