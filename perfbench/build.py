#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark harness (perfbench/src) with the Scala compiler that ships in the
Spark distribution at $SPARK_HOME/jars, the same jars the program's sbt
build compiles against. Output goes to .bench_build/classes; a stamp over
the sources skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
SOURCES = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
RESOURCES = ROOT / "src" / "main" / "resources"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        sys.exit("build: SPARK_HOME must point at a Spark distribution with jars/")
    return str(Path(home) / "jars" / "*")


def classpath():
    """Runtime classpath of the built program and harness."""
    return os.pathsep.join([str(OUT / "classes"), str(RESOURCES), spark_jars()])


def build():
    jars = spark_jars()
    missing = [str(d) for d in SOURCES + [RESOURCES] if not d.is_dir()]
    if missing:
        sys.exit("build: missing source directories: " + ", ".join(missing))
    files = sorted(p for d in SOURCES for p in d.rglob("*.scala"))
    digest = hashlib.sha256()
    for p in files:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = OUT / "classes.stamp"
    if stamp.exists() and stamp.read_text() == digest.hexdigest():
        return
    classes = OUT / "classes"
    if classes.exists():
        subprocess.run(["rm", "-rf", str(classes)], check=True)
    classes.mkdir(parents=True)
    args = OUT / "scalac.args"
    args.write_text("\n".join(str(p) for p in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", jars, "@" + str(args)]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        sys.exit("build: compile failed")
    stamp.write_text(digest.hexdigest())


if __name__ == "__main__":
    build()
