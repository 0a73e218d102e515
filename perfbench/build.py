#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine sources
(src/main/scala) together with the benchmark harness (perfbench/src) into
.bench_build/classes with the Scala 2.13 compiler that ships in Spark's jar
directory. No sbt and no dependency resolution: every class the engine
needs is in that jar directory.

The build is keyed on a hash of every source file, so a checkout compiles
once and later runs reuse the classes. Run it directly to build ahead:
    python3 perfbench/build.py
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
CLASSES = BUILD / "classes"
STAMP = BUILD / "classes.stamp"
SCALAC_OPTS = ["-nowarn", "-encoding", "UTF-8"]


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      (ROOT / "build.sbt").read_text())
        if not m:
            raise BuildError("set SPARK_HOME: build.sbt names no jar directory")
        jars = Path(m.group(1))
    if not any(jars.glob("scala-compiler-2.13*.jar")):
        raise BuildError(f"no Scala 2.13 compiler jar under {jars}; "
                         "set SPARK_HOME to a Spark 4 / Scala 2.13 install")
    return jars


def sources() -> list:
    engine = ROOT / "src" / "main" / "scala"
    bench = ROOT / "perfbench" / "src"
    if not engine.is_dir():
        raise BuildError(f"engine sources not found at {engine}: run the "
                         "benchmark from the root of a full checkout")
    return sorted(engine.rglob("*.scala")) + sorted(bench.rglob("*.scala"))


def build() -> Path:
    """Compile if any source changed; return the classes directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(" ".join(SCALAC_OPTS).encode())
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    key = h.hexdigest()
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == key:
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main",
           "-classpath", cp, "-d", str(CLASSES)] + SCALAC_OPTS + [f"@{argfile}"]
    print(f"[build] compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(CLASSES, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    STAMP.write_text(key)
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
