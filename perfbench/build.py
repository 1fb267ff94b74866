#!/usr/bin/env python3
"""Builds the program and the benchmark harness from source.

Compiles every Scala file under `src/main/scala` together with
`perfbench/harness/*.scala` into `.bench_build/classes`, using the Scala
compiler that ships in the Spark distribution the repo's `build.sbt` names
as `unmanagedBase`. A stamp of the sources' contents skips the compile when
nothing changed. Usage: python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        d = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = sbt.is_file() and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if not m:
            raise BuildError("no Spark jar directory: set SPARK_HOME or keep unmanagedBase in build.sbt")
        d = Path(m.group(1))
    if not d.is_dir():
        raise BuildError(f"Spark jar directory {d} not found")
    return d


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"program sources {main} not found")
    return sorted(main.rglob("*.scala")) + sorted((HERE / "harness").glob("*.scala"))


def classpath():
    return f"{CLASSES}{os.pathsep}{spark_jars()}/*"


def build():
    """Compiles if the sources changed since the last build; returns the classpath."""
    srcs = sources()
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    stamp = BUILD / "classes.stamp"
    if stamp.is_file() and stamp.read_text() == digest.hexdigest() and CLASSES.is_dir():
        return classpath()
    jars = spark_jars()
    compiler = [next(iter(sorted(jars.glob(f"{n}-2.*.jar"))), None)
                for n in ("scala-compiler", "scala-library", "scala-reflect")]
    if None in compiler:
        raise BuildError(f"no Scala compiler jars in {jars}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(map(str, compiler)), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(CLASSES), "-classpath", f"{jars}/*", f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    stamp.write_text(digest.hexdigest())
    return classpath()


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build: {e}")
