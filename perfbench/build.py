#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the library (src/main/scala, src/main/resources) together with the
harness (perfbench/src) into .bench_build/perfbench/classes, using the Scala
compiler and the jars that ship in $SPARK_HOME/jars. Nothing is fetched and
nothing is written outside the checkout. A build is skipped when the source
fingerprint matches the one stamped by the last build.

    python3 perfbench/build.py        # build (or confirm up to date)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "perfbench"
CLASSES = OUT / "classes"
STAMP = OUT / "classes.fingerprint"
LIB_SCALA = ROOT / "src" / "main" / "scala"
LIB_RESOURCES = ROOT / "src" / "main" / "resources"
HARNESS = BENCH / "src"
SOURCE_DIRS = [LIB_SCALA, LIB_RESOURCES, HARNESS]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home:
        raise BuildError("SPARK_HOME is not set and spark-submit is not on PATH; "
                         "the build needs the Spark jars and their Scala compiler")
    jars = sorted(str(p) for p in (Path(home) / "jars").glob("*.jar"))
    if not any("scala-compiler" in j for j in jars):
        raise BuildError(f"no scala-compiler jar under {home}/jars")
    return jars


def check_sources():
    missing = [str(d.relative_to(ROOT)) for d in (LIB_SCALA, HARNESS) if not d.is_dir()]
    if missing:
        raise BuildError("not a checkout of the library: missing " + ", ".join(missing))


def files(d):
    return sorted(p for p in d.rglob("*") if p.is_file()) if d.is_dir() else []


def fingerprint():
    h = hashlib.sha256()
    for d in SOURCE_DIRS:
        for p in files(d):
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    return os.pathsep.join([str(CLASSES)] + spark_jars())


def build(log=sys.stderr):
    """Compile if the sources changed since the last build; return the
    run-time classpath."""
    check_sources()
    jars = spark_jars()
    fp = fingerprint()
    if STAMP.is_file() and STAMP.read_text().strip() == fp and CLASSES.is_dir():
        return classpath()
    print("perfbench: compiling library and harness", file=log, flush=True)
    staging = OUT / "classes.building"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    sources = [str(p) for d in (LIB_SCALA, HARNESS) for p in files(d) if p.suffix == ".scala"]
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(sources) + "\n")
    jar_cp = os.pathsep.join(jars)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jar_cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", jar_cp, "-d", str(staging), "@" + str(argfile)]
    res = subprocess.run(cmd, stdout=log, stderr=log)
    if res.returncode != 0:
        raise BuildError(f"scalac exited with {res.returncode}")
    for p in files(LIB_RESOURCES):
        dest = staging / p.relative_to(LIB_RESOURCES)
        dest.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dest)
    shutil.rmtree(CLASSES, ignore_errors=True)
    staging.rename(CLASSES)
    STAMP.write_text(fp + "\n")
    return classpath()


if __name__ == "__main__":
    try:
        build(log=sys.stdout)
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
    print("perfbench build: up to date")
