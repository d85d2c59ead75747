#!/usr/bin/env python3
"""Build the program and the benchmark into .bench_build/perfbench/classes.

Compiles src/main/scala (the program) together with perfbench/src (the
benchmark's workloads, queue stub and probes) with the Scala compiler that
ships in Spark's jar directory, so no build server or dependency resolver
runs. A stamp of the sources' hash skips the compile when nothing changed.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "perfbench", "src")]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars) or not any(f.startswith("scala-compiler") for f in os.listdir(jars)):
        raise BuildError(f"no Spark jar directory with a Scala compiler (looked at '{jars}'; set SPARK_HOME)")
    return jars


def sources():
    found = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    if not found:
        raise BuildError("no Scala sources found")
    return sorted(found)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compiles if needed; returns the runtime classpath."""
    jars = spark_jars()
    files = sources()
    stamp = digest(files)
    classpath = f"{CLASSES}{os.pathsep}{os.path.join(jars, '*')}"
    if os.path.isfile(STAMP) and open(STAMP).read().strip() == stamp:
        return classpath
    os.makedirs(OUT, exist_ok=True)
    if os.path.isdir(CLASSES):
        subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    t0 = time.time()
    print(f"perfbench: compiling {len(files)} Scala files", file=log, flush=True)
    proc = subprocess.run(
        ["java", "-Xss4m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT}",
         "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
         "-nowarn", "-d", CLASSES, "-classpath", os.path.join(jars, "*"), "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("compile failed:\n" + proc.stdout[-4000:])
    with open(STAMP, "w") as fh:
        fh.write(stamp + "\n")
    print(f"perfbench: compiled in {time.time() - t0:.1f} s", file=log, flush=True)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
