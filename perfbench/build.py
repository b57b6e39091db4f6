#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine and the harness.

Compiles ``src/main/scala`` (the engine) together with
``perfbench/harness`` into ``.bench_build/classes`` at the repository
root, next to a copy of ``src/main/resources``.  The compiler is the
Scala compiler that ships in Spark's jar directory (``$SPARK_HOME/jars``,
or the ``jars`` directory beside the ``spark-submit`` on the PATH), the
same jars the engine's own build compiles against.  A stamp over every source file
skips the compile when nothing changed.

    python3 perfbench/build.py      # build (or confirm up to date)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


def _spark_home():
    home = os.environ.get("SPARK_HOME")
    if home:
        return home
    submit = shutil.which("spark-submit")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""


SPARK_JARS = os.path.join(_spark_home(), "jars")


class BuildError(Exception):
    pass


RESOURCES = os.path.join(ROOT, "src/main/resources")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise BuildError("no engine sources under src/main/scala")
    harness = sorted(glob.glob(os.path.join(HERE, "harness/**/*.scala"), recursive=True))
    return engine + harness


def resources():
    return sorted(f for f in glob.glob(os.path.join(RESOURCES, "**"), recursive=True)
                  if os.path.isfile(f))


def stamp(files):
    h = hashlib.sha256(SPARK_JARS.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return [CLASSES, os.path.join(SPARK_JARS, "*")]


def ensure(log=sys.stderr):
    """Compile unless the classes match the sources; return the classpath."""
    if not os.path.isdir(SPARK_JARS):
        raise BuildError(f"Spark jars not found at {SPARK_JARS}")
    files = sources()
    want = stamp(files + resources())
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classpath()
    staging = CLASSES + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    jars = os.path.join(SPARK_JARS, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", staging, "-classpath", jars, "@" + argfile]
    print(f"[build] compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac exited {r.returncode}")
    for f in resources():
        dst = os.path.join(staging, os.path.relpath(f, RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(os.path.join(staging, ".stamp"), "w") as fh:
        fh.write(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.replace(staging, CLASSES)
    return classpath()


if __name__ == "__main__":
    try:
        ensure()
    except BuildError as e:
        print(f"[build] failed: {e}", file=sys.stderr)
        sys.exit(1)
