#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the harness (`perfbench/scala`) with the
Scala compiler that ships in Spark's jars (`$SPARK_HOME/jars`), into
`.bench_build/classes-<source digest>/`. The classes are reused until a
source changes.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def spark_home():
    """$SPARK_HOME, else the installation the `spark-submit` on the PATH
    belongs to."""
    submit = shutil.which("spark-submit")
    return os.environ.get("SPARK_HOME") or (
        os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else "")


SPARK_JARS = os.path.join(spark_home(), "jars")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(f"error: {msg}")
    sys.exit(2)


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not prog:
        die("no program sources under src/main/scala: run from the root of "
            "a full checkout")
    return prog + sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"),
                                   recursive=True))


def build():
    """The classes directory, compiled now if no build of these exact
    sources exists."""
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    classes = os.path.join(BUILD, f"classes-{digest.hexdigest()[:16]}")
    if os.path.exists(os.path.join(classes, ".ok")):
        return classes
    compiler = [glob.glob(os.path.join(SPARK_JARS, f"scala-{m}-2.13.*.jar"))
                for m in ("compiler", "library", "reflect")]
    if not all(compiler):
        die(f"no Scala 2.13 compiler jars in '{SPARK_JARS}': set SPARK_HOME")
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    t0 = time.time()
    log(f"compiling {len(srcs)} sources")
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
         "-cp", ":".join(c[0] for c in compiler),
         "scala.tools.nsc.Main", "-nowarn", "-classpath",
         os.path.join(SPARK_JARS, "*"), "-d", tmp, "@" + argfile],
        capture_output=True, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        die("compilation failed")
    os.rename(tmp, classes)
    open(os.path.join(classes, ".ok"), "w").close()
    log(f"compiled in {time.time() - t0:.1f} s")
    return classes


if __name__ == "__main__":
    print(build())
