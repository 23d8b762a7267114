#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the harness (perfbench/src) with the Scala compiler shipped in Spark's
jar directory, into .bench_build/perfbench/classes.

Usage: python3 perfbench/build.py   (from the repository root)

Prints the runtime classpath. Rebuilds only when a source file changed:
the stamp is a hash over every source path and its contents.
"""
import hashlib
import os
import shutil
import subprocess
import sys

SOURCE_ROOTS = ["src/main/scala", "perfbench/src"]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else beside spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def out_dir():
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(base, "perfbench")


def sources():
    found = []
    for root in SOURCE_ROOTS:
        for d, _, files in os.walk(root):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return os.pathsep.join([os.path.join(out_dir(), "classes"),
                            "perfbench/resources",
                            os.path.join(spark_jars(), "*")])


def build():
    """Compile if stale; return the runtime classpath."""
    if not os.path.isdir("src/main/scala/graft"):
        sys.exit("perfbench: run from the repository root "
                 "(engine sources not found under src/main/scala)")
    files = sources()
    stamp = stamp_of(files)
    stamp_file = os.path.join(out_dir(), "stamp")
    classes = os.path.join(out_dir(), "classes")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath()
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-Ybackend-parallelism", "4", "-d", classes] + files
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath()


if __name__ == "__main__":
    print(build())
