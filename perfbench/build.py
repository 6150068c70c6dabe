#!/usr/bin/env python3
"""Compile graft (src/main/scala) and the benchmark (perfbench/src) with the
Scala compiler that ships in Spark's jar directory.

    python3 perfbench/build.py [BUILD_DIR]

BUILD_DIR defaults to $CARGO_TARGET_DIR, else .bench_build, relative to the
repository root. Classes land in BUILD_DIR/classes; a stamp of every source
file lets an unchanged tree skip the compile.
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one next to spark-submit."""
    submit = shutil.which("spark-submit")
    homes = [os.environ.get("SPARK_HOME", "")]
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        d = os.path.join(home, "jars")
        if glob.glob(os.path.join(d, "spark-sql_*.jar")) and glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    sys.exit("perfbench: no Spark jar directory with a Scala compiler (set SPARK_HOME)")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not lib:
        sys.exit("perfbench: graft sources (src/main/scala) not found next to perfbench/")
    return lib + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def build(out=None):
    """Return the classes directory, compiling first when a source changed."""
    out = out or build_dir()
    jars = spark_jars()
    srcs = sources()
    os.makedirs(out, exist_ok=True)
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return classes
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cp = os.path.join(jars, "*")
        print(f"perfbench: compiling {len(srcs)} sources into {classes}", file=sys.stderr)
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-classpath", cp, "-d", tmp, "@" + argfile],
            stdout=sys.stderr, timeout=840)
        if r.returncode != 0:
            sys.exit(f"perfbench: compile failed ({r.returncode})")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else None))
