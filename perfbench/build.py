#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's own Scala sources (perfbench/src) with the Scala compiler that
ships in Spark's jar directory, into <checkout>/.bench_build/classes.

    python3 perfbench/build.py            # from the checkout root

A stamp over every source file's path and content skips the compile when
nothing changed since the last build in this checkout.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def spark_home():
    """$SPARK_HOME, else the first spark-submit on PATH whose installation
    ships the Scala compiler in its jars/ directory."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.realpath(d))
        if os.path.exists(os.path.join(d, "spark-submit")) and \
                glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return home
    raise SystemExit("no Spark installation with a Scala compiler: set SPARK_HOME")


SPARK_JARS = os.path.join(spark_home(), "jars")
BUILD_DIR = ".bench_build"
SCALA_DIRS = ["src/main/scala", "perfbench/src"]


def jars():
    found = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not found:
        raise SystemExit(f"no Spark jars under {SPARK_JARS}")
    return found


def sources(root):
    out = []
    for d in SCALA_DIRS:
        for dirpath, _, files in os.walk(os.path.join(root, d)):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root="."):
    """Compile if needed; returns the classes directory."""
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, "src/main/scala")) for s in srcs):
        raise SystemExit("no engine sources under src/main/scala: run from a checkout root")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(root, BUILD_DIR, "classes")
    stamp_file = os.path.join(root, BUILD_DIR, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    all_jars = jars()
    compiler = [j for j in all_jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    args_file = os.path.join(root, BUILD_DIR, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(["-nowarn", "-d", out, "-classpath", ":".join(all_jars)] + srcs))
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler),
                        "scala.tools.nsc.Main", "@" + args_file],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("scalac failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


if __name__ == "__main__":
    print(build())
