#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) and the harness (perfbench/src) into one class
directory with the Scala compiler that ships in Spark's jars.

Usage: build.py [BUILD_DIR]   (default: .bench_build at the repo root)

Prints the class directory. Rebuilds only when a source file changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        sys.exit("build: SPARK_HOME is not set")
    return os.path.join(home, "jars")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not program:
        sys.exit("build: no program sources under src/main/scala")
    return program + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def compiler_classpath():
    jars = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(spark_jars(), name + "-2.13.*.jar")))
        if not found:
            sys.exit(f"build: {name} jar not found in {spark_jars()}")
        jars.append(found[-1])
    return jars


def build(build_dir):
    srcs = sources()
    compiler = compiler_classpath()
    h = hashlib.sha256()
    for p in compiler:
        h.update(os.path.basename(p).encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = classes + ".stamp"
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes
    os.makedirs(build_dir, exist_ok=True)
    tmp = os.path.join(build_dir, f"classes.tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.path.join(spark_jars(), "*"), "@" + argfile]
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    os.remove(argfile)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"build: scalac failed ({res.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return classes


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")))
