#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark (perfbench/src) into one class directory with the Scala
compiler that ships in Spark's jar directory — the directory the engine's
sbt build compiles and runs against (its `unmanagedBase`; $SPARK_JARS
overrides it).

    python3 perfbench/build.py            # prints the class directory

The build is skipped when a stamp over every source file still matches.
Output goes under $CARGO_TARGET_DIR (default .bench_build) of the
current directory, which must be the repository root.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ENGINE_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")


def sources():
    out = []
    for root in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build_dir():
    return os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def spark_jars():
    if "SPARK_JARS" in os.environ:
        return os.environ["SPARK_JARS"]
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        sys.exit("perfbench: no unmanagedBase jar directory in build.sbt; set SPARK_JARS")
    return m.group(1)


def classpath(classes):
    return classes + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    """Compile if needed; returns the class directory. Raises SystemExit
    with a message when the tree or the toolchain is missing."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        sys.exit("perfbench: no engine sources under %s (run from the repository root)"
                 % ENGINE_SRC)
    jars = spark_jars()
    if not os.path.isdir(jars):
        sys.exit("perfbench: Spark jar directory %s not found" % jars)
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + [__file__]:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-cp", os.path.join(jars, "*"), "@" + args_file]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit("perfbench: compile failed (exit %d)" % r.returncode)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
