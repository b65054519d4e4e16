#!/usr/bin/env python3
"""Run one benchmark workload in a fresh JVM.

    python3 perfbench/run.py --workload nightly_build|bolt_ingest \\
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and the benchmark first
when their sources changed (perfbench/build.py), then runs
graft.perfbench.Main, which generates the workload's inputs from the
seed, measures, checks every answer, and prints one JSON result line as
the last line of stdout. Exits non-zero, printing no result, when the
build fails, and non-zero when a check fails.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["nightly_build", "bolt_ingest"]
# JDK 17 module opens Spark needs outside spark-submit, and the JVM
# options the engine's own build runs with
JVM_OPTS = ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
HEAP = "3g"
TIMEOUT_S = 170


def work_dir():
    return os.path.abspath(os.path.join(build.build_dir(), "work"))


def java(main_class, args, timeout=TIMEOUT_S):
    """Build if needed, run `main_class` with `args` in a fresh JVM whose
    scratch space lies under the work directory; returns (exit code,
    stdout lines). The JVM's stderr passes through."""
    classes = build.build()
    tmp = os.path.join(work_dir(), "tmp-%d" % os.getpid())
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    log4j = os.path.abspath(os.path.join(os.path.dirname(__file__), "log4j2.properties"))
    cmd = (["java", "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j.configurationFile=" + log4j] + JVM_OPTS +
           ["-cp", build.classpath(classes), main_class] + args)
    p = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.communicate()
        sys.exit("perfbench: %s exceeded %d s" % (main_class, timeout))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return p.returncode, [l for l in out.splitlines() if l.strip()]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--tiny", action="store_true",
                    help="shrink every input (self-tests)")
    ap.add_argument("--corrupt", action="store_true",
                    help="expect a wrong answer, to prove the checks fail")
    a = ap.parse_args()
    code, lines = java("graft.perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--work", work_dir()] +
        (["--tiny"] if a.tiny else []) + (["--corrupt"] if a.corrupt else []))
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if lines and lines[-1].startswith("{"):
        print(lines[-1])
    sys.exit(code)


if __name__ == "__main__":
    main()
