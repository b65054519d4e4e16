#!/usr/bin/env python3
"""Self-tests of the benchmark, at tiny scale (a few minutes):

  * every workload, untraced and traced, prints every metric named in
    BENCHMARK.json with its unit, and its checks pass;
  * an injected wrong expected answer (--corrupt) is caught: the run
    exits non-zero and reports correct = false;
  * the generator is deterministic: the same seed gives byte-identical
    files, another seed different ones.

    python3 perfbench/selftest.py        # from the repository root
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

failures = []


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        failures.append(what)


def bench(workload, trace, corrupt=False):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "1", "--trace", str(trace), "--tiny"]
    if corrupt:
        cmd.append("--corrupt")
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None)


def main():
    spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    for w in [x["name"] for x in spec["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res = bench(w, trace)
            tag = "%s trace=%d" % (w, trace)
            check(code == 0 and res is not None and res["correct"] and
                  res["failed"] == 0 and res["attempted"] >= 1,
                  tag + ": checks pass")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {} if res is None else res["metrics"]
            check(set(got) == set(want) and
                  all(got[n]["unit"] == u and isinstance(got[n]["value"], (int, float))
                      for n, u in want.items()),
                  tag + ": prints every %s metric with its unit" % key)
        code, res = bench(w, 0, corrupt=True)
        check(code != 0 and res is not None and not res["correct"] and res["failed"] >= 1,
              w + ": a wrong expected answer is caught")
    code, lines = run.java("graft.perfbench.GenCheck", [run.work_dir()], timeout=300)
    res = json.loads(lines[-1]) if lines else {}
    check(code == 0 and res.get("same_seed_identical") is True,
          "generator: the same seed gives byte-identical files")
    check(res.get("other_seed_differs") is True,
          "generator: another seed gives different files")
    print("%d failure(s)" % len(failures))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
