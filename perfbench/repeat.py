#!/usr/bin/env python3
"""Run one workload once per seed and report, for every metric, the
median, the quartiles and the spread (Q3 - Q1) / median, the same
statistic the acceptance check of BENCHMARK.json uses.

    python3 perfbench/repeat.py --workload bolt_ingest --seeds 1-10 [--trace 1]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last, inclusive")
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    a = ap.parse_args()
    spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    values = {}
    for s in seeds(a.seeds):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(s), "--seconds", str(spec["run_seconds"]), "--trace", a.trace],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines else {"correct": False, "metrics": {}}
        print(json.dumps({"seed": s, "exit": p.returncode, **res}), flush=True)
        for n, m in res["metrics"].items():
            values.setdefault(n, []).append(m["value"])
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    for n, xs in values.items():
        xs = [x for x in xs if x is not None]
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(n)
        print("%-24s median %12.4f  q1 %12.4f  q3 %12.4f  spread %.4f%s" % (
            n, med, q1, q3, spread,
            "" if b is None else "  bound %.2f (%s)" % (
                b, "ok" if spread < b / 3 else "WIDE")))


if __name__ == "__main__":
    main()
