#!/usr/bin/env python3
"""Steadiness check: runs two sets of the same code in alternating order and
prints, for each end-to-end metric, each set's median and quartiles, the
spread (quartile distance over the median) against the metric's bound, and
how far the second median moved from the first in the worse direction.

    python3 perfbench/compare.py [--runs 10] [--sets 2] [--workloads a,b]
                                 [--seed0 1] [--json out.json]

Run i of every set uses seed seed0 + i; sets alternate which goes first.
Settings and bounds come from BENCHMARK.json at the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(bench, workload, seed):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.exit("run failed: %s seed %d (exit %d)" % (workload, seed, r.returncode))
    return json.loads(lines[-1])


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=2)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--json", help="also write every run's result here")
    a = ap.parse_args()

    results = {}
    for w in a.workloads.split(","):
        sets = [[] for _ in range(a.sets)]
        for i in range(a.runs):
            order = range(a.sets) if i % 2 == 0 else reversed(range(a.sets))
            for s in order:
                res = one_run(bench, w, a.seed0 + i)
                sets[s].append(res)
                print("%s set %d seed %d: %s" % (w, s, a.seed0 + i, json.dumps(res)),
                      file=sys.stderr, flush=True)
        results[w] = sets
        print("\n== %s" % w)
        shares = ["%d/%d" % (sum(r["failed"] for r in rs), sum(r["attempted"] for r in rs))
                  for rs in sets]
        print("correct: %s   failed/attempted per set: %s" % (
            all(r["correct"] for rs in sets for r in rs), "  ".join(shares)))
        print("%-18s %4s %12s %12s %12s %8s %6s %8s" % (
            "metric", "set", "median", "q1", "q3", "spread", "bound", "drift"))
        for m in bench["end_to_end"]:
            meds = []
            for s, rs in enumerate(sets):
                med, q1, q3 = summary([r["metrics"][m["name"]]["value"] for r in rs])
                meds.append(med)
                drift = ""
                if s == 1:
                    d = (meds[1] - meds[0]) / meds[0]
                    drift = "%+.3f" % (d if m["better"] == "lower" else -d)
                print("%-18s %4d %12.4f %12.4f %12.4f %8.3f %6.2f %8s" % (
                    m["name"], s, med, q1, q3, (q3 - q1) / med, m["bound"], drift))
    if a.json:
        with open(a.json, "w") as f:
            json.dump(results, f)


if __name__ == "__main__":
    main()
