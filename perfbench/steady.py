#!/usr/bin/env python3
"""Steadiness check: runs one workload on several seeds and reports,
per end-to-end metric, the median and the quartile spread
(Q3 - Q1) / median, next to the bound BENCHMARK.json gives it, plus
the share of failed operations.

Usage (from the root of a checkout):
  python3 perfbench/steady.py --workload W [--runs 10] [--first-seed 1] [--seconds S]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    values, shares = {}, set()
    for seed in range(a.first_seed, a.first_seed + a.runs):
        p = subprocess.run(bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                               "--seconds", str(seconds), "--trace", "0"],
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        if p.returncode != 0:
            sys.exit("seed %d failed (exit %d):\n%s" % (seed, p.returncode, p.stderr[-3000:]))
        res = json.loads(p.stdout.strip().splitlines()[-1])
        shares.add(res["failed"] / res["attempted"])
        print("seed %d: correct=%s attempted=%d failed=%d %s" % (
            seed, res["correct"], res["attempted"], res["failed"],
            " ".join("%s=%.4f" % (k, v["value"]) for k, v in res["metrics"].items())), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print("failed shares: %s" % sorted(shares))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print("%-10s median %.4f  spread %.4f  bound %.2f  (%s)" % (
            k, med, (q3 - q1) / med, bounds.get(k, float("nan")),
            "ok" if (q3 - q1) / med < bounds.get(k, 0) / 3 else "WIDE"))


if __name__ == "__main__":
    main()
