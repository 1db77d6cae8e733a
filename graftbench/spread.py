#!/usr/bin/env python3
"""Summarize benchmark results, or compare two traced runs' counters.

    python3 graftbench/spread.py RESULT.json...      median and quartile spread
    python3 graftbench/spread.py --diff A.json B.json  per-metric equal / delta

Each RESULT.json holds the last stdout line of one `run.py` call. The spread
is (Q3 - Q1) / median, with quartiles from statistics.quantiles(values, n=4).
"""
import json
import statistics
import sys


def load(path):
    with open(path) as fh:
        return json.loads(fh.read().strip().splitlines()[-1])


def main(args):
    if args and args[0] == "--diff":
        a, b = (load(p)["metrics"] for p in args[1:3])
        for k in a:
            va, vb = a[k]["value"], b[k]["value"]
            tag = "same" if va == vb else f"delta {vb - va:+.6g}"
            print(f"{k:40s} {va:>16.6g} {vb:>16.6g}  {tag}")
        return
    runs = [load(p) for p in args]
    bad = [p for p, r in zip(args, runs) if not r["correct"] or r["failed"]]
    print(f"{len(runs)} runs, {len(bad)} incorrect or with failures {bad}")
    for k in runs[0]["metrics"]:
        vals = [r["metrics"][k]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:24s} median {med:12.4f}  spread {spread:6.3f}  "
              f"min {min(vals):.4f} max {max(vals):.4f}")


if __name__ == "__main__":
    main(sys.argv[1:])
