#!/usr/bin/env python3
"""Steadiness check: run one workload on several seeds, one after another,
and print each end-to-end metric's median and spread (quartile distance as
a share of the median) next to its bound from BENCHMARK.json.

    python3 perfbench/steady.py --workload <name> --seeds 1-10 [--seconds 20]
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last")
    ap.add_argument("--seconds", type=int, default=20)
    a = ap.parse_args()
    lo, hi = map(int, a.seeds.split("-"))
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    runs = []
    for seed in range(lo, hi + 1):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(a.seconds), "--trace", "0"],
            capture_output=True, text=True, check=True).stdout.strip().splitlines()[-1]
        r = json.loads(out)
        runs.append(r)
        print("seed %d: correct=%s failed=%d %s" % (
            seed, r["correct"], r["failed"],
            " ".join("%s=%.4g" % (k, v["value"]) for k, v in r["metrics"].items())),
            flush=True)
    for name, _, _ in metrics.END_TO_END:
        xs = [r["metrics"][name]["value"] for r in runs]
        print("%-18s median %-12.5g spread %.4f  bound %.2f" % (
            name, metrics.median(xs), metrics.spread(xs), bounds[name]))


if __name__ == "__main__":
    main()
