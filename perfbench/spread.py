#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics: run one workload once per
seed and report, for each metric, the median and the interquartile range
(statistics.quantiles, n=4) as a share of the median, next to the metric's
bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload curate --seeds 1-10

Run from the root of the checkout. Each run measures BENCHMARK.json's
run_seconds. Each run's result line is appended to .bench_build/spread.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    lo, hi = (int(x) for x in args.seeds.split("-"))
    values = {}
    for seed in range(lo, hi + 1):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        took = time.time() - t0
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0:
            sys.exit(f"seed {seed}: exit {p.returncode}: {last}")
        res = json.loads(last)
        with open(os.path.join(".bench_build", "spread.jsonl"), "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": seed,
                                "run_s": took, "result": res}) + "\n")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {took:.1f} s, correct={res['correct']}", flush=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        bound = bounds.get(k)
        flag = "" if bound is None or spread < bound / 3 else "  <-- above bound/3"
        print(f"{args.workload} {k}: median {med:.4g}  spread {spread:.4f}  bound {bound}{flag}")


if __name__ == "__main__":
    main()
