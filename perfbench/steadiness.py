#!/usr/bin/env python3
"""Run the benchmark on several seeds and report how steady each metric is.

Usage, from the root of a checkout:

    python3 perfbench/steadiness.py --runs 10 --first-seed 100 [--workload cone-dense ...]

For each workload, runs `perfbench/run.py` untraced once per seed and
prints, per end-to-end metric, the median, the quartiles and the spread
(distance between the first and third quartile, as a share of the
median) beside the bound BENCHMARK.json fixes. Raw values are written to
perfbench/results/steadiness-<first seed>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--workload", nargs="*", default=[w["name"] for w in spec["workloads"]])
    a = ap.parse_args()

    raw = {}
    for w in a.workload:
        raw[w] = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            out = subprocess.run(
                spec["command"] + ["--workload", w, "--seed", str(seed),
                                   "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            result = json.loads(out.stdout.strip().splitlines()[-1])
            raw[w].append(result)
            print(f"{w} seed {seed}: attempted {result['attempted']}, failed "
                  f"{result['failed']}, correct {result['correct']}", file=sys.stderr)

    os.makedirs(os.path.join(BENCH, "results"), exist_ok=True)
    with open(os.path.join(BENCH, "results", f"steadiness-{a.first_seed}.json"), "w") as f:
        json.dump(raw, f, indent=1)

    print("| workload | metric | median | Q1 | Q3 | spread | bound | ops per run | failed |")
    print("|---|---|---|---|---|---|---|---|---|")
    for w, results in raw.items():
        ops = sorted(r["attempted"] for r in results)
        failed = sum(r["failed"] for r in results)
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in results]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            print(f"| {w} | {m['name']} ({m['unit']}) | {med:.4g} | {q1:.4g} | {q3:.4g} | "
                  f"{(q3 - q1) / med:.3f} | {m['bound']} | {ops[0]}–{ops[-1]} | {failed} |")


if __name__ == "__main__":
    main()
