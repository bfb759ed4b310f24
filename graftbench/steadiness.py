#!/usr/bin/env python3
"""Run each workload with several seeds and report how steady every
end-to-end metric is, as the benchmark's acceptance rule measures it.

Usage (from the root of a checkout):

    python3 graftbench/steadiness.py [--runs 10] [--first-seed 101]
        [--workloads etl_monthly,gate_mix,table_churn]

For each workload and metric it prints the median, the first and third
quartiles (Python's statistics.quantiles(values, n=4)) and the spread,
(q3 - q1) / median, next to the metric's bound from BENCHMARK.json, as a
markdown table. Runs use BENCHMARK.json's run_seconds.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--workloads", default="etl_monthly,gate_mix,table_churn")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    rows = []
    for w in a.workloads.split(","):
        values, failed, attempted = {}, 0, 0
        for k in range(a.runs):
            seed = a.first_seed + k
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                 "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            if out.returncode != 0:
                sys.exit(f"{w} seed {seed} failed:\n{out.stderr[-2000:]}")
            r = json.loads(out.stdout.strip().splitlines()[-1])
            failed += r["failed"]
            attempted += r["attempted"]
            for n, m in r["metrics"].items():
                values.setdefault(n, []).append(m["value"])
            print(f"{w} seed {seed}: " + ", ".join(
                f"{n}={m['value']:.4g}" for n, m in r["metrics"].items()),
                file=sys.stderr, flush=True)
        for n, v in values.items():
            q1, _, q3 = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            rows.append((w, n, med, q1, q3, (q3 - q1) / med, bounds[n], len(v)))
        rows.append((w, "fail_frac", failed / attempted, None, None, None, None, len(v)))
    print("| workload | metric | median | q1 | q3 | spread | bound | runs |")
    print("|---|---|---|---|---|---|---|---|")
    for w, n, med, q1, q3, spread, bound, runs in rows:
        if q1 is None:
            print(f"| {w} | {n} | {med:.4g} | | | | | {runs} |")
        else:
            print(f"| {w} | {n} | {med:.4g} | {q1:.4g} | {q3:.4g} | "
                  f"{spread:.3f} | {bound} | {runs} |")


if __name__ == "__main__":
    main()
