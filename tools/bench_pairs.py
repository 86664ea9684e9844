#!/usr/bin/env python3
"""Paired benchmark runs of two checkouts, for comparing a change with its parent.

    tools/bench_pairs.py <parent-dir> <change-dir> <workload> [--pairs N] [--seed S]

Runs `perfbench/run.py --workload W --seed S --seconds T` (T is
BENCHMARK.json's `run_seconds`) in both checkouts, one pair at a time,
alternating which side goes first: the parent goes first in the even
pairs and the change in the odd ones, so a slow host window hits both
sides alike. Each run's JSON line is echoed to stderr as it lands.

Prints, per end-to-end metric of BENCHMARK.json: each side's median and
quartiles (Q1, Q3), the change's median minus the parent's, the parent's
interquartile range, and in how many pairs the change was better (in the
metric's `better` direction). Then the failed-operation count and the
correctness of every run. Exits 1 if any run was incorrect or failed an
operation, 2 if a run could not be made.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds)],
        cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode == 2 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        print(f"bench_pairs: no result from {checkout} (exit {p.returncode})", file=sys.stderr)
        sys.exit(2)
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    sides = {"parent": args.parent, "change": args.change}
    results = {"parent": [], "change": []}
    for i in range(args.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run(sides[side], args.workload, args.seed, bench["run_seconds"])
            results[side].append(r)
            print(f"pair {i + 1} {side}: {json.dumps(r)}", file=sys.stderr, flush=True)

    print(f"{args.workload} seed={args.seed} pairs={args.pairs} "
          f"(parent {args.parent}, change {args.change})")
    print(f"{'metric':18s} {'parent median [Q1, Q3]':>30s} {'change median [Q1, Q3]':>30s}"
          f" {'delta':>10s} {'parent IQR':>10s} {'change won':>10s}")
    for name, m in metrics.items():
        vals = {s: [r["metrics"][name]["value"] for r in results[s]] for s in results}
        (pq1, pm, pq3), (cq1, cm, cq3) = quartiles(vals["parent"]), quartiles(vals["change"])
        lower = m["better"] == "lower"
        won = sum((c < p) if lower else (c > p) for p, c in zip(vals["parent"], vals["change"]))
        print(f"{name:18s} {pm:12.4g} [{pq1:.4g}, {pq3:.4g}]".ljust(50)
              + f" {cm:12.4g} [{cq1:.4g}, {cq3:.4g}]".ljust(31)
              + f" {cm - pm:10.4g} {pq3 - pq1:10.4g} {won:>6d}/{args.pairs}")
    ok = True
    for s in ("parent", "change"):
        failed = [r["failed"] for r in results[s]]
        correct = all(r["correct"] for r in results[s])
        ok = ok and correct and not any(failed)
        print(f"{s}: failed operations per run {failed}, all correct: {correct}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
