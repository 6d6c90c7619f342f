#!/usr/bin/env python3
"""Steadiness check: run one workload as two sets of N runs and compare.

Usage (from the repository root):
  python3 perfbench/steady.py --workload wire_read --runs 10

Each run gets its own seed (set 1 uses seeds 1..N, set 2 uses N+1..2N).
For every end-to-end metric in BENCHMARK.json it prints each set's median
and quartiles, the spread (Q3 - Q1) / median, the drift of the second
median from the first (positive = worse), and the metric's bound. It also
prints the share of failed operations in each set. Exit code 1 if a spread
(setup_s excepted) or a drift exceeds its bound, or the failed shares differ.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit("run failed: workload %s seed %d (exit %d)" % (workload, seed, p.returncode))
    res = json.loads(lines[-1])
    if not res["correct"]:
        sys.exit("run reported incorrect output: workload %s seed %d" % (workload, seed))
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args()
    if args.runs < 4:
        ap.error("--runs must be at least 4 for quartiles")
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    metrics = bench["end_to_end"]
    sets = []
    for k in range(2):
        seeds = range(1 + k * args.runs, 1 + (k + 1) * args.runs)
        runs = []
        for s in seeds:
            runs.append(one_run(args.workload, s, bench["run_seconds"]))
            print("set %d seed %d: %s" % (k + 1, s, json.dumps(
                {m: round(v["value"], 4) for m, v in runs[-1]["metrics"].items()})), flush=True)
        sets.append(runs)

    ok = True
    print("\n%-20s %-6s %-33s %-33s %7s %7s %7s %6s" % (
        "metric", "unit", "set 1 median [Q1, Q3]", "set 2 median [Q1, Q3]",
        "spread1", "spread2", "drift", "bound"))
    for m in metrics:
        row = []
        for runs in sets:
            v = [r["metrics"][m["name"]]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(v, n=4)
            row.append((med, q1, q3, (q3 - q1) / med))
        drift = (row[1][0] - row[0][0]) / row[0][0]
        if m["better"] == "higher":
            drift = -drift
        bad = drift > m["bound"] or (m["name"] != "setup_s"
                                    and max(row[0][3], row[1][3]) > m["bound"])
        ok &= not bad
        print("%-20s %-6s %-33s %-33s %7.3f %7.3f %+7.3f %6.2f%s" % (
            m["name"], m["unit"],
            "%.4g [%.4g, %.4g]" % row[0][:3], "%.4g [%.4g, %.4g]" % row[1][:3],
            row[0][3], row[1][3], drift, m["bound"], "  <-- over bound" if bad else ""))
    shares = ["%d/%d" % (sum(r["failed"] for r in runs), sum(r["attempted"] for r in runs))
              for runs in sets]
    fshare = [sum(r["failed"] for r in runs) / sum(r["attempted"] for r in runs) for runs in sets]
    print("failed operations: set 1 %s, set 2 %s" % tuple(shares))
    ok &= fshare[0] == fshare[1]
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
