#!/usr/bin/env python3
"""Runs the benchmark on several seeds per workload and reports, for each
end-to-end metric, the median and the spread (distance between the first
and third quartile as a share of the median) next to its bound.

    python3 perfbench/steadiness.py [--runs 10] [--first-seed 1]
        [--workloads a,b] [--out perfbench/results/steadiness.json]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import metrics  # noqa: E402


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--out", default=os.path.join(BENCH, "results", "steadiness.json"))
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {"run_seconds": spec["run_seconds"], "workloads": {}}
    for wl in a.workloads.split(","):
        runs = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            proc = subprocess.run(
                [sys.executable, os.path.join(BENCH, "run.py"), "--workload", wl, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            line = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
            result = json.loads(line)
            runs.append({"seed": seed, "exit": proc.returncode, "result": result})
            print(f"{wl} seed {seed}: exit {proc.returncode} {line}", file=sys.stderr, flush=True)
        summary = {}
        for name, bound in bounds.items():
            values = [r["result"]["metrics"][name]["value"] for r in runs
                      if r["exit"] == 0 and name in r["result"].get("metrics", {})]
            if len(values) >= 2:
                sp = metrics.spread(values)
                summary[name] = {"median": statistics.median(values), "spread": sp, "bound": bound,
                                 "within_third_of_bound": sp < bound / 3}
        report["workloads"][wl] = {"runs": runs, "summary": summary}
        print(json.dumps({wl: summary}, indent=1), file=sys.stderr, flush=True)
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
