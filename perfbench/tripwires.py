#!/usr/bin/env python3
"""Record the benchmark's deterministic tripwires.

    python3 perfbench/tripwires.py --seed 7 --seconds 10 > perfbench/TRIPWIRES.json

Runs every workload of BENCHMARK.json twice with --trace 1 on one seed
and prints, per workload and span, the jobs and shuffle bytes per call
of each run and whether both runs agree exactly. Per-call figures are
used because the timed loop's call count depends on speed; set-up spans
run a fixed number of times. Run from the root of a graft checkout.
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def traced(workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def per_call(metrics):
    spans = {}
    for name, m in metrics.items():
        span, _, stat = name.rpartition(".")
        if stat == "calls" and m["value"] > 0:
            calls = m["value"]
            spans[span] = {
                "calls": calls,
                "jobs_per_call": metrics[f"{span}.jobs"]["value"] / calls,
                "shuffle_bytes_per_call": metrics[f"{span}.shuffle_bytes"]["value"] / calls,
            }
    return spans


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        workloads = [w["name"] for w in json.load(fh)["workloads"]]
    report = {"seed": args.seed, "seconds": args.seconds, "workloads": {}}
    for w in workloads:
        runs = [per_call(traced(w, args.seed, args.seconds)) for _ in range(2)]
        spans = {}
        for span in sorted(set(runs[0]) | set(runs[1])):
            a, b = runs[0].get(span, {}), runs[1].get(span, {})
            spans[span] = {
                "jobs_per_call": [a.get("jobs_per_call"), b.get("jobs_per_call")],
                "shuffle_bytes_per_call": [a.get("shuffle_bytes_per_call"),
                                           b.get("shuffle_bytes_per_call")],
                "calls": [a.get("calls"), b.get("calls")],
                "jobs_exact": a.get("jobs_per_call") == b.get("jobs_per_call"),
                "shuffle_bytes_exact":
                    a.get("shuffle_bytes_per_call") == b.get("shuffle_bytes_per_call"),
            }
        report["workloads"][w] = spans
    json.dump(report, sys.stdout, indent=1)
    print()


if __name__ == "__main__":
    main()
