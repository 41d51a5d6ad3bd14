#!/usr/bin/env python3
"""Steadiness check: run each workload with several seeds and report,
per end-to-end metric, the median and the quartile spread
(Q3 - Q1) / median, as `statistics.quantiles(values, n=4)` gives them.

    python3 perfbench/steady.py --runs 10 --first-seed 100 [--out f.json] [workloads...]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def main():
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--out")
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    workloads = a.workloads or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    summary = {}
    for w in workloads:
        values = {}
        for k in range(a.runs):
            seed = a.first_seed + k
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                capture_output=True, text=True, check=True).stdout.strip().splitlines()[-1]
            res = json.loads(out)
            if not res["correct"]:
                print(f"{w} seed {seed}: {res['failed']} failed ops", file=sys.stderr)
            for name, m in res["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(f"{w} seed {seed}: " + " ".join(
                f"{n}={v['value']:.4g}" for n, v in res["metrics"].items()), flush=True)
        summary[w] = {n: {"median": statistics.median(v), "spread": spread(v),
                          "bound": bounds[n], "values": v} for n, v in values.items()}
        for n, s in summary[w].items():
            flag = "" if s["spread"] < s["bound"] / 3 else "  <-- above bound/3"
            print(f"  {w} {n}: median {s['median']:.4g} spread {s['spread']:.3f} "
                  f"(bound {s['bound']}){flag}", flush=True)
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(summary, fh, indent=1)


if __name__ == "__main__":
    main()
