#!/usr/bin/env python3
"""Runs one workload on several seeds and prints, per metric, the median
and the spread (distance between first and third quartile, as a share of
the median) next to the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload fit_scan --seeds 1 2 3 4 5
"""
import argparse
import json
import statistics
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values = {}
    for seed in a.seeds:
        cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload,
               "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
               "--trace", str(a.trace)]
        p = subprocess.run(cmd, capture_output=True, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0 or not last.startswith("{"):
            sys.exit(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
        res = json.loads(last)
        print(f"seed {seed}: " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        spread = 0.0
        if len(vs) >= 2 and med:
            q = statistics.quantiles(vs, n=4)
            spread = (q[2] - q[0]) / med
        b = bounds.get(k)
        print(f"{k:28s} median {med:12.5g}  spread {spread:6.3f}" +
              (f"  bound {b}" if b is not None else ""))


if __name__ == "__main__":
    main()
