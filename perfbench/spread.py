#!/usr/bin/env python3
"""Runs a workload once per seed and reports, for every end-to-end
metric, the median and the inter-quartile range as a share of the
median (`statistics.quantiles(values, n=4)`), next to the metric's bound
from BENCHMARK.json.

Usage (from the repository root):
  python3 perfbench/spread.py --workload federated_read --seeds 1-10
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv):
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-5")
    p.add_argument("--seconds", type=int)
    a = p.parse_args(argv)
    bench = json.load(open("BENCHMARK.json"))
    seconds = a.seconds or bench["run_seconds"]
    values = {}
    for seed in seeds_of(a.seeds):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                  "--seconds", str(seconds), "--trace", "0"]
        r = subprocess.run(cmd, capture_output=True, text=True)
        last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
        if r.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: failed ({r.returncode})\n{r.stderr[-2000:]}")
            return 1
        res = json.loads(last)
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("inf")
        print(f"{k:14s} median={med:.4g} spread={spread:.3f} bound={bounds.get(k)} "
              f"ok_third={spread < bounds.get(k, 0) / 3}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
