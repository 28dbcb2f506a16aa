#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Runs the benchmark once per seed on each named workload (untraced) and
prints, for every end-to-end metric, the median of the runs and the
interquartile range as a share of that median, next to the metric's bound
from BENCHMARK.json. Run it from the root of a checkout:

    python3 perfbench/spread.py --seeds 1-10 extract_resumable query_suite

A spread below a third of the bound means the benchmark can resolve a
regression of that size.
"""
import argparse
import json
import statistics
import subprocess
import sys


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("workloads", nargs="+")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in args.workloads:
        runs = []
        for seed in seeds(args.seeds):
            proc = subprocess.run(
                bench["command"] + ["--workload", w, "--seed", str(seed),
                                    "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                stdout=subprocess.PIPE, text=True)
            result = json.loads(proc.stdout.splitlines()[-1]) if proc.stdout.strip() else None
            if proc.returncode != 0 or not result or not result["correct"]:
                sys.exit(f"{w} seed {seed}: status {proc.returncode}, result {result}")
            runs.append(result["metrics"])
            print(f"{w} seed={seed} " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
        for name, bound in bounds.items():
            values = [r[name]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(values, n=4)
            print(f"{w:18s} {name:12s} median={med:.4g} iqr/median={(q3 - q1) / med:.3f} "
                  f"bound={bound} ok={(q3 - q1) / med < bound / 3}")


if __name__ == "__main__":
    main()
