"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/steady.py --seeds 10 [--workload NAME ...] [--out FILE]

Runs perfbench/run.py once per seed (1 to --seeds) and workload, one run at
a time, and prints for every end-to-end metric its median over the runs and
the distance between the first and third quartile as a share of that median,
next to the metric's bound in BENCHMARK.json. Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

from report import run

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--workload", action="append", default=None)
    p.add_argument("--out", default=None, help="write every run's result here as JSON")
    args = p.parse_args(argv)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    results = {}
    for name in workloads:
        runs = []
        for seed in range(1, args.seeds + 1):
            r = run(bench, name, seed, 0)
            runs.append(r)
            print(f"{name} seed {seed}: correct={r['correct']} attempted={r['attempted']} "
                  f"failed={r['failed']} " + " ".join(
                      f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        results[name] = runs
        print(f"{name}: {'metric':24s} {'median':>12s} {'iqr/median':>10s} {'bound':>6s}")
        for metric, bound in bounds.items():
            values = [r["metrics"][metric]["value"] for r in runs]
            s = spread(values) if len(values) >= 2 else float("nan")
            flag = "" if metric == "setup_s" or s <= bound / 3 else "  > bound/3"
            print(f"{name}: {metric:24s} {statistics.median(values):12.4g} {s:10.3f} {bound:6.2f}{flag}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
