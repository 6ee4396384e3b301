"""The committed traced-run artifact: per-layer metrics and tracing overhead.

    python3 perfbench/report.py [--seed N] [--workload NAME ...]

For each workload, runs perfbench/run.py untraced and then traced on the
same seed, one after the other, and writes perfbench/results/TRACE.json and
perfbench/results/TRACE.md: every per-layer metric, each op's self time per
layer and its share of the op, and the tracing overhead (traced median minus
untraced median, per op). Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "results")


def run(bench, name: str, seed: int, trace: int) -> dict:
    """One run of the benchmark command; returns its result line, parsed."""
    cmd = [*bench["command"], "--workload", name, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
    if proc.returncode != 0 or not last.startswith("{"):
        raise SystemExit(f"{name} trace={trace}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(last)


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--workload", action="append", default=None)
    args = p.parse_args(argv)
    names = args.workload or [w["name"] for w in bench["workloads"]]

    report = {}
    for name in names:
        plain = run(bench, name, args.seed, 0)
        traced = run(bench, name, args.seed, 1)
        trace_dir = os.path.join(ROOT, ".perfbench_work", "trace", f"{name}-seed{args.seed}")
        with open(os.path.join(trace_dir, "layers.json")) as f:
            layers = json.load(f)
        ops = layers["ops"]
        report[name] = {
            "seed": args.seed,
            "correct": plain["correct"] and traced["correct"],
            "attempted": plain["attempted"] + traced["attempted"],
            "failed": plain["failed"] + traced["failed"],
            "per_layer": traced["metrics"],
            "end_to_end_untraced": plain["metrics"],
            "traced_ops": ops,
            "tracing_overhead_s": {
                op: ops[op]["median_s"] - plain["metrics"][f"{op}_s"]["value"]
                for op in ops if f"{op}_s" in plain["metrics"]
            },
            "self_time_s": layers["self_time_s"],
            "per_op": layers["per_op"],
            "unattributed_jobs": layers["unattributed_jobs"],
        }
        print(f"{name}: done", file=sys.stderr)

    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "TRACE.json"), "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")
    with open(os.path.join(OUT, "TRACE.md"), "w") as f:
        f.write(markdown(report))
    return 0


def markdown(report: dict) -> str:
    lines = ["# Traced runs", "",
             "Generated by `python3 perfbench/report.py`. Self time is a span's time "
             "minus its child spans; share is self time over the op's traced wall time.", ""]
    for name, r in report.items():
        lines += [f"## {name} (seed {r['seed']}, correct={r['correct']}, "
                  f"failed {r['failed']} of {r['attempted']})", "",
                  "| op | untraced median s | traced median s | overhead s |",
                  "|---|---|---|---|"]
        for op, o in r["traced_ops"].items():
            plain = r["end_to_end_untraced"].get(f"{op}_s", {}).get("value")
            over = r["tracing_overhead_s"].get(op)
            lines.append(f"| {op} | {'' if plain is None else f'{plain:.3f}'} | {o['median_s']:.3f} "
                         f"| {'' if over is None else f'{over:+.3f}'} |")
        lines += ["", "| op | layer | self s | share |", "|---|---|---|---|"]
        for op, layers in r["self_time_s"].items():
            wall = r["per_op"][op]["wall_s"]
            for layer, s in layers.items():
                if s >= 0.005:
                    lines.append(f"| {op} | {layer} | {s:.3f} | {s / wall:.0%} |")
        lines += ["", "| op | jobs | tasks | executor CPU s | driver-only s | shuffle write MB |",
                  "|---|---|---|---|---|---|"]
        for op, o in r["per_op"].items():
            lines.append(f"| {op} | {o['jobs']:.1f} | {o['tasks']:.1f} | {o['executor_cpu_s']:.2f} "
                         f"| {o['driver_only_s']:.2f} | {o['shuffle_write_mb']:.2f} |")
        lines += ["", "| per-layer metric | value | unit |", "|---|---|---|"]
        for k, v in r["per_layer"].items():
            lines.append(f"| {k} | {v['value']:.4g} | {v['unit']} |")
        lines.append("")
    return "\n".join(lines)


if __name__ == "__main__":
    sys.exit(main())
