"""Diff benchmark: one workload, one seed, a closed loop of diff operations.

    python3 perfbench/run.py --workload sparse_migration --seed 1 --seconds 25 --trace 0

Run from the repository root. The run generates the workload's table pair
from the seed, writes it as parquet (and, for cross_engine, B into a DuckDB
database) under .perfbench_work/, starts a local Spark session and makes one
untimed warm pass of every operation. It then runs the operations one at a
time until --seconds have passed (see ``measure``), checking each output
against the generated ground truth outside the timed region. The last line
of stdout is one JSON object: {"correct", "attempted", "failed", "metrics"};
the exit code is 1 if any op failed.

--trace 0 reports the end-to-end metrics. --trace 1 runs the same loop with
Spark's event log on and timing spans around the library's public functions,
and reports the per-layer metrics instead; the spans and the layer table are
written to .perfbench_work/trace/<workload>-seed<seed>/. perfbench/NOTES.md
describes the workloads, the metrics and the settings below.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Spark and DuckDB never get more threads than the machine has cores.
CORES = min(4, len(os.sched_getaffinity(0)))
# 1 GB of driver heap holds both sides of every workload many times over.
DRIVER_MEMORY = "1g"
# C1-only JIT, as bench.py documents: Spark generates fresh classes for every
# query, and C2 recompiling that run-once code drifts latencies within a run.
# A fixed heap size with a fixed young generation keeps G1 from resizing the
# heap during the measured loop. The heap is not pre-touched, so the JVM's
# resident set grows with the heap the run actually uses (see peak_rss_mb).
# No perf data file in /tmp.
JVM_FLAGS = (f"-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m -Xms{DRIVER_MEMORY} "
             "-Xmn256m -XX:-UsePerfData")
FILES_PER_SIDE = 2 * CORES


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def build_session(work: str, trace_dir: str = ""):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    b = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions",
                f"{JVM_FLAGS} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if trace_dir:
        # uncompressed and unrolled: the default zstd codec has no Python reader
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", trace_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def write_inputs(w, seed: int, work: str):
    """Generate the pair and write A and B as parquet, and B into a DuckDB
    database for the remote workload. Returns the parquet paths of A and B,
    the URI the CLI reads B from, and the truth."""
    import duckdb
    import pyarrow.parquet as pq

    from workloads import generate, remote_copy

    a, b, truth = generate(w, seed)
    paths = []
    for name, table in (("a", a), ("b", b)):
        # several files per side, so Spark scans each side with several tasks
        path = os.path.join(work, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        step = -(-table.num_rows // FILES_PER_SIDE)
        for i in range(FILES_PER_SIDE):
            pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))
        paths.append(path)
    if w.remote:
        db = os.path.join(work, "b.duckdb")
        if os.path.exists(db):
            os.remove(db)
        with duckdb.connect(db, config={"threads": CORES}) as con:
            con.register("remote_b", remote_copy(b))
            con.execute("create table b as select * from remote_b")
        return paths[0], paths[1], f"duckdb://{db}#b", truth
    return paths[0], paths[1], f"parquet://{paths[1]}", truth


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited. pyspark leaves the
    JVM to exit on its own once this process ends; the JVM exits when its
    stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _pids(spark):
    """This Python process and the driver JVM: the two processes a diff runs in.
    The toArrow results, the CLI's formatting and DuckDB live in Python; Spark's
    heap, storage and broadcasts in the JVM."""
    return os.getpid(), spark._jvm.java.lang.ProcessHandle.current().pid()


def peak_rss_mb(spark) -> float:
    """Sum of both processes' peak resident sets (VmHWM) since the last reset."""
    total = 0
    for pid in _pids(spark):
        with open(f"/proc/{pid}/status") as f:
            total += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return total / 1024.0


def reset_peak_rss(spark) -> None:
    """Restart both processes' high-water marks at their current RSS, so the
    peak covers the measured loop and not set-up."""
    for pid in _pids(spark):
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "data_diff_spark")):
        print(f"error: library package data_diff_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from workloads import WORKLOADS

    w = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{w.name}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # everything the run writes stays in the checkout: Python temp files,
    # the JVM's, Spark's scratch space and DuckDB's spill directory
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"  # the CLI prints timestamps in local time
    time.tzset()
    trace_dir = ""
    if args.trace:
        trace_dir = os.path.join(ROOT, ".perfbench_work", "trace", f"{w.name}-seed{args.seed}")
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)
    try:
        return run(w, args, work, trace_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(w, args, work: str, trace_dir: str) -> int:
    t0 = time.perf_counter()
    inputs = write_inputs(w, args.seed, work)
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark = build_session(work, trace_dir)
    session_s = time.perf_counter() - t0

    from ops import OPS, Ops

    ops = Ops(spark, w, *inputs)
    cycle = OPS
    if args.trace:
        from tracing import PROBES, Tracer

        ops = Tracer(ops)
        cycle = OPS + PROBES
    samples = {op: [] for op in cycle}
    attempted = failed = 0

    def one(op: str):
        """Run, check and release one op; returns its seconds, or None if it
        failed. Exceptions count as failures: the loop goes on."""
        nonlocal attempted, failed
        attempted += 1
        seconds = None
        try:
            seconds, out = ops.run(op)
            problem = ops.check(op, out)
        except Exception as e:
            problem = f"raised {type(e).__name__}: {e}"
        leaked = ops.release()
        if leaked and not problem:
            problem = f"{leaked} cached blocks left after release"
        if problem:
            failed += 1
            print(f"FAILED {op}: {problem}", file=sys.stderr)
            return None
        return seconds

    try:
        last = {}  # op -> wall seconds of its latest run, the guess for its next
        for op in cycle:
            t0 = time.perf_counter()
            one(op)
            last[op] = time.perf_counter() - t0
        warm_s = sum(last.values())
        setup_s = gen_s + session_s + warm_s
        reset_peak_rss(spark)
        if args.trace:
            ops.start()
        measure(cycle, one, last, samples, args.seconds)
        peak_rss = peak_rss_mb(spark)
    finally:
        stop_spark(spark)

    summary(w.name, samples, setup_s, gen_s, session_s, warm_s)
    if args.trace:
        metrics = ops.finish(trace_dir, samples)
    else:
        metrics = end_to_end(ops, samples, peak_rss, setup_s)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    # a run with a failed op is not a measurement of the program
    return 1 if failed else 0


def measure(cycle, one, last, samples, seconds: float) -> None:
    """The closed loop: one op at a time until ``seconds`` have passed.

    Each op gets about the same share of the time, so cheap ops, whose
    latency is noisier, get more samples than expensive ones: the next op is
    the one with the least time spent so far. An op is started only if its
    last duration still fits before the end, so a run does not overrun by an
    expensive op; an op with no sample yet is started whenever time is left.
    """
    spent = dict.fromkeys(cycle, 0.0)
    t_start = time.perf_counter()
    while True:
        now = time.perf_counter() - t_start
        ready = [op for op in cycle
                 if now < seconds and (not samples[op] or now + last[op] <= seconds)]
        if not ready:
            return
        op = min(ready, key=lambda o: (len(samples[o]) > 0, spent[o]))
        t0 = time.perf_counter()
        ok_seconds = one(op)
        last[op] = time.perf_counter() - t0
        spent[op] += last[op]
        if ok_seconds is not None:
            samples[op].append(ok_seconds)


def end_to_end(ops, samples, peak_rss, setup_s) -> dict:
    out = {f"{op}_s": {"value": statistics.median(s), "unit": "s"}
           for op, s in samples.items() if s}
    # one of each op, at its median latency: independent of how many samples
    # each op got; an op whose every sample failed is left out of both sides
    medians = [statistics.median(s) for s in samples.values() if s]
    if medians:
        out["rows_per_s"] = {"value": ops.rows_compared * len(medians) / sum(medians),
                             "unit": "rows/s"}
    out["peak_rss_mb"] = {"value": peak_rss, "unit": "MB"}
    out["setup_s"] = {"value": setup_s, "unit": "s"}
    return out


def summary(name, samples, setup_s, gen_s, session_s, warm_s) -> None:
    """Per-op sample counts and spread, for the reader of stderr."""
    print(f"{name}: setup {setup_s:.2f}s (inputs {gen_s:.2f}s, session {session_s:.2f}s, "
          f"warm pass {warm_s:.2f}s)", file=sys.stderr)
    for op, s in samples.items():
        if s:
            print(f"  {op:16s} n={len(s):3d} median={statistics.median(s):.3f}s "
                  f"min={min(s):.3f}s max={max(s):.3f}s  in order: "
                  + " ".join(f"{x:.2f}" for x in s), file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
