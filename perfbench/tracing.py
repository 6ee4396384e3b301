"""The traced run: per-layer time and Spark work of each operation.

Tracing is done from outside the library, so the library runs unchanged:

* timing shims replace the library's public functions for the traced run
  only, and record a span (name, start, end, parent, op id) per call;
* each span sets the Spark job group to its own id while it is open, so
  every Spark job the call starts is attributed to the innermost span;
* Spark's event log (uncompressed, one file) gives each job's tasks, CPU,
  GC, shuffle, input and spill.

``Tracer.finish`` joins the three after the session has stopped, writes the
spans and a per-layer self-time table next to the event log, and returns the
per-layer metrics.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import statistics
import time
from collections import defaultdict
from typing import Dict, List, Optional

import data_diff_spark.cli as cli_mod
import data_diff_spark.diff as diff_mod
import data_diff_spark.operators.hashdiff as hashdiff_mod
import data_diff_spark.operators.joindiff as joindiff_mod
import data_diff_spark.operators.remote as remote_mod
import data_diff_spark.refine as refine_mod
import data_diff_spark.sources.connect as connect_mod
from data_diff_spark.table import TableSegment

from ops import storage_state

# Traced runs add one probe to the cycle: the normalize layer's one-pass
# count + checksum of each side, which no diff exposes on its own.
PROBES = ("checksum",)

# (owner, attribute, span name): the public functions the shims time
SHIMS = [
    (connect_mod, "connect_to_table", "sources.connect"),
    (refine_mod, "refined", "refine"),
    (diff_mod, "unify_precisions", "unify"),
    (diff_mod, "diff_tables", "diff"),
    (diff_mod.DiffResult, "get_stats_dict", "diff.get_stats_dict"),
    (joindiff_mod, "join_diff", "operators.joindiff"),
    (joindiff_mod, "check_duplicate_keys", "operators.joindiff.check_duplicate_keys"),
    (hashdiff_mod, "hash_diff", "operators.hashdiff"),
    (remote_mod, "hash_diff_remote", "operators.remote"),
    (remote_mod.DuckDBSide, "bucket_digests", "operators.remote.bucket_digests"),
    (remote_mod.DuckDBSide, "fetch_bucket_rows", "operators.remote.fetch"),
    (TableSegment, "count_and_checksum", "normalize.count_and_checksum"),
    (cli_mod, "main", "cli"),
]

_GROUP = "spark.jobGroup.id"


class _CountingConnection:
    """Wraps a DuckDB connection and counts the rows its Arrow fetches ship
    to Spark: the remote side's egress."""

    def __init__(self, con, tracer: "Tracer"):
        self._con, self._tracer = con, tracer

    def execute(self, *args):
        return _CountedResult(self._con.execute(*args), self._tracer)

    def __getattr__(self, name):
        return getattr(self._con, name)


class _CountedResult:
    def __init__(self, result, tracer: "Tracer"):
        self._result, self._tracer = result, tracer

    def fetch_arrow_table(self):
        table = self._result.fetch_arrow_table()
        self._tracer.count("operators.remote.rows_fetched", table.num_rows)
        return table

    def __getattr__(self, name):
        return getattr(self._result, name)


class Tracer:
    """Wraps ``Ops``: the same run/check/release interface, with spans, plus
    start() to begin recording and finish() to report."""

    def __init__(self, ops):
        self.ops = ops
        self.spark = ops.spark
        self.sc = ops.spark.sparkContext
        self.spans: List[dict] = []
        self.counts: Dict[str, List[float]] = defaultdict(list)
        self._ids = itertools.count(1)
        self._stack: List[dict] = []
        self._op_id: Optional[int] = None
        self.measuring = False
        for owner, attr, name in SHIMS:
            setattr(owner, attr, self._shim(getattr(owner, attr), name))
        ops.drain = self._drain(ops.drain)

    # -- spans ------------------------------------------------------------

    def _open(self, name: str) -> dict:
        span = {"id": next(self._ids), "name": name, "op_id": self._op_id,
                "parent": self._stack[-1]["id"] if self._stack else None,
                "start": time.time()}
        self._stack.append(span)
        self.sc.setLocalProperty(_GROUP, str(span["id"]))
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.time()
        self._stack.pop()
        self.sc.setLocalProperty(_GROUP, str(self._stack[-1]["id"]) if self._stack else None)
        if self.measuring:
            self.spans.append(span)

    def _shim(self, fn, name: str):
        tracer = self

        def timed(*args, **kwargs):
            if name == "operators.remote.fetch":
                side = args[0]
                if not isinstance(side.con, _CountingConnection):
                    side.con = _CountingConnection(side.con, tracer)
            span = tracer._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(span)

        timed.__wrapped__ = fn
        return timed

    def _drain(self, drain):
        def timed(algorithm, df):
            layer = "operators." + algorithm
            _, mb = storage_state(self.spark)
            self.count(layer + ".cache_mb", mb)
            span = self._open(layer + ".drain")
            try:
                return drain(algorithm, df)
            finally:
                self._close(span)

        return timed

    def count(self, name: str, value: float) -> None:
        if self.measuring:
            self.counts[name].append(value)

    # -- the Ops interface --------------------------------------------------

    def start(self) -> None:
        """Record from now on: the warm pass is not part of the trace."""
        self.measuring = True

    def run(self, op: str):
        self._op_id = next(self._ids)
        span = self._open("op." + op)
        try:
            if op == "checksum":
                t0 = time.perf_counter()
                out = (self.ops.t1.count_and_checksum(), self.ops.t2.count_and_checksum())
                return time.perf_counter() - t0, out
            return self.ops.run(op)
        finally:
            self._close(span)
            self._op_id = None

    def check(self, op: str, out) -> Optional[str]:
        if op == "checksum":
            (na, _), (nb, _) = out
            t = self.ops.truth
            ok = (na, nb) == (t.rows_a, t.rows_b)
            return None if ok else f"counts {(na, nb)} != {(t.rows_a, t.rows_b)}"
        return self.ops.check(op, out)

    def release(self, timeout: float = 10.0) -> int:
        leaked = self.ops.release(timeout)
        self.count("diff.leaked_cache_blocks", leaked)
        return leaked

    # -- the report ---------------------------------------------------------

    def finish(self, trace_dir: str, samples: Dict[str, List[float]]) -> dict:
        """Join spans with the event log; write spans.jsonl and layers.json
        to ``trace_dir``; return the per-layer metrics."""
        t0 = min(s["start"] for s in self.spans)
        jobs = [j for j in read_event_log(trace_dir) if j["start"] >= t0]
        by_span = defaultdict(list)
        for job in jobs:
            by_span[job["group"]].append(job)
        with open(os.path.join(trace_dir, "spans.jsonl"), "w") as f:
            for s in self.spans:
                f.write(json.dumps({k: s[k] for k in ("name", "start", "end", "parent", "op_id")}) + "\n")

        children = defaultdict(list)
        for s in self.spans:
            children[s["parent"]].append(s)

        def subtree(s):
            out = [s]
            for c in children[s["id"]]:
                out += subtree(c)
            return out

        def jobs_of(spans):
            return [j for s in spans for j in by_span.get(str(s["id"]), [])]

        def self_s(s):
            return _dur(s) - _covered(s, [(c["start"], c["end"]) for c in children[s["id"]]])

        roots = [s for s in self.spans if s["parent"] is None]
        per_op = defaultdict(list)  # op -> [op summary]
        table = defaultdict(lambda: defaultdict(list))  # op -> layer -> [self s]
        for root in roots:
            op = root["name"][3:]
            spans = subtree(root)
            js = jobs_of(spans)
            per_op[op].append(dict(_job_stats(js), wall_s=_dur(root),
                                   driver_only_s=_dur(root) - _covered(root, [(j["start"], j["end"]) for j in js])))
            layer_self = defaultdict(float)
            for s in spans:
                layer_self[s["name"]] += self_s(s)
            for name, v in layer_self.items():
                table[op][name].append(v)

        def spans_named(name):
            return [s for s in self.spans if s["name"] == name]

        def mean(xs):
            return statistics.fmean(xs) if xs else 0.0

        def span_s(name):
            return mean([_dur(s) for s in spans_named(name)])

        def op_stat(op, key):
            return mean([o[key] for o in per_op.get(op, [])])

        checksum_jobs = jobs_of(spans_named("normalize.count_and_checksum"))
        checksum_cpu = sum(j["cpu_s"] for j in checksum_jobs)
        checksum_rows = len(spans_named("normalize.count_and_checksum")) / 2 * (
            self.ops.truth.rows_a + self.ops.truth.rows_b)
        fetched = mean(self.counts.get("operators.remote.rows_fetched", []))
        cli_spans = spans_named("cli")

        def after_remote(cli_span):
            """The CLI's drain of a remote diff: from hash_diff_remote
            returning to the end of printing; 0 without a remote side."""
            inner = [s for s in subtree(cli_span) if s["name"] == "operators.remote"]
            return cli_span["end"] - inner[0]["end"] if inner else 0.0

        m = {
            "normalize.checksum_s": (span_s("normalize.count_and_checksum"), "s"),
            "normalize.rows_per_cpu_s": (checksum_rows / checksum_cpu if checksum_cpu else 0.0, "rows/s"),
            "operators.hashdiff.construct_s": (span_s("operators.hashdiff"), "s"),
            "operators.hashdiff.drain_s": (span_s("operators.hashdiff.drain"), "s"),
            "operators.hashdiff.cache_mb": (mean(self.counts.get("operators.hashdiff.cache_mb", [])), "MB"),
        }
        for key, unit in (("jobs", "count"), ("tasks", "count"), ("executor_cpu_s", "s"),
                          ("shuffle_write_mb", "MB"), ("input_mb", "MB"), ("spill_mb", "MB"),
                          ("gc_s", "s"), ("driver_only_s", "s")):
            m[f"operators.hashdiff.{key}"] = (op_stat("hashdiff", key), unit)
        m["operators.joindiff.drain_s"] = (span_s("operators.joindiff.drain"), "s")
        for key, unit in (("jobs", "count"), ("executor_cpu_s", "s"),
                          ("shuffle_write_mb", "MB"), ("driver_only_s", "s")):
            m[f"operators.joindiff.{key}"] = (op_stat("joindiff", key), unit)
        m.update({
            "unify.unify_precisions_s": (span_s("unify"), "s"),
            "operators.remote.bucket_digests_s": (span_s("operators.remote.bucket_digests"), "s"),
            "operators.remote.fetch_s": (span_s("operators.remote.fetch"), "s"),
            "operators.remote.construct_s": (span_s("operators.remote"), "s"),
            "operators.remote.drain_s": (mean([after_remote(s) for s in cli_spans]), "s"),
            "operators.remote.rows_fetched": (fetched, "rows"),
            # the fetched rows that are '+' rows of the diff
            "operators.remote.fetch_useful_ratio": (len(self.ops.truth.plus) / fetched if fetched else 0.0, "ratio"),
            "sources.connect.connect_to_table_s": (span_s("sources.connect"), "s"),
            "refine.refined_s": (span_s("refine"), "s"),
            "refine.jobs": (mean([len(jobs_of([s])) for s in spans_named("refine")]), "count"),
            "diff.get_stats_dict_s": (span_s("diff.get_stats_dict"), "s"),
            "cli.self_s": (mean([self_s(s) for s in cli_spans]), "s"),
            "diff.leaked_cache_blocks": (sum(self.counts.get("diff.leaked_cache_blocks", [])), "count"),
        })

        layers = {
            "ops": {op: {"n": len(v), "median_s": statistics.median(v)} for op, v in samples.items() if v},
            "self_time_s": {op: {name: mean(v) for name, v in sorted(t.items(), key=lambda kv: -mean(kv[1]))}
                            for op, t in table.items()},
            "per_op": {op: {k: mean([o[k] for o in v]) for k in v[0]} for op, v in per_op.items()},
            "unattributed_jobs": len(by_span.get(None, [])),
        }
        with open(os.path.join(trace_dir, "layers.json"), "w") as f:
            json.dump(layers, f, indent=1)
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _dur(span) -> float:
    return span["end"] - span["start"]


def _covered(span, intervals) -> float:
    """Seconds of ``span`` covered by the union of ``intervals``."""
    lo, hi = span["start"], span["end"]
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _job_stats(jobs: List[dict]) -> dict:
    return {
        "jobs": len(jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "executor_cpu_s": sum(j["cpu_s"] for j in jobs),
        "shuffle_write_mb": sum(j["shuffle_write_b"] for j in jobs) / 1e6,
        "input_mb": sum(j["input_b"] for j in jobs) / 1e6,
        "spill_mb": sum(j["spill_b"] for j in jobs) / 1e6,
        "gc_s": sum(j["gc_ms"] for j in jobs) / 1e3,
    }


def read_event_log(trace_dir: str) -> List[dict]:
    """Jobs of the run's (uncompressed) Spark event log, with their group,
    wall interval and summed task metrics."""
    (path,) = [p for p in glob.glob(os.path.join(trace_dir, "*")) if os.path.basename(p).startswith(("local-", "app-"))]
    jobs: Dict[int, dict] = {}
    stage_jobs: Dict[int, List[int]] = defaultdict(list)
    tasks = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jid = e["Job ID"]
                jobs[jid] = {"id": jid, "group": (e.get("Properties") or {}).get(_GROUP),
                             "start": e["Submission Time"] / 1e3, "end": None, "tasks": 0,
                             "cpu_s": 0.0, "shuffle_write_b": 0, "input_b": 0, "spill_b": 0, "gc_ms": 0}
                for sid in e["Stage IDs"]:
                    stage_jobs[sid].append(jid)
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
                tasks.append(e)
    for e in tasks:
        launch = e["Task Info"]["Launch Time"] / 1e3
        owners = [jobs[j] for j in stage_jobs[e["Stage ID"]] if jobs[j]["start"] <= launch]
        if not owners:
            continue
        job = max(owners, key=lambda j: j["start"])
        tm = e["Task Metrics"]
        job["tasks"] += 1
        job["cpu_s"] += tm["Executor CPU Time"] / 1e9
        job["shuffle_write_b"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        job["input_b"] += tm["Input Metrics"]["Bytes Read"]
        job["spill_b"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
        job["gc_ms"] += tm["JVM GC Time"]
    return [j for j in jobs.values() if j["end"] is not None]
