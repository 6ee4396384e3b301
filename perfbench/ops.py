"""The benchmark's operations on one table pair, and the checks of their output.

Every operation goes through the library's public API and ends with its rows
(or the CLI's printed output) on the driver. ``Ops.run`` times exactly that;
``Ops.check`` compares the output with the workload's ``Truth`` afterwards,
and ``Ops.release`` frees what the operation cached and confirms Spark's
storage is empty, so no operation can be served from another's cache.
"""

from __future__ import annotations

import contextlib
import io
import json
import time
from collections import Counter
from datetime import datetime, timedelta, timezone
from typing import Dict, List, Optional, Tuple

import pyarrow as pa

from data_diff_spark import cli
from data_diff_spark import diff as D
from data_diff_spark.operators.joindiff import SIGN_COL
from data_diff_spark.table import table_segment

from workloads import COLUMNS, KEY, Truth, Workload, canonical

# Every workload runs the same operations, so every workload reports every
# metric: the two library diffs over the parquet pair, then the CLI with the
# workload's flags.
OPS = ("joindiff", "hashdiff", "cli")

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def storage_state(spark) -> Tuple[int, float]:
    """(cached plans + cached partitions, storage MB) held by the session."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    blocks = sum(i.numCachedPartitions() for i in infos)
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 1e6
    plans = 0 if spark._jsparkSession.sharedState().cacheManager().isEmpty() else 1
    return plans + blocks, mb


class Ops:
    """The operations of one run, bound to its session, inputs and truth."""

    def __init__(self, spark, w: Workload, a_path: str, b_path: str, b_cli_uri: str,
                 truth: Truth):
        self.spark = spark
        self.truth = truth
        self.t1 = table_segment(spark.read.parquet(a_path), [KEY])
        self.t2 = table_segment(spark.read.parquet(b_path), [KEY])
        self.cli_argv = [f"parquet://{a_path}", b_cli_uri, "-k", KEY, *w.cli_flags]
        self.rows_compared = truth.rows_a + truth.rows_b
        self._result = None  # the last API diff, released by release()

    def run(self, op: str):
        """Run one operation; returns (seconds, output)."""
        fn = getattr(self, "_" + op)
        t0 = time.perf_counter()
        out = fn()
        return time.perf_counter() - t0, out

    def _api(self, algorithm: str) -> pa.Table:
        self._result = D.diff_tables(self.t1, self.t2, algorithm=algorithm)
        return self.drain(algorithm, self._result.df)

    def drain(self, algorithm: str, df) -> pa.Table:
        """Bring every diff row to the driver."""
        return df.toArrow()

    def _joindiff(self) -> pa.Table:
        return self._api("joindiff")

    def _hashdiff(self) -> pa.Table:
        return self._api("hashdiff")

    def _cli(self) -> str:
        out, err = io.StringIO(), io.StringIO()
        with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
            code = cli.main(self.cli_argv, spark=self.spark)
        if code != 0:
            raise RuntimeError(f"cli exited {code}: {err.getvalue()[-500:]}")
        return out.getvalue()

    def release(self, timeout: float = 10.0) -> int:
        """Free the last operation's caches through ``DiffResult.unpersist``
        (the CLI frees its own), then wait for Spark's storage to be empty.
        Returns the cached plans and partitions still held at the timeout: 0
        unless the library leaks. A leak is cleared so the next operation
        starts cold."""
        if self._result is not None:
            self._result.unpersist()
            self._result = None
        deadline = time.perf_counter() + timeout
        while True:
            held, _ = storage_state(self.spark)
            if not held:
                return 0
            if time.perf_counter() > deadline:
                self.spark.catalog.clearCache()
                return held
            time.sleep(0.01)

    # -- checks -----------------------------------------------------------

    def check(self, op: str, out) -> Optional[str]:
        """None if ``out`` matches the truth, else the first difference."""
        if op != "cli":
            return self._check_rows(_arrow_rows(out))
        if "--stats" in self.cli_argv:
            return self._check_stats(out)
        return self._check_rows(_json_rows(out))

    def _check_rows(self, rows: List[Tuple[str, int, tuple]]) -> Optional[str]:
        got = Counter((s, k) for s, k, _ in rows)
        want = Counter([("-", k) for k in self.truth.minus] + [("+", k) for k in self.truth.plus])
        if got != want:
            extra, missing = got - want, want - got
            return (f"(sign, key) multiset differs: {sum(extra.values())} unexpected "
                    f"{sorted(extra)[:3]}, {sum(missing.values())} missing {sorted(missing)[:3]}")
        for sign, key, values in rows:
            expected = (self.truth.minus if sign == "-" else self.truth.plus)[key]
            if values != expected:
                return f"values of ({sign}, {key}) differ: {values} != {expected}"
        return None

    def _check_stats(self, text: str) -> Optional[str]:
        got: Dict[str, int] = {}
        for line in text.splitlines():
            k, _, v = line.partition(": ")
            got[k] = int(v)
        t = self.truth
        minus = t.updated + t.deleted
        want = {
            "rows_A": t.rows_a, "rows_B": t.rows_b,
            "exclusive_A": t.deleted, "exclusive_B": t.inserted,
            "updated": t.updated, "unchanged": t.rows_a - minus,
            "total": minus + t.updated + t.inserted,
        }
        return None if got == want else f"stats {got} != {want}"


def _arrow_rows(table: pa.Table) -> List[Tuple[str, int, tuple]]:
    ts = table.column("ts").cast(pa.timestamp("us")).cast(pa.int64())
    table = table.set_column(table.schema.get_field_index("ts"), "ts", ts)
    cols = [table.column(c).to_pylist() for c in [SIGN_COL, *COLUMNS]]
    return [(r[0], r[1], canonical(*r[2:])) for r in zip(*cols)]


def _json_rows(text: str) -> List[Tuple[str, int, tuple]]:
    """Rows the CLI printed with --json; it prints timestamps as UTC text."""
    rows = []
    for line in text.splitlines():
        d = json.loads(line)
        if d["ts"] is not None:
            dt = datetime.fromisoformat(d["ts"]).replace(tzinfo=timezone.utc)
            d["ts"] = (dt - _EPOCH) // timedelta(microseconds=1)
        rows.append((d[SIGN_COL], d[KEY], canonical(*(d[c] for c in COLUMNS[1:]))))
    return rows
