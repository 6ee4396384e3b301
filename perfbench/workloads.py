"""Seeded table-pair workloads with an exact record of the injected diff.

Each workload is a pair of tables A and B that are equal except for a known
set of changed keys: updates (one column changed), deletes (key only in A)
and inserts (key only in B). The generator returns both tables as Arrow
tables plus a ``Truth`` holding the expected diff, so every diff the library
returns can be checked row by row.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, Tuple

import numpy as np
import pyarrow as pa

KEY = "id"
COLUMNS = ["id", "amount", "qty", "score", "ts", "name", "flag", "code", "note"]
# columns an update may touch, and how (see _apply_updates)
_UPDATABLE = COLUMNS[1:]

_TS_LO = 1_577_836_800_000_000  # 2020-01-01 in microseconds since the epoch
_TS_SPAN = 5 * 365 * 86_400_000_000


@dataclass(frozen=True)
class Workload:
    """One benchmark workload: the table shape, its diff, and how the CLI op
    is invoked on it. Why each exists is in BENCHMARK.json and NOTES.md."""

    name: str
    rows: int  # rows of A; B has rows - deletes + inserts
    change_rate: float  # changed keys / rows
    type_skew: bool  # B stores amount as decimal(12,2) and qty as bigint
    cli_flags: Tuple[str, ...]
    remote: bool  # the CLI reads B from DuckDB in --remote-digest mode


WORKLOADS: Dict[str, Workload] = {
    w.name: w
    for w in (
        # ~10 changed keys: hashdiff's digests prune almost every bucket
        Workload("sparse_migration", 50_000, 0.0002, True, ("--stats",), False),
        # B matches A's types: hash_diff_remote does not unify precisions
        Workload("cross_engine", 20_000, 0.01, False, ("--remote-digest", "--json"), True),
    )
}


@dataclass
class Truth:
    """The injected diff. ``minus`` and ``plus`` map key -> canonical row
    (see ``canonical``) of the rows a correct diff emits with that sign."""

    minus: Dict[int, tuple]
    plus: Dict[int, tuple]
    rows_a: int
    rows_b: int
    updated: int
    deleted: int
    inserted: int


def canonical(amount, qty, score, ts_us, name, flag, code, note) -> tuple:
    """Type-independent form of one row's non-key values: amount in whole
    cents (a double and a decimal(12,2) of equal value agree), timestamps in
    microseconds, everything else as the Python value."""
    cents = None if amount is None else int(round(float(amount) * 100))
    return (
        cents,
        None if qty is None else int(qty),
        None if score is None else float(score),
        None if ts_us is None else int(ts_us),
        name,
        None if flag is None else bool(flag),
        code,
        note,
    )


def _vocab(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789 -_", dtype="S1")
    out = []
    for length in rng.integers(lo, hi + 1, size=n):
        out.append(b"".join(rng.choice(letters, size=length)).decode())
    return np.array(out, dtype=object)


def _with_nulls(rng: np.random.Generator, values: np.ndarray, rate: float) -> np.ndarray:
    out = values.astype(object)
    out[rng.random(len(values)) < rate] = None
    return out


def _base_columns(rng: np.random.Generator, n: int, first_id: int) -> Dict[str, np.ndarray]:
    names = _vocab(rng, 2000, 6, 14)
    codes = np.array([a + b for a in "ABCDEFGHIJKLMNOPQRSTUVWXYZ" for b in "ABCDEFGHIJ"], dtype=object)
    notes = _vocab(rng, 5000, 20, 48)
    return {
        "id": np.arange(first_id, first_id + n, dtype=np.int64),
        "amount": rng.integers(0, 10_000_000, size=n) / 100.0,
        "qty": _with_nulls(rng, rng.integers(0, 1000, size=n), 0.05),
        "score": _with_nulls(rng, rng.random(size=n) * 1000.0, 0.03),
        "ts": rng.integers(_TS_LO, _TS_LO + _TS_SPAN, size=n, dtype=np.int64),
        "name": _with_nulls(rng, names[rng.integers(0, len(names), size=n)], 0.03),
        "flag": rng.random(size=n) < 0.5,
        "code": _with_nulls(rng, codes[rng.integers(0, len(codes), size=n)], 0.02),
        "note": _with_nulls(rng, notes[rng.integers(0, len(notes), size=n)], 0.10),
    }


def _apply_updates(rng: np.random.Generator, cols: Dict[str, np.ndarray], rows: np.ndarray) -> None:
    """Change exactly one column of each row in ``rows`` (positions), by an
    amount every normalization precision the library uses can see."""
    which = rng.integers(0, len(_UPDATABLE), size=len(rows))
    for i, col in enumerate(_UPDATABLE):
        pos = rows[which == i]
        if not len(pos):
            continue
        v = cols[col]
        if col == "amount":
            v[pos] = v[pos] + 1.0
        elif col == "qty":
            v[pos] = [1 if x is None else x + 1 for x in v[pos]]
        elif col == "score":
            v[pos] = [0.5 if x is None else x + 0.5 for x in v[pos]]
        elif col == "ts":
            v[pos] = v[pos] + 1_000_000
        elif col == "flag":
            v[pos] = ~v[pos]
        else:  # name, code, note: strings
            v[pos] = ["changed" if x is None else x + "~" for x in v[pos]]


def _arrow(cols: Dict[str, np.ndarray], type_skew: bool) -> pa.Table:
    amount = pa.array(cols["amount"], pa.float64())
    qty = pa.array(cols["qty"], pa.int32())
    if type_skew:
        amount = amount.cast(pa.decimal128(12, 2))
        qty = qty.cast(pa.int64())
    return pa.table({
        "id": pa.array(cols["id"], pa.int64()),
        "amount": amount,
        "qty": qty,
        "score": pa.array(cols["score"], pa.float64()),
        "ts": pa.array(cols["ts"], pa.timestamp("us", tz="UTC")),
        "name": pa.array(cols["name"], pa.string()),
        "flag": pa.array(cols["flag"], pa.bool_()),
        "code": pa.array(cols["code"], pa.string()),
        "note": pa.array(cols["note"], pa.string()),
    })


def _canonical_rows(cols: Dict[str, np.ndarray], pos: np.ndarray) -> Dict[int, tuple]:
    return {
        int(cols["id"][p]): canonical(*(cols[c][p] for c in COLUMNS[1:]))
        for p in pos
    }


def generate(w: Workload, seed: int) -> Tuple[pa.Table, pa.Table, Truth]:
    """Tables A and B and the exact diff between them, all from ``seed``."""
    rng = np.random.default_rng([seed, sum(map(ord, w.name))])
    n = w.rows
    a = _base_columns(rng, n, 0)
    changed = max(5, int(round(n * w.change_rate)))
    n_upd = changed * 6 // 10
    n_del = changed * 2 // 10
    n_ins = changed - n_upd - n_del
    picked = rng.choice(n, size=n_upd + n_del, replace=False)
    upd, dele = np.sort(picked[:n_upd]), np.sort(picked[n_upd:])

    b = {k: v.copy() for k, v in a.items()}
    _apply_updates(rng, b, upd)
    keep = np.ones(n, dtype=bool)
    keep[dele] = False
    ins = _base_columns(rng, n_ins, n)
    b = {k: np.concatenate([v[keep], ins[k]]) for k, v in b.items()}

    minus = _canonical_rows(a, np.concatenate([upd, dele]))
    # positions in B: updated rows shifted left by the deletes before them,
    # inserted rows at the end
    upd_b = upd - np.searchsorted(dele, upd)
    ins_b = np.arange(n - n_del, n - n_del + n_ins)
    plus = _canonical_rows(b, np.concatenate([upd_b, ins_b]))
    truth = Truth(minus, plus, n, n - n_del + n_ins, n_upd, n_del, n_ins)
    return _arrow(a, False), _arrow(b, w.type_skew), truth


def remote_copy(table: pa.Table) -> pa.Table:
    """B as loaded into DuckDB: timestamps without a zone, which DuckDB
    renders like Spark's UTC session. The remote workload has no type skew:
    ``hash_diff_remote`` does not unify precisions across engines (a known
    defect), so a decimal(12,2) remote column against a Spark double would
    differ on every row."""
    i = table.schema.get_field_index("ts")
    return table.set_column(i, "ts", table.column("ts").cast(pa.timestamp("us")))
