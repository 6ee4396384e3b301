"""Property-based invariants (hypothesis) for the checksum/diff core.

Strategy note: one shared Spark session, data pushed through
spark.createDataFrame per example — examples kept small and counts low so
the suite stays fast; the properties (not volume) are the point.
"""

import hashlib

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_diff_spark.constants import CHECKSUM_OFFSET

VALUES = st.one_of(
    st.none(),
    st.integers(min_value=-(2**31), max_value=2**31),
    st.text(alphabet=st.characters(codec="ascii", exclude_characters="\x00"), max_size=12),
)

ROWS = st.lists(
    st.tuples(st.integers(min_value=0, max_value=50), VALUES), min_size=1, max_size=12
)

COMMON = dict(
    deadline=None,
    max_examples=12,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id int, v string")


def str_to_checksum(s: str) -> int:
    """The reference's Python-side golden formula (tests/common.py:117-127)."""
    md5 = hashlib.md5(s.encode("utf-8")).hexdigest()
    return int(md5[-12:], 16) - CHECKSUM_OFFSET


@settings(**COMMON)
@given(rows=ROWS)
def test_checksum_is_permutation_invariant(spark, rows):
    """sum(row_checksum) must not depend on row order or partitioning —
    the property that makes bucket digests comparable."""
    from data_diff_spark import table_segment

    norm = [(i, None if v is None else str(v)) for i, v in rows]
    t_fwd = table_segment(_mk(spark, norm), ["id"])
    t_rev = table_segment(_mk(spark, list(reversed(norm))).repartition(5), ["id"])
    assert t_fwd.count_and_checksum() == t_rev.count_and_checksum()


@settings(**COMMON)
@given(rows=ROWS)
def test_diff_of_identical_multisets_is_empty(spark, rows):
    from data_diff_spark import table_segment
    from data_diff_spark.operators.hashdiff import hash_diff

    norm = [(i, None if v is None else str(v)) for i, v in rows]
    t1 = table_segment(_mk(spark, norm), ["id"])
    t2 = table_segment(_mk(spark, list(reversed(norm))), ["id"])
    assert hash_diff(t1, t2, n_buckets=8).count() == 0


@settings(**COMMON)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 5)), min_size=1, max_size=10, unique_by=lambda r: r[0]
    ),
    delta=st.tuples(st.integers(0, 30), st.integers(6, 9)),
)
def test_single_row_change_is_detected(spark, rows, delta):
    """Changing exactly one row's value produces exactly that row as a
    -/+ pair (joindiff) for unique PKs."""
    from data_diff_spark import table_segment
    from data_diff_spark.operators.joindiff import join_diff

    key, newv = delta
    base = [(i, str(v)) for i, v in rows]
    if key not in {i for i, _ in rows}:
        base_with = base + [(key, "x")]
    else:
        base_with = base
    changed = [(i, str(newv) if i == key else v) for i, v in base_with]
    t1 = table_segment(_mk(spark, base_with), ["id"])
    t2 = table_segment(_mk(spark, changed), ["id"])
    got = join_diff(t1, t2).collect()
    assert sorted((r[0], r[1]) for r in got) == [("+", key), ("-", key)]


@settings(**COMMON)
@given(s=st.text(alphabet=st.characters(codec="ascii", exclude_characters="\x00"), max_size=40))
def test_md5_as_int_matches_python_golden(spark, s):
    from pyspark.sql import functions as F

    from data_diff_spark.normalize import md5_as_int

    df = spark.createDataFrame([(s,)], "s string")
    got = df.select(md5_as_int("s").alias("c")).collect()[0]["c"]
    assert int(got) == str_to_checksum(s)


# --- cross-engine normalization fuzz ---------------------------------------
# The normalize layer is the crown jewel (SURVEY §1.3): Spark's canonical
# strings must match the remote dialect's rendering bit-for-bit, else every
# cross-engine digest mismatches. Fuzz it directly against DuckDB.


def _duck():
    import duckdb

    return duckdb.connect()


@settings(**COMMON)
@given(
    vals=st.lists(
        st.decimals(allow_nan=False, allow_infinity=False, places=2,
                    min_value=-10**12, max_value=10**12),
        min_size=1, max_size=5),
    scale=st.integers(min_value=0, max_value=6),
)
def test_decimal_normalization_matches_duckdb(spark, vals, scale):
    from pyspark.sql import functions as F

    from data_diff_spark.normalize import normalize_as_string
    from data_diff_spark.operators.remote import DuckDBDialect
    from pyspark.sql import types as T

    df = spark.createDataFrame([(str(v),) for v in vals], "v string")
    got = [
        r["n"] for r in df.select(
            normalize_as_string(
                f"cast(v as decimal(24,{scale}))", T.DecimalType(24, scale)
            ).alias("n")
        ).collect()
    ]
    con = _duck()
    sql = DuckDBDialect().norm_sql("v", f"DECIMAL(24,{scale})")
    want = [
        con.execute(f"select {sql} from (select cast(? as decimal(24,{scale})) as v)",
                    [str(v)]).fetchone()[0]
        for v in vals
    ]
    assert got == want


@settings(**COMMON)
@given(
    ts=st.lists(
        st.datetimes(min_value=__import__("datetime").datetime(1970, 1, 2),
                     max_value=__import__("datetime").datetime(2261, 1, 1)),
        min_size=1, max_size=5),
)
def test_timestamp_normalization_matches_duckdb(spark, ts):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from data_diff_spark.normalize import normalize_as_string
    from data_diff_spark.operators.remote import DuckDBDialect

    df = spark.createDataFrame([(t,) for t in ts], "v timestamp_ntz")
    got = [
        r["n"] for r in df.select(
            normalize_as_string("v", T.TimestampNTZType()).alias("n")
        ).collect()
    ]
    con = _duck()
    sql = DuckDBDialect().norm_sql("v", "TIMESTAMP")
    want = [
        con.execute(f"select {sql} from (select cast(? as timestamp) as v)", [t]).fetchone()[0]
        for t in ts
    ]
    assert got == want


@settings(**COMMON)
@given(vals=st.lists(
    st.floats(allow_nan=False, allow_infinity=False, min_value=-1e15, max_value=1e15),
    min_size=1, max_size=5))
def test_double_normalization_matches_duckdb(spark, vals):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from data_diff_spark.normalize import normalize_as_string
    from data_diff_spark.operators.remote import DuckDBDialect

    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = [
        r["n"] for r in df.select(
            normalize_as_string("v", T.DoubleType()).alias("n")
        ).collect()
    ]
    con = _duck()
    sql = DuckDBDialect().norm_sql("v", "DOUBLE")
    want = [
        con.execute(f"select {sql} from (select cast(? as double) as v)", [v]).fetchone()[0]
        for v in vals
    ]
    assert got == want


# --- round-3 operators ------------------------------------------------------


@settings(deadline=None, max_examples=200)
@given(
    a=st.integers(min_value=0, max_value=2**21 - 1),
    b=st.integers(min_value=0, max_value=2**21 - 1),
)
def test_morton_bijective_and_monotone_per_axis(a, b):
    """Pure-python replica of the Column arithmetic: the interleave is
    injective (decodes back exactly) and stays inside 42 bits."""
    from tests.test_snapshot import _py_morton

    z = _py_morton(a, b)
    da = sum(((z >> (2 * i)) & 1) << i for i in range(21))
    db = sum(((z >> (2 * i + 1)) & 1) << i for i in range(21))
    assert (da, db) == (a, b)
    assert 0 <= z < 2**42


@settings(**COMMON)
@given(
    toks=st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=20),
    budget=st.integers(min_value=1, max_value=40),
)
def test_pack_sequences_invariants(spark, toks, budget):
    """Offsets always inside the budget; starts are a prefix-sum chunking
    of the shard stream; total tokens preserved."""
    from data_diff_spark.functions.packing import PACKS_PER_SHARD, pack_sequences

    rows = [(i, n) for i, n in enumerate(toks)]
    df = spark.createDataFrame(rows, "doc_id long, ntok long")
    out = pack_sequences(df, budget=budget, tokens_col="ntok", n_shards=1)
    got = sorted((r["doc_id"], r["pack_id"], r["pack_offset"]) for r in out.collect())
    cum = 0
    for doc_id, pack_id, off in got:
        assert pack_id == cum // budget
        assert off == cum % budget
        cum += toks[doc_id]


@settings(**COMMON)
@given(
    left=st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=10, unique=True),
    right=st.lists(st.integers(min_value=0, max_value=40), min_size=0, max_size=10, unique=True),
)
def test_asof_backward_is_floor_lookup(spark, left, right):
    """asof backward == per-row floor search in the right timestamps."""
    from data_diff_spark.operators.temporal import asof_join

    l = spark.createDataFrame([(1, t) for t in left], "k int, t int")
    r = spark.createDataFrame([(1, t, float(t)) for t in right], "k int, t int, v double")
    got = {row["t"]: row["r_t"] for row in asof_join(l, r, on="t", by=["k"]).collect()}
    for t in left:
        floor = max((rt for rt in right if rt <= t), default=None)
        assert got[t] == floor


@given(
    st.lists(st.text(alphabet="ab", min_size=1, max_size=9),
             min_size=1, max_size=6),
    st.tuples(st.sampled_from(["a", "b", "ab", "ba", "aa", "</w>"]),
              st.sampled_from(["a", "b", "ab", "ba", "aa", "</w>"])),
)
@settings(max_examples=200, deadline=None)
def test_bpe_fold_sql_matches_apply_merge_scan(words, merge):
    """Property pin for the clean_docs oracle's merge replay
    (_bpe_fold_sql): over random two-letter words — the alphabet where
    overlapping merge occurrences are densest — the DuckDB list_reduce
    fold must equal _apply_merge's left-to-right non-overlapping scan
    for ANY (a, b) merge pair, including a == b and merged symbols."""
    import duckdb

    from data_diff_spark.workload import _bpe_fold_sql

    a, b = merge

    def scan_fold(syms):
        out_, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out_.append(a + b)
                i += 2
            else:
                out_.append(syms[i])
                i += 1
        return out_

    rows = []
    for wd in words:
        syms = list(wd) + ["</w>"]
        rows.append((" " + " ".join(syms) + " ", scan_fold(syms)))

    con = duckdb.connect()
    # parameterized via a literal table: one row per word
    vals = ", ".join("(?)" for _ in rows)
    q = (f"with w(s) as (values {vals}), m(a, b) as (select ?, ?) "
         f"select {_bpe_fold_sql('m.a', 'm.b')} as f from w, m")
    res = con.execute(q, [s for s, _ in rows] + [a, b]).fetchall()
    for (f,), (_, want) in zip(res, rows):
        assert f == " " + " ".join(want) + " ", (f, want, merge)


BUDGET_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=40),            # id (unique-ified below)
        st.floats(min_value=0.0, max_value=1.0,
                  allow_nan=False, allow_infinity=False),   # score (ties likely via rounding)
        st.integers(min_value=0, max_value=30),             # n_tok
    ),
    min_size=1, max_size=25,
)


@settings(**COMMON)
@given(rows=BUDGET_ROWS,
       budget=st.integers(min_value=0, max_value=200),
       shape=st.sampled_from([(1024, 1 << 17), (3, 2), (2, 1)]))
def test_token_budget_equals_global_sort_prefix(spark, rows, budget, shape):
    """select_by_token_budget (histogram threshold search, any bucket
    shape) == the greedy prefix of the (score desc, id asc) global sort.
    Scores are rounded to 1 decimal so exact ties exercise the id-range
    refinement phase."""
    from data_diff_spark.functions.sampling import select_by_token_budget
    from pyspark.sql import functions as F

    uniq = {}
    for i, s, t in rows:
        uniq.setdefault(i, (i, round(s, 1), t))
    data = list(uniq.values())
    df = spark.createDataFrame(data, "doc_id long, s double, t long")
    nb, mt = shape
    got = select_by_token_budget(
        df, budget, score=F.col("s"), n_tokens=F.col("t"),
        n_buckets=nb, max_tail_rows=mt,
    )
    ids = {r["doc_id"] for r in got.collect()}
    kept, cum = set(), 0
    for i, s, t in sorted(data, key=lambda r: (-r[1], r[0])):
        cum += t
        if cum <= budget:
            kept.add(i)
        else:
            break
    assert ids == kept
    spark.catalog.clearCache()


EDGES = st.lists(
    st.tuples(st.integers(min_value=0, max_value=20), st.integers(min_value=0, max_value=20)),
    min_size=1, max_size=20,
).map(lambda es: [e for e in es if e[0] != e[1]])


@settings(**COMMON)
@given(edges=EDGES)
def test_components_local_matches_min_label_reference(spark, edges):
    """The driver union-find (small-graph fast path) must assign every node
    the MINIMUM id reachable from it — checked against a transitive-closure
    reference."""
    from data_diff_spark.operators import dedup as DD

    if not edges:
        return
    pairs = spark.createDataFrame(edges, "id_a int, id_b int")
    got = {r["id"]: r["component"] for r in DD.components(pairs).collect()}
    # reference: repeated relaxation to fixpoint
    nodes = {v for e in edges for v in e}
    lbl = {v: v for v in nodes}
    changed = True
    while changed:
        changed = False
        for a, b in edges:
            m = min(lbl[a], lbl[b])
            if lbl[a] != m or lbl[b] != m:
                lbl[a] = lbl[b] = m
                changed = True
    assert got == lbl
