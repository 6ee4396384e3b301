"""hashdiff — checksum-bucketed diff, the cross-engine algorithm.

Spark redesign of /root/reference/data_diff/hashdiff_tables.py:88-264.

The reference recursively bisects the key space, issuing one
count+md5-checksum SQL query per segment per side per level, because each
round-trip to a remote database is expensive. In Spark a single shuffle
replaces the whole recursion tree (SURVEY.md §4.3):

  1. per row: checksum = md5_as_int(fingerprint(normalized cols)),
     bucket = pmod(xxhash64(normalized keys), n_buckets)
  2. per side: groupBy(bucket).agg(count, sum(checksum))   -- map-side
     combined partial aggregation; the shuffle moves only n_buckets rows
  3. compare the two tiny digest tables; equal digests prune the bucket
     (the reference's checksum-equality pruning, hashdiff_tables.py:210-212)
  4. only rows of mismatched buckets are re-read and diffed with the exact
     diff_sets duplicate-PK semantics (hashdiff_tables.py:30-84)

Cost on a cluster: two scans with count/sum partial aggs (the Spark analogue
of "within an order of magnitude of count(*)", README.md:191) plus work
proportional to the number of *differing* buckets — not to table size.

The checksum formula is bit-identical to every reference dialect (see
normalize.py), so step 2's digests can also be computed by a remote
PostgreSQL/DuckDB/Snowflake via the reference's segment SQL
(table_segment.py:239-258) for true cross-engine comparisons.
"""

from __future__ import annotations

from typing import Dict, List, NamedTuple, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_diff_spark.normalize import (
    fingerprint_sql,
    md5_as_int_sql,
    normalized_sql,
    null_safe_sql,
    quote_ident as q,
)
from data_diff_spark.operators.joindiff import SIGN_COL, _check_consistent
from data_diff_spark.table import TableSegment

DEFAULT_N_BUCKETS = 4096  # floor for auto-sizing; replaces bisection_factor
_AUTO_ROWS_PER_BUCKET = 16  # target bucket size so a dirty row dirties ~1 bucket
_ISIN_LIMIT = 8192  # above this, filter dirty buckets with a join, not a literal list
_BROADCAST_KEYS_LIMIT = 2_000_000  # differing-PK sets up to this broadcast for the narrow re-read
_FINE_LEVEL_MIN_ROWS = 2_000_000  # below this many dirty-coarse rows, go straight to phase 2

_CKS = "__cks__"
_BUCKET = "__bucket__"
_CNT = "__cnt__"
_SUM = "__sum__"
_H = "__keyhash__"


def _knorm(i: int) -> str:
    return f"__knorm{i}__"


class _SideSQL(NamedTuple):
    """One side's recipe, rendered once per diff: its columns renamed to the
    shared output names, the row checksum and the NULL-safe normalized key
    strings (SQL text, see normalize.py)."""

    renamed: List[str]
    cks: str
    knorm: List[str]

    def knorm_exprs(self) -> List[str]:
        return [f"{k} AS {_knorm(i)}" for i, k in enumerate(self.knorm)]

    def keyhash_expr(self) -> str:
        return f"xxhash64({', '.join(self.knorm)}) AS {_H}"


def _side_sql(t: TableSegment, cols: List[str], out_names: List[str]) -> _SideSQL:
    normd = normalized_sql(t.schema, cols, t.precision_overrides, t.kind_overrides)
    return _SideSQL(
        [f"{q(c)} AS {q(o)}" for c, o in zip(cols, out_names)],
        md5_as_int_sql(fingerprint_sql(normd)),
        [null_safe_sql(s) for s in normd[:len(t.key_columns)]],
    )


def _annotated_narrow(t: TableSegment, side: _SideSQL) -> DataFrame:
    """Normalized key strings + per-row checksum + key hash ONLY — no raw
    columns. This is what hash_diff caches: a handful of strings and two
    numbers per row no matter how wide the table, at the cost of a final
    semi-join re-read of the emitted keys (_narrow_emit). The hash covers
    the *normalized key strings*, so both sides align even when key
    columns differ in name or physical type (the reference aligns
    segments by key value, diff_tables.py:377-391), and phase 2 groups on
    the same strings. Bucket ids at any granularity derive from the
    stored hash (pmod), so the digest levels are chosen after
    annotation."""
    return t.make_select().selectExpr(
        f"{side.cks} AS {_CKS}", *side.knorm_exprs(), side.keyhash_expr()
    )


def _narrow_emit(
    t: TableSegment, out_names: List[str], sign: str, bad_keys: DataFrame, side: _SideSQL,
) -> DataFrame:
    """Re-read a side restricted (left-semi on normalized keys) to the PKs
    phase 2 decided differ; all rows of a differing PK come back, which
    is the duplicate-PK multiset emission."""
    annotated = t.make_select().selectExpr(*side.renamed, *side.knorm_exprs())
    joined = annotated.join(bad_keys, [_knorm(i) for i in range(len(side.knorm))], "left_semi")
    return joined.selectExpr(f"'{sign}' AS {SIGN_COL}", *map(q, out_names))


def _bucket_of(n: int) -> str:
    return f"pmod({_H}, {int(n)})"


def _bucket_digest(df: DataFrame, n_buckets: int) -> DataFrame:
    return (
        df.selectExpr(f"{_bucket_of(n_buckets)} AS {_BUCKET}", _CKS)
        .groupBy(_BUCKET)
        .agg(F.expr(f"count(1) AS {_CNT}"), F.expr(f"sum({_CKS}) AS {_SUM}"))
    )


def _paired_digest(a: DataFrame, b: DataFrame, n_buckets: int):
    """BOTH sides' digests in ONE job: tagged union -> per-bucket per-side
    (count, checksum-sum) -> driver. One union scan materializes both
    persisted sides in the same stage (parallel across the cluster) and one
    shuffle of <= 2*n_buckets partial rows replaces two sequential
    digest-collect jobs — at small SF the saved job/stage latency dominates,
    at scale it halves the number of scans in flight.

    Returns ({bucket: (ca, sa)}, {bucket: (cb, sb)}, rows_total_a)."""
    side = "__side__"
    bucket = f"{_bucket_of(n_buckets)} AS {_BUCKET}"
    u = a.selectExpr(bucket, _CKS, f"0 AS {side}").unionAll(
        b.selectExpr(bucket, _CKS, f"1 AS {side}")
    )
    is_a = f"cast(({side} = 0) as bigint)"
    rows = (
        u.groupBy(_BUCKET)
        .agg(*[F.expr(e) for e in (
            f"sum({is_a}) AS ca",
            f"sum(1 - {is_a}) AS cb",
            f"sum(CASE WHEN {side} = 0 THEN {_CKS} END) AS sa",
            f"sum(CASE WHEN {side} = 1 THEN {_CKS} END) AS sb",
        )])
        .collect()
    )
    da = {r[_BUCKET]: (r["ca"], r["sa"]) for r in rows if r["ca"]}
    db = {r[_BUCKET]: (r["cb"], r["sb"]) for r in rows if r["cb"]}
    rows_total = sum(c for c, _ in da.values())
    return da, db, rows_total


def _dirty_buckets(da: Dict, db: Dict) -> List:
    """Bucket ids whose (count, checksum-sum) digest differs between two
    {bucket: digest} maps, including buckets only one side has: the
    driver-side compare (mismatched_buckets keeps the fine level's large
    sets in the JVM)."""
    return [k for k in set(da) | set(db) if da.get(k) != db.get(k)]


def _restrict(df: DataFrame, ids: List, n: int, bucket: Optional[str] = None) -> DataFrame:
    """Restrict `df` to the buckets `ids` of an n-bucket level (bucket ids
    are ints the digests produced; a full id set prunes nothing). `bucket`
    is the SQL of a row's bucket id: by default the key hash's at that
    level, or a column that already holds it."""
    bucket = bucket or _bucket_of(n)
    if len(ids) >= n:
        return df
    if not ids:
        return df.filter("false")  # folds to an empty relation
    if len(ids) <= _ISIN_LIMIT:
        # IN over a literal set compiles to a hash-set probe (InSet)
        return df.filter(f"{bucket} IN ({', '.join(str(int(x)) for x in ids)})")
    bad_df = df.sparkSession.createDataFrame([(int(x),) for x in ids], f"{_BUCKET} long")
    return _restrict_join(df, bad_df, bucket, broadcast=True)


def _restrict_join(df: DataFrame, ids_df: DataFrame, bucket: str,
                   broadcast: bool) -> DataFrame:
    """Restrict `df` to the buckets in `ids_df` (a single-`_BUCKET`-column
    frame that stays in the JVM) via left-semi join — the large-id-set
    sibling of _restrict's literal InSet probe. broadcast=True ships the
    id frame to every task (one long column; ~16 bytes/id); above
    _BROADCAST_KEYS_LIMIT the caller leaves the join shape to AQE."""
    rhs = F.broadcast(ids_df) if broadcast else ids_df
    if bucket == _BUCKET:
        return df.join(rhs, _BUCKET, "left_semi")
    return (df.selectExpr("*", f"{bucket} AS {_BUCKET}")
            .join(rhs, _BUCKET, "left_semi").drop(_BUCKET))


def mismatched_buckets(da: DataFrame, db: DataFrame) -> DataFrame:
    """Bucket ids whose (count, checksum-sum) digests differ between sides."""
    a = da.selectExpr(_BUCKET, f"{_CNT} AS ca", f"{_SUM} AS sa")
    b = db.selectExpr(_BUCKET, f"{_CNT} AS cb", f"{_SUM} AS sb")
    j = a.join(b, on=_BUCKET, how="full_outer")
    return j.filter("NOT (ca <=> cb) OR NOT (sa <=> sb)").select(_BUCKET)


def _pk_rule(emit_equal_duplicates: bool = False,
             window: Optional[str] = None) -> Tuple[List[str], str]:
    """The diff_sets decision for one PK (hashdiff_tables.py:30-84) over a
    union of both sides tagged with SIGN_COL ('-' = A, '+' = B) that
    carries the row checksum _CKS: a PK differs iff its row multisets
    differ, i.e. iff its per-side (count, checksum-sum) digests do.
    emit_equal_duplicates also emits every PK with other than one row on
    either side (the reference's artifact, see hash_diff).

    Returns (digests, differs). Without `window` the four digests are
    aggregates named __ca__/__cb__/__sa__/__sb__ for a groupBy on the
    key, and `differs` tests those names. With `window` (the PARTITION BY
    list of the key columns) they are window functions, inlined into
    `differs` for a projection over the rows."""
    is_a = f"cast(({SIGN_COL} = '-') as bigint)"
    aggs = (
        f"sum({is_a})",
        f"sum(1 - {is_a})",
        f"sum(CASE WHEN {SIGN_COL} = '-' THEN {_CKS} END)",
        f"sum(CASE WHEN {SIGN_COL} = '+' THEN {_CKS} END)",
    )
    if window is None:
        names = ("__ca__", "__cb__", "__sa__", "__sb__")
        digests = [f"{e} AS {n}" for e, n in zip(aggs, names)]
    else:
        names = digests = [f"{e} OVER (PARTITION BY {window})" for e in aggs]
    ca, cb, sa, sb = names
    differs = f"(NOT ({ca} = {cb}) OR NOT ({sa} <=> {sb}))"
    if emit_equal_duplicates:
        differs = f"((NOT ({ca} = 1) OR NOT ({cb} = 1)) OR {differs})"
    return digests, differs


def hash_diff(
    t1: TableSegment,
    t2: TableSegment,
    n_buckets: Optional[int] = None,
    emit_equal_duplicates: bool = False,
) -> DataFrame:
    """Diff DataFrame (sign, *columns-of-table-1's-names), duplicate-PK-aware.

    Default: emit ALL rows of every PK whose row *multiset* differs between
    sides — deterministic regardless of bucketing.

    emit_equal_duplicates=True reproduces the reference's diff_sets artifact
    (hashdiff_tables.py:62-69): a PK with 2+ rows on either side is emitted
    "regardless of values" — but only when its segment was downloaded, i.e.
    here, when its bucket digest mismatched. Like the reference, that output
    then depends on how the key space was segmented.

    Only (normalized keys, checksum, key hash) are cached — a few strings
    + two numbers per row no matter how wide the table (a cache of full
    rows would, at 100 TB, be the table) — and the emitted PKs are re-read
    from the sources with a left-semi join, so the sources are scanned
    twice but the second scan is pruned to differing keys.
    """
    cols1, cols2 = _check_consistent(t1, t2)
    out_names = cols1
    keys = list(t1.key_columns)
    nkeys = len(keys)

    s1, s2 = _side_sql(t1, cols1, out_names), _side_sql(t2, cols2, out_names)
    a = _annotated_narrow(t1, s1).persist()
    b = _annotated_narrow(t2, s2).persist()

    # --- level 1: coarse digests (DEFAULT_N_BUCKETS) ------------------------
    # The reference recursively bisects because remote round-trips dominate;
    # in Spark exactly TWO digest levels suffice: a coarse compare whose
    # partial-aggregation traffic is tiny (partitions x 4096 rows) prunes
    # the clean bulk, and a fine compare over only the dirty-coarse rows
    # isolates differing keys even when the diff *rate* would dirty every
    # coarse bucket. Measured on a 6M-row / 2%-changed probe: single fixed
    # 4096-bucket level 80s -> two-level narrow-persist design 36s; the
    # zero-diff case pays only the coarse level (7.9s -> 5.3s).
    coarse_n = n_buckets or DEFAULT_N_BUCKETS
    # coarse digest tables are <= coarse_n rows: collect and compare on the
    # driver (ONE fused job for both sides, no digest join), which also
    # yields the exact row count for fine-level sizing for free.
    da, db, rows_total = _paired_digest(a, b, coarse_n)
    bad_ids = _dirty_buckets(da, db)

    a_bad = _restrict(a, bad_ids, coarse_n)
    b_bad = _restrict(b, bad_ids, coarse_n)

    # --- level 2: fine digests over the dirty-coarse rows only --------------
    # ...unless the dirty-coarse rows are ALREADY few: phase 2's per-key
    # multiset compare over <2M narrow rows costs less than another
    # digest round-trip (two aggregate jobs + two restriction scans), so
    # the fine level only pays for itself when it can prune a big set.
    # Exact dirty-row count comes free from the coarse digests.
    dirty_rows = sum(da[b][0] for b in bad_ids if b in da) + sum(
        db[b][0] for b in bad_ids if b in db
    )
    extra_handles: List[DataFrame] = []
    if n_buckets is None and bad_ids and dirty_rows > _FINE_LEVEL_MIN_ROWS:
        fine_n = 1 << max(rows_total // _AUTO_ROWS_PER_BUCKET, 1).bit_length()
        if fine_n > coarse_n:
            fa = _bucket_digest(a_bad, fine_n)
            fb = _bucket_digest(b_bad, fine_n)
            # The dirty fine-bucket set must NEVER round-trip through the
            # Python driver when it is large: at a ~2% uniform diff rate
            # over 60M rows/side, ~2M of the 8.4M fine buckets mismatch,
            # and the old collect() + createDataFrame ping-pong serialized
            # millions of rows through py4j twice (the r12 sf10 probe
            # flagged the entry SUPERLINEAR: 25.5s→131s for 3.33x data;
            # on a 1000-executor cluster the driver hop is strictly
            # worse). Keep the id set JVM-side: small sets still take the
            # InSet literal probe; large sets broadcast the id FRAME
            # directly (one long column); sets too big to broadcast fall
            # through to a plain left-semi under AQE; a fully-dirty set
            # prunes nothing and is skipped.
            ids_df = mismatched_buckets(fa, fb).persist()
            n_ids = ids_df.count()
            if n_ids <= _ISIN_LIMIT:
                fine_ids = [r[_BUCKET] for r in ids_df.collect()]
                ids_df.unpersist()
                a_bad = _restrict(a_bad, fine_ids, fine_n)
                b_bad = _restrict(b_bad, fine_ids, fine_n)
            elif n_ids < fine_n:
                bcast = n_ids <= _BROADCAST_KEYS_LIMIT
                a_bad = _restrict_join(a_bad, ids_df, _bucket_of(fine_n), bcast)
                b_bad = _restrict_join(b_bad, ids_df, _bucket_of(fine_n), bcast)
                extra_handles.append(ids_df)
            else:
                ids_df.unpersist()

    # Phase 2 — the diff_sets decision, one shuffle over the surviving
    # narrow rows: union both sides tagged with a sign and compare each
    # PK's per-side (count, checksum-sum) multiset digest (_pk_rule).
    # Grouping is on the NORMALIZED key strings carried from
    # _annotated_narrow — the same canonical form the digests hash — not
    # the raw renamed key values, whose types/trimming may differ across
    # sides. Only the KEY SET is consumed downstream, so the per-key
    # digests come from one hash AGGREGATION (map-side partial agg, no
    # sort): one Exchange of partial aggregates instead of a window's
    # full-row exchange + sort (r13b: the window count job read 1.8-3.5s
    # at sf0.1 for ~30k rows; at scale the partial agg shuffles per-key
    # digests, never rows). Each side is then re-read pruned to those
    # keys (all rows of a differing PK match the semi-join).
    u = a_bad.selectExpr("*", f"'-' AS {SIGN_COL}").unionAll(
        b_bad.selectExpr("*", f"'+' AS {SIGN_COL}")
    )
    knorm_names = [_knorm(i) for i in range(nkeys)]
    digests, differs = _pk_rule(emit_equal_duplicates)
    g = u.groupBy(*knorm_names).agg(*map(F.expr, digests))
    bad = g.filter(differs).select(*knorm_names)
    # The differing-key set is proportional to the DIFF count, not the
    # table: broadcast it so the pruned re-read is scan+broadcast-semi,
    # never a full shuffle of both sides (unbroadcast, the semi join
    # sort-merge-shuffled 6M rows per side and ran 5x slower than a
    # full-row cache at sf0.1). Above the cap, fall back to AQE's choice.
    # dirty_rows (the coarse dirty-bucket rows of both sides, already
    # on the driver) bounds the key set from above: at or below the
    # cap the set is broadcast without a sizing action, and each emit
    # leg evaluates it itself (an aggregation over the dirty rows
    # only; measured flat against persisting it once at 50k rows /
    # 0.02% changed and 200k rows / 5% changed, 9 jobs instead of 11).
    # Above the cap, which includes every run that reaches the fine
    # level, the bound says nothing: persist the set and count it.
    if dirty_rows <= _BROADCAST_KEYS_LIMIT:
        bad_keys = F.broadcast(bad)
    else:
        bad = bad.persist()
        extra_handles.append(bad)
        bad_keys = (
            F.broadcast(bad)
            if bad.count() <= _BROADCAST_KEYS_LIMIT
            else bad
        )
    out = _narrow_emit(t1, out_names, "-", bad_keys, s1).unionAll(
        _narrow_emit(t2, out_names, "+", bad_keys, s2)
    )
    # Caller-managed cache lifecycle: the result is lazy, so the persisted
    # sides must outlive it. DiffResult.unpersist() (and the CLI) release
    # them once the diff is materialized; long-lived sessions doing many
    # diffs would otherwise accumulate cached tables.
    out._ddspark_persisted = [a, b, *extra_handles]
    return out
