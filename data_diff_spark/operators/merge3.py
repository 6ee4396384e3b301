"""Three-way table diff and merge: reconcile two divergent copies.

The reference diffs A vs B; the workflow AFTER a diff is often a MERGE —
two teams (or two pipelines, or prod vs a backfill) both modified copies
of the same base table and someone must reconcile. With a common
ancestor the classification is exact, per key (the diff3 algorithm lifted
to relations):

    unchanged       neither side touched the key
    ours / theirs   exactly one side changed it (insert/update/delete)
    both_same       both sides made the IDENTICAL change — clean
    conflict        both sides changed it differently

merge3() returns the merged table (base + every non-conflicting change)
plus the conflict rows for human/policy resolution — `prefer` picks a
side automatically instead.

Scale shape: ONE two-join pipeline — base full-outer ours full-outer
theirs on the keys, all three sides reduced to (keys, row fingerprint,
payload struct) first so the joins shuffle narrow frames; per-column
change detection rides the fingerprints (normalize.py's canonical
strings, so physical-type differences between copies don't fake
conflicts). Composes with sources/versioned.py: two branches committed
from the same version ARE ours/theirs with the fork point as base.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_diff_spark.normalize import fingerprint_sql, normalized_sql, quote_ident as q
from data_diff_spark.table import TableSegment, table_segment

STATUS_COL = "merge_status"


def _prepared(t: TableSegment, tag: str) -> DataFrame:
    cols = list(t.relevant_columns)
    nkeys = len(t.key_columns)
    normd = normalized_sql(t.schema, cols, t.precision_overrides, t.kind_overrides)
    return t.make_select().selectExpr(
        *[f"{q(c)} AS {q(f'{tag}_k{i}')}" for i, c in enumerate(cols[:nkeys])],
        f"md5({fingerprint_sql(normd)}) AS {q(tag + '_fp')}",
        f"struct({', '.join(map(q, cols))}) AS {q(tag + '_row')}",
    )


def diff3(
    base: TableSegment,
    ours: TableSegment,
    theirs: TableSegment,
) -> DataFrame:
    """Per-key classification frame: (keys..., merge_status, base_row,
    ours_row, theirs_row). Deleted-on-a-side keys carry a NULL row struct
    for that side."""
    nkeys = len(base.key_columns)
    b = _prepared(base, "b")
    o = _prepared(ours, "o")
    t = _prepared(theirs, "t")

    def on(left_tag: str, right_tag: str) -> Column:
        c = None
        for i in range(nkeys):
            e = F.col(f"{left_tag}_k{i}").eqNullSafe(F.col(f"{right_tag}_k{i}"))
            c = e if c is None else c & e
        return c

    j = b.join(o, on("b", "o"), "full_outer")
    # theirs joins on base's key when present, else ours' (insert on both)
    key_i = [F.coalesce(F.col(f"b_k{i}"), F.col(f"o_k{i}")) for i in range(nkeys)]
    jt = None
    for i in range(nkeys):
        e = key_i[i].eqNullSafe(F.col(f"t_k{i}"))
        jt = e if jt is None else jt & e
    j = j.join(t, jt, "full_outer")

    in_b = F.col("b_fp").isNotNull()
    in_o = F.col("o_fp").isNotNull()
    in_t = F.col("t_fp").isNotNull()
    ours_changed = (in_b != in_o) | (in_b & in_o & (F.col("b_fp") != F.col("o_fp")))
    theirs_changed = (in_b != in_t) | (in_b & in_t & (F.col("b_fp") != F.col("t_fp")))
    same_result = in_o.eqNullSafe(in_t) & (
        ~in_o | F.col("o_fp").eqNullSafe(F.col("t_fp"))
    )
    status = (
        F.when(~ours_changed & ~theirs_changed, F.lit("unchanged"))
        .when(ours_changed & ~theirs_changed, F.lit("ours"))
        .when(~ours_changed & theirs_changed, F.lit("theirs"))
        .when(same_result, F.lit("both_same"))
        .otherwise(F.lit("conflict"))
    )
    keys = list(base.key_columns)
    out_keys = [
        F.coalesce(F.col(f"b_k{i}"), F.col(f"o_k{i}"), F.col(f"t_k{i}")).alias(k)
        for i, k in enumerate(keys)
    ]
    return j.select(
        *out_keys,
        status.alias(STATUS_COL),
        F.col("b_row").alias("base_row"),
        F.col("o_row").alias("ours_row"),
        F.col("t_row").alias("theirs_row"),
    )


def merge3(
    base: TableSegment,
    ours: TableSegment,
    theirs: TableSegment,
    prefer: Optional[str] = None,
    d3: Optional[DataFrame] = None,
) -> DataFrame:
    """The merged table: every non-conflicting change applied. Conflicts
    RAISE unless `prefer` ('ours'|'theirs') resolves them — a silent
    default would merge data loss invisibly. Use diff3() to inspect
    conflicts first; pass that frame back as `d3` to reuse the
    classification join instead of re-running it (persist it yourself if
    both consumers should share one materialization)."""
    if prefer not in (None, "ours", "theirs"):
        raise ValueError(f"prefer must be ours|theirs|None, got {prefer!r}")
    d = (d3 if d3 is not None else diff3(base, ours, theirs)).persist()
    try:
        if prefer is None:
            n = d.filter(F.col(STATUS_COL) == "conflict").count()
            if n:
                raise ValueError(
                    f"merge3: {n} conflicting key(s); inspect diff3() or pass "
                    "prefer='ours'|'theirs'"
                )
        winner = (
            F.when(F.col(STATUS_COL).isin("unchanged"), F.col("base_row"))
            .when(F.col(STATUS_COL).isin("ours", "both_same"), F.col("ours_row"))
            .when(F.col(STATUS_COL) == "theirs", F.col("theirs_row"))
            .otherwise(F.col(f"{'ours' if prefer == 'ours' else 'theirs'}_row"))
        )
        return (
            d.select(winner.alias("__r"))
            .filter(F.col("__r").isNotNull())  # winner deleted the key
            .select("__r.*")
        )
    finally:
        d.unpersist()


def merge_versions(
    spark, root: str, base_v: int, ours_v: int, theirs_v: int,
    prefer: Optional[str] = None,
) -> DataFrame:
    """diff3/merge3 over three commits of a versioned table — branch
    reconciliation for data (sources/versioned.py)."""
    from data_diff_spark.sources import versioned as V

    log = V._read_log(root)
    seg = lambda v: table_segment(V.read_version(spark, root, v), log.keys)
    return merge3(seg(base_v), seg(ours_v), seg(theirs_v), prefer=prefer)
