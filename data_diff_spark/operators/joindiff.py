"""joindiff — row-level diff of two tables via one FULL OUTER JOIN.

Spark re-expression of /root/reference/data_diff/joindiff_tables.py:113-334.
The reference shards the join by key range and pushes SQL per shard; in Spark
the entire operator is ONE declarative full-outer join — AQE picks broadcast
vs sort-merge and handles skew, so the reference's per-database segmentation
special-cases (joindiff_tables.py:159-163) disappear.

Output contract (matches the reference's DiffResult iterator semantics,
diff_tables.py:201-213): one row per differing side —
  sign '-'  row as it appears only/differently in table A
  sign '+'  row as it appears only/differently in table B
An updated row (same PK, changed values) yields both a '-' and a '+' row.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_diff_spark.normalize import normalize_sql, quote_ident as q
from data_diff_spark.table import TableSegment

_A = "__a_"
_B = "__b_"
_PRESENT_A = "__a_present__"
_PRESENT_B = "__b_present__"
SIGN_COL = "sign"
_DIFF = "__diff_"


def _check_consistent(t1: TableSegment, t2: TableSegment) -> Tuple[List[str], List[str]]:
    """Columns are matched by POSITION (the reference supports differing
    column names between sides, test_diff_tables.py:306-348); arity must
    match."""
    cols1, cols2 = list(t1.relevant_columns), list(t2.relevant_columns)
    if len(cols1) != len(cols2):
        raise ValueError(f"column count mismatch: {cols1} vs {cols2}")
    if len(t1.key_columns) != len(t2.key_columns):
        raise ValueError("key column count mismatch")
    return cols1, cols2


def _value_eq_sql(a: str, b: str, dt1, dt2, p1, p2, k1=None, k2=None) -> str:
    """NULL-safe equality; when the two sides' physical types differ, a
    declared/unified precision (unify.py) applies, or a refined semantic
    kind (uuid/json, refine.py) applies, compare canonical normalized
    strings (the reference's cross-type semantics)."""
    if not (k1 or k2) and dt1 == dt2 and p1 is None and p2 is None:
        return f"({a} <=> {b})"
    return f"({normalize_sql(a, dt1, p1, k1)} <=> {normalize_sql(b, dt2, p2, k2)})"


def joined_frame(
    t1: TableSegment, t2: TableSegment, null_safe_keys: bool = True
) -> Tuple[DataFrame, List[str], List[str]]:
    """The annotated full-outer join (reference _outerjoin,
    joindiff_tables.py:74-95): per-column __diff_<col> flags plus
    is_exclusive_a / is_exclusive_b presence flags.

    null_safe_keys=False joins with plain `=` instead of `<=>`. Spark
    rewrites a null-safe join key to (coalesce(k, default), isnull(k))
    pairs, whose hash partitioning can never match a bucketed table's
    HashPartitioning(k) — so `<=>` forces a full shuffle of both sides
    even when both are bucketed on the key (measured: 2 exchanges vs 0).
    With plain `=`, diffing two tables bucketed on the key is a
    ZERO-SHUFFLE sort-merge join — the 100 TB repeated-diff path. Safe
    whenever keys are non-null (the reference raises on null PKs by
    default; run check_null_keys first). Null-keyed rows, if any survive,
    surface as exclusive rows on both sides instead of matching.

    Each projection is one SQL text (normalize.py explains why)."""
    cols1, cols2 = _check_consistent(t1, t2)
    dt1 = {f.name: f.dataType for f in t1.schema.fields}
    dt2 = {f.name: f.dataType for f in t2.schema.fields}
    p1, p2 = t1.precision_overrides, t2.precision_overrides
    kd1, kd2 = t1.kind_overrides, t2.kind_overrides

    a = t1.make_select().selectExpr(
        f"true AS {q(_PRESENT_A)}", *[f"{q(c)} AS {q(_A + c)}" for c in cols1]
    )
    b = t2.make_select().selectExpr(
        f"true AS {q(_PRESENT_B)}", *[f"{q(c)} AS {q(_B + c)}" for c in cols2]
    )

    conds = []
    for k1, k2 in zip(t1.key_columns, t2.key_columns):
        ca, cb = q(_A + k1), q(_B + k2)
        if kd1.get(k1) or kd2.get(k2):
            # refined key kinds (e.g. uuid-in-string): join on canonical form
            ca = normalize_sql(ca, dt1[k1], p1.get(k1), kd1.get(k1))
            cb = normalize_sql(cb, dt2[k2], p2.get(k2), kd2.get(k2))
        conds.append(f"({ca} <=> {cb})" if null_safe_keys else f"({ca} = {cb})")
    j = a.join(b, on=F.expr(" AND ".join(conds)), how="full_outer")

    # IS DISTINCT FROM per column across the outer join — exclusive rows
    # count as different in every column, exactly like the reference's
    # is_diff_* flags (joindiff_tables.py:326).
    nkeys = len(t1.key_columns)
    flags = [
        "NOT " + _value_eq_sql(
            q(_A + c1), q(_B + c2), dt1[c1], dt2[c2],
            p1.get(c1), p2.get(c2), kd1.get(c1), kd2.get(c2),
        ) + f" AS {q(_DIFF + c1)}"
        for c1, c2 in zip(cols1[nkeys:], cols2[nkeys:])
    ]
    j = j.selectExpr(
        "*",
        f"{q(_PRESENT_B)} IS NULL AS is_exclusive_a",
        f"{q(_PRESENT_A)} IS NULL AS is_exclusive_b",
        *flags,
    )
    return j, cols1, cols2


def join_diff(
    t1: TableSegment, t2: TableSegment, null_safe_keys: bool = True
) -> DataFrame:
    """The diff DataFrame: (sign, *columns-of-table-1's-names).

    Single join, single pass: each joined row explodes into 0, 1 or 2 output
    rows (array_compact drops the non-applicable side), so the join is never
    recomputed for a union of branches. See joined_frame for null_safe_keys
    (the bucketed zero-shuffle path).

    The flags stay in joined_frame's Project, BELOW the Generate: both CASE
    branches read them as attributes, so each is computed once per row.
    """
    j, cols1, cols2 = joined_frame(t1, t2, null_safe_keys=null_safe_keys)
    nkeys = len(t1.key_columns)
    any_diff = " OR ".join(
        f"coalesce({q(_DIFF + c)}, false)" for c in cols1[nkeys:]
    ) or "false"
    row_differs = f"((is_exclusive_a OR is_exclusive_b) OR ({any_diff}))"

    def side(present: str, sign: str, prefix: str, cols: List[str]) -> str:
        fields = ", ".join(
            f"{q(prefix + c)} AS {q(c1)}" for c, c1 in zip(cols, cols1)
        )
        return (
            f"CASE WHEN ({q(present)} IS NOT NULL AND {row_differs}) "
            f"THEN struct('{sign}' AS {q(SIGN_COL)}, {fields}) END"
        )

    minus = side(_PRESENT_A, "-", _A, cols1)
    plus = side(_PRESENT_B, "+", _B, cols2)
    return j.selectExpr(f"explode(array_compact(array({minus}, {plus}))) AS r").selectExpr("r.*")


# ---- guard / stats / sampling operators (reference §2.1) -----------------


def check_duplicate_keys(t: TableSegment) -> None:
    """Raise if any PK occurs more than once (joindiff_tables.py:228-248)."""
    dup = (
        t.make_select()
        .groupBy(*t.key_columns)
        .count()
        .filter(F.col("count") > 1)
    )
    if not dup.isEmpty():
        raise ValueError(f"duplicate key values found ({dup.limit(5).collect()})")


def check_null_keys(t: TableSegment, skip: bool = False) -> Optional[DataFrame]:
    """Raise on NULL keys, or return the cleaned frame when skip=True
    (joindiff_tables.py:250-266)."""
    pred = None
    for k in t.key_columns:
        p = F.col(k).isNull()
        pred = p if pred is None else pred | p
    nulls = t.make_select().filter(pred)
    if skip:
        return t.make_select().filter(~pred)
    if not nulls.isEmpty():
        raise ValueError("NULL values in one or more primary keys")
    return None


def count_diff_per_column(t1: TableSegment, t2: TableSegment) -> DataFrame:
    """One row: sum of each __diff_<col> flag + exclusive counts + total
    (reference _count_diff_per_column joindiff_tables.py:336-354 and
    _collect_stats :268-305, collapsed into a single agg pass)."""
    j, cols1, _ = joined_frame(t1, t2)
    nkeys = len(t1.key_columns)
    aggs = [
        "count(1) AS rows_joined",
        "sum(cast(is_exclusive_a as bigint)) AS exclusive_a",
        "sum(cast(is_exclusive_b as bigint)) AS exclusive_b",
        *[f"sum(cast(coalesce({q(_DIFF + c)}, false) as bigint)) AS {q('diff_' + c)}"
          for c in cols1[nkeys:]],
    ]
    return j.agg(*[F.expr(a) for a in aggs])


def sample_exclusive_rows(t1: TableSegment, t2: TableSegment, n: int = 10) -> DataFrame:
    """Random sample of rows present on exactly one side
    (joindiff_tables.py:356-394: ORDER BY random() LIMIT 10)."""
    diff = join_diff(t1, t2)
    return diff.orderBy(F.rand()).limit(n)


def materialize_diff(diff: DataFrame, table_name: str, limit: int = 1000, mode: str = "append") -> None:
    """Persist up to `limit` diff rows (reference _materialize_diff
    joindiff_tables.py:396-399, default write limit 1000 rows)."""
    diff.limit(limit).write.mode(mode).saveAsTable(table_name)
