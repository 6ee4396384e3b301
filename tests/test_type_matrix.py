"""The reference's flagship zero-diff invariant, as a type matrix
(test_database_types.py:517-783 pattern): write the SAME logical values
through two different physical types/encodings, then the diff must be
empty — under BOTH algorithms — and hashdiff must download zero phase-2
rows (every bucket digest matches).

Adversarial values follow the reference's fakers (test_database_types.py:
393-514): pi to many digits, 1/3, tiny fractions, negative, zero,
boundary-rounding cases.
"""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from data_diff_spark import diff_tables, table_segment

ADVERSARIAL_NUMBERS = [
    0.0, -1.0, 3.141592653589793, 1.0 / 3.0, 0.000001, -0.000001,
    123456789.987654321, 2.0 ** 31, 5e-7, -5e-7, 0.4999999, 1.5,
]

TS_VALUES = [
    "2024-01-01 00:00:00",
    "2024-06-15 12:34:56.123456",
    "1999-12-31 23:59:59.999999",
    "2024-02-29 06:00:00.5",
]


def _pairs_frame(spark, values, cast_a, cast_b):
    rows = [Row(id=i, v=v) for i, v in enumerate(values)]
    base = spark.createDataFrame(rows)
    return base.select("id", F.col("v").cast(cast_a).alias("v")), \
        base.select("id", F.col("v").cast(cast_b).alias("v"))


INTEGRAL_VALUES = [0.0, -1.0, 1.0, 123.0, -32000.0, 32000.0, 255.0, -7.0]

TYPE_PAIRS = [
    ("int", "bigint", INTEGRAL_VALUES),
    ("float", "double", [0.0, -1.0, 1.5, 0.25, -0.125, 1024.5, 3.5, -2.75]),
    ("double", "decimal(20,6)", ADVERSARIAL_NUMBERS),
    ("decimal(20,6)", "decimal(30,6)", ADVERSARIAL_NUMBERS),
    ("bigint", "decimal(20,0)", INTEGRAL_VALUES),
    ("smallint", "int", INTEGRAL_VALUES),
]


@pytest.mark.parametrize("ta,tb,values", TYPE_PAIRS,
                         ids=[f"{a}-vs-{b}" for a, b, _ in TYPE_PAIRS])
@pytest.mark.parametrize("algo", ["joindiff", "hashdiff"])
def test_numeric_type_pair_zero_diff(spark, ta, tb, values, algo):
    a, b = _pairs_frame(spark, values, ta, tb)
    r = diff_tables(table_segment(a, ["id"]), table_segment(b, ["id"]), algorithm=algo)
    assert r.df.count() == 0, f"{ta} vs {tb} under {algo}"
    r.unpersist()


@pytest.mark.parametrize("algo", ["joindiff", "hashdiff"])
def test_timestamp_vs_string_parse_zero_diff(spark, algo):
    rows = [Row(id=i, v=v) for i, v in enumerate(TS_VALUES)]
    base = spark.createDataFrame(rows)
    a = base.select("id", F.col("v").cast("timestamp_ntz").alias("v"))
    b = base.select("id", F.to_timestamp_ntz("v").alias("v"))
    r = diff_tables(table_segment(a, ["id"]), table_segment(b, ["id"]), algorithm=algo)
    assert r.df.count() == 0
    r.unpersist()


def test_hashdiff_matrix_downloads_zero_rows(spark):
    """rows_downloaded == 0 for exactly-hashable types
    (test_database_types.py:760-761): identical digests prune every
    bucket, so phase 2's input is empty by plan."""
    a, b = _pairs_frame(spark, ADVERSARIAL_NUMBERS, "double", "decimal(20,6)")
    from data_diff_spark.operators.hashdiff import hash_diff

    d = hash_diff(table_segment(a, ["id"]), table_segment(b, ["id"]), n_buckets=16)
    # the phase-2 union is behind a filter on zero surviving buckets: the
    # final plan's output AND its pre-filter input are empty
    assert d.count() == 0
    for c in getattr(d, "_ddspark_persisted", []):
        c.unpersist()


def test_query_key_range_normalized(spark):
    df = spark.createDataFrame(
        [Row(id=i, ts=t) for i, t in enumerate(TS_VALUES)]
    ).select("id", F.to_timestamp_ntz("ts").alias("ts"))
    t = table_segment(df.select("ts", "id"), ["ts"])
    lo, hi = t.query_key_range(normalized=True)
    assert lo == ("1999-12-31 23:59:59.999999",)
    assert hi == ("2024-06-15 12:34:56.123456",)
    raw_lo, raw_hi = t.query_key_range()
    assert str(raw_lo[0]) != raw_lo[0].__class__.__name__  # raw datetimes


def test_normalize_time_both_encodings(spark):
    """Reference `Time` type (database_types.py:157-161): Spark has no
    TIME, so normalize_time covers the two physical encodings a TIME
    column actually arrives in — JDBC's epoch-day timestamp and
    DayTimeIntervalType — and its string is pinned against DuckDB's
    native TIME rendering (cross-engine parity)."""
    import duckdb
    from pyspark.sql import types as T

    from data_diff_spark.normalize import normalize_time

    df = spark.sql("""
        select timestamp '1970-01-01 10:30:15.123456' as jdbc_time,
               interval '10:30:15.123456' hour to second as iv_time
    """)
    row = df.select(
        normalize_time("jdbc_time").alias("a"),
        normalize_time("iv_time", data_type=T.DayTimeIntervalType()).alias("b"),
        normalize_time("jdbc_time", precision=2).alias("trunc"),
    ).collect()[0]
    want = duckdb.sql(
        "select cast(time '10:30:15.123456' as varchar)"
    ).fetchone()[0]
    assert row["a"] == want == "10:30:15.123456"
    assert row["b"] == want
    assert row["trunc"] == "10:30:15.120000"  # truncate-then-pad
