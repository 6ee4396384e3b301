"""Checksum/normalization parity pins (reference FIXTURES.md F10)."""

import hashlib

from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_diff_spark.constants import CHECKSUM_OFFSET, MD5_HEXDIGITS, CHECKSUM_HEXDIGITS
from data_diff_spark.normalize import (
    md5_as_int,
    normalize_as_string,
    row_checksum,
    row_fingerprint,
)


def str_to_checksum(s: str) -> int:
    """Python replica of the reference's golden checksum
    (/root/reference/tests/common.py:117-127)."""
    md5 = hashlib.md5(s.encode("utf-8")).hexdigest()
    half_pos = MD5_HEXDIGITS - CHECKSUM_HEXDIGITS
    return int(md5[half_pos:], 16) - CHECKSUM_OFFSET


def test_md5_as_int_golden(spark):
    # "hello world" => md5 5eb63bbbe01eeed093cb22bb8f5acdc3 => low 12 hex
    got = spark.range(1).select(md5_as_int("'hello world'").alias("c")).collect()[0]["c"]
    assert int(got) == str_to_checksum("hello world")
    # low 12 hex of 5eb63bbbe01eeed093cb22bb8f5acdc3 = 22bb8f5acdc3
    assert int(got) == 0x22BB8F5ACDC3 - CHECKSUM_OFFSET


def test_row_checksum_golden(spark):
    # 1-row table (id=1, ts 2022-01-01) checksums to
    # str_to_checksum("1|2022-01-01 00:00:00.000000")
    # (reference tests/test_diff_tables.py:148-161)
    df = spark.createDataFrame(
        [(1, "2022-01-01 00:00:00")], "id int, ts string"
    ).select("id", F.col("ts").cast("timestamp").alias("ts"))
    cks = df.select(row_checksum(df.schema, ["id", "ts"]).alias("c")).collect()[0]["c"]
    assert int(cks) == str_to_checksum("1|2022-01-01 00:00:00.000000")


def test_null_literal_and_separator(spark):
    df = spark.createDataFrame([("a", None)], "c1 string, c2 string")
    fp = df.select(
        row_fingerprint(["c1", "c2"]).alias("fp")
    ).collect()[0]["fp"]
    assert fp == "a|<null>"


def test_normalize_timestamp_precisions(spark):
    df = spark.createDataFrame([("2022-01-01 12:34:56.123456",)], "ts string").select(
        F.col("ts").cast("timestamp").alias("ts")
    )
    t = T.TimestampType()
    rows = df.select(
        normalize_as_string("ts", t, 6).alias("p6"),
        normalize_as_string("ts", t, 3).alias("p3"),
        normalize_as_string("ts", t, 0).alias("p0"),
    ).collect()[0]
    assert rows["p6"] == "2022-01-01 12:34:56.123456"
    assert rows["p3"] == "2022-01-01 12:34:56.123000"
    assert rows["p0"] == "2022-01-01 12:34:56.000000"


def test_normalize_numbers(spark):
    df = spark.range(1)
    rows = df.select(
        normalize_as_string("2.675D", T.DoubleType(), 2).alias("a"),
        normalize_as_string("-0.005D", T.DoubleType(), 2).alias("b"),
        normalize_as_string("1234.5D", T.DoubleType(), 2).alias("c"),
        normalize_as_string("42", T.IntegerType()).alias("d"),
        normalize_as_string("true", T.BooleanType()).alias("e"),
        normalize_as_string("0.1D", T.DoubleType(), 6).alias("f"),
    ).collect()[0]
    assert rows["a"] == "2.68"      # matches DuckDB 2.675::DECIMAL(38,2)
    assert rows["b"] == "-0.01"
    assert rows["c"] == "1234.50"   # zero-padded to scale
    assert rows["d"] == "42"
    assert rows["e"] == "1"
    assert rows["f"] == "0.100000"

    # edges of the decimal(38, p) rendering: signed zero, non-finite values,
    # the 1e32 envelope at p=6 and sub-precision magnitudes
    vals = [0.0, -0.0, float("nan"), float("inf"), float("-inf"),
            1e31, 1e32, -1e32, 5e-324, 1e-12, -1e-12]
    want = {
        0: ["0", "0", None, None, None, "1" + "0" * 31, "1" + "0" * 32,
            "-1" + "0" * 32, "0", "0", "0"],
        2: ["0.00", "0.00", None, None, None, "1" + "0" * 31 + ".00",
            "1" + "0" * 32 + ".00", "-1" + "0" * 32 + ".00", "0.00", "0.00", "0.00"],
        6: ["0.000000", "0.000000", None, None, None, "1" + "0" * 31 + ".000000",
            None, None, "0.000000", "0.000000", "0.000000"],
    }
    df = spark.createDataFrame(list(enumerate(vals)), "i int, v double")
    for p, expected in want.items():
        got = [r["n"] for r in df.select(
            "i", normalize_as_string("v", T.DoubleType(), p).alias("n")
        ).orderBy("i").collect()]
        assert got == expected, p

    # scales above 6 stay plain fixed-point in both ANSI modes (a decimal
    # cast to string prints '0E-8' under non-ANSI)
    small = [0.0, 1e-7, 1.5e-9]
    want = {
        8: ["0.00000000", "0.00000010", "0.00000000"],
        10: ["0.0000000000", "0.0000001000", "0.0000000015"],
    }
    df = spark.createDataFrame(list(enumerate(small)), "i int, v double")
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for mode in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", mode)
            for p, expected in want.items():
                got = [r["n"] for r in df.select(
                    "i", normalize_as_string("v", T.DoubleType(), p).alias("n")
                ).orderBy("i").collect()]
                assert got == expected, (mode, p)
                got = [r["n"] for r in df.select(
                    "i", normalize_as_string(
                        f"cast(v as decimal(20,{p}))", T.DecimalType(20, p)
                    ).alias("n")
                ).orderBy("i").collect()]
                assert got == expected, (mode, p, "decimal")
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_normalize_array_struct(spark):
    df = spark.range(1).select(
        F.array(F.lit(1), F.lit(2)).alias("arr"),
        F.struct(F.lit(1).alias("x"), F.lit("y").alias("s")).alias("st"),
    )
    rows = df.select(
        normalize_as_string("arr", df.schema["arr"].dataType).alias("a"),
        normalize_as_string("st", df.schema["st"].dataType).alias("b"),
    ).collect()[0]
    assert rows["a"] == "[1,2]"
    assert rows["b"] == '{"x":1,"s":"y"}'


def test_checksum_matches_duckdb_formula(spark):
    """The exact cross-engine invariant: Spark md5_as_int == DuckDB dialect
    ('0x' || SUBSTRING(md5(s),21,12))::BIGINT - OFFSET
    (reference databases/duckdb.py:99-100)."""
    import duckdb

    vals = ["", "x", "1|2022-01-01 00:00:00.000000", "héllo|wörld", "a" * 500]
    got = (
        spark.createDataFrame([(v,) for v in vals], "s string")
        .select("s", md5_as_int("s").alias("c"))
        .collect()
    )
    con = duckdb.connect()
    for r in got:
        want = con.execute(
            f"select ('0x' || substring(md5(?),21,12))::BIGINT - {CHECKSUM_OFFSET}",
            [r["s"]],
        ).fetchone()[0]
        assert int(r["c"]) == want, r["s"]
