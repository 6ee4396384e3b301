"""py4j command budgets for building the diff plans.

Every PySpark Column call is a py4j round trip, and PySpark 4's call-site
capture adds five or more to each ``pyspark.sql.functions`` call. The
operators therefore build each projection from one SQL text
(normalize.py). These budgets pin that: building join_diff's plan for a
type-skewed 9-column pair node by node sent 2,215 commands; from SQL text
it sends about 60.
"""

import contextlib
import datetime as dt
from decimal import Decimal

import py4j.clientserver
import pytest

from data_diff_spark import diff as D
from data_diff_spark.operators import hashdiff as H
from data_diff_spark.table import table_segment
from data_diff_spark.unify import unify_precisions

JOINDIFF_BUDGET = 300
ANNOTATED_BUDGET = 300  # annotated frames of both sides


@contextlib.contextmanager
def counted():
    """Count the py4j commands Python sends to the JVM inside the block."""
    conn = py4j.clientserver.ClientServerConnection
    orig = conn.send_command
    n = [0]

    def send_command(self, command):
        n[0] += 1
        return orig(self, command)

    conn.send_command = send_command
    try:
        yield n
    finally:
        conn.send_command = orig


@pytest.fixture(scope="module")
def pair(spark):
    """The benchmark's column shape: B stores amount as decimal(12,2) and qty
    as bigint, so unify and normalization both take part."""
    cols = "id bigint, {amount}, {qty}, score double, ts timestamp, name string, " \
           "flag boolean, code string, note string"
    ts = dt.datetime(2022, 1, 2, 3, 4, 5, 123456)
    a = spark.createDataFrame(
        [(i, i + 0.25, i % 7, i / 3, ts, f"n{i}", i % 2 == 0, "AB", None) for i in range(20)],
        cols.format(amount="amount double", qty="qty int"))
    b = spark.createDataFrame(
        [(i, Decimal(i) + Decimal("0.25"), i % 7, i / 3, ts, f"n{i}", i % 2 == 0, "AB", None)
         for i in range(1, 21)],
        cols.format(amount="amount decimal(12,2)", qty="qty bigint"))
    return table_segment(a, ["id"]), table_segment(b, ["id"])


def test_joindiff_plan_py4j_budget(pair):
    t1, t2 = pair
    D.diff_tables(t1, t2, algorithm="joindiff")  # warm: first-use lookups
    with counted() as n:
        res = D.diff_tables(t1, t2, algorithm="joindiff")
    assert n[0] <= JOINDIFF_BUDGET, n[0]
    assert sorted((r["sign"], r["id"]) for r in res.df.collect()) == [("+", 20), ("-", 0)]


def test_hashdiff_annotated_py4j_budget(pair):
    u1, u2 = unify_precisions(*pair)
    cols1, cols2 = list(u1.relevant_columns), list(u2.relevant_columns)

    def build():
        s1, s2 = H._side_sql(u1, cols1, cols1), H._side_sql(u2, cols2, cols1)
        return H._annotated_narrow(u1, s1), H._annotated_narrow(u2, s2)

    build()
    with counted() as n:
        frames = build()
    assert n[0] <= ANNOTATED_BUDGET, n[0]
    # equal rows checksum equal across the type skew
    cks = [dict(f.select("__knorm0__", "__cks__").collect()) for f in frames]
    assert all(cks[0][k] == cks[1][k] for k in cks[0].keys() & cks[1].keys())
    assert len(cks[0].keys() & cks[1].keys()) == 19
