"""CLI tests — in-process (shared Spark session) against scratch parquet."""

import datetime as dt
import json
import os
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_diff_spark.cli import expand_columns, main, parse_duration_seconds

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")


@pytest.fixture(scope="module")
def mod_orders_path(sf_dir):
    os.makedirs(SCRATCH, exist_ok=True)
    path = os.path.join(SCRATCH, "cli_orders_mod.parquet")
    duckdb.sql(f"""
      copy (
        select o_orderkey, o_custkey, o_orderstatus,
               case when o_orderkey % 100 = 2 then o_totalprice + 100.0 else o_totalprice end as o_totalprice,
               o_orderdate, o_orderpriority
        from '{sf_dir}/orders.parquet' where o_orderkey % 100 <> 1
      ) to '{path}' (format parquet)
    """)
    return path


def test_duration_parsing():
    assert parse_duration_seconds("5min") == 300
    assert parse_duration_seconds("2h") == 7200
    assert parse_duration_seconds("1d") == 86400
    assert parse_duration_seconds("3 weeks") == 3 * 7 * 86400
    with pytest.raises(ValueError):
        parse_duration_seconds("fortnight")


def test_expand_columns():
    cols = ["o_orderkey", "o_totalprice", "o_orderdate"]
    assert expand_columns(["o_total*"], cols, ["o_orderkey"]) == ["o_totalprice"]
    assert expand_columns(["*"], cols, ["o_orderkey"]) == ["o_totalprice", "o_orderdate"]
    with pytest.raises(SystemExit):
        expand_columns(["nope*"], cols, [])


def test_cli_stats(spark, sf_dir, mod_orders_path, capsys):
    rc = main(
        [f"parquet://{sf_dir}/orders.parquet", f"parquet://{mod_orders_path}",
         "-k", "o_orderkey", "--stats"],
        spark=spark,
    )
    assert rc == 0
    out = dict(line.split(": ") for line in capsys.readouterr().out.strip().splitlines())
    n = spark.read.parquet(f"{sf_dir}/orders.parquet").count()  # SF-relative
    assert int(out["rows_A"]) == n
    assert int(out["exclusive_A"]) == n // 100
    assert int(out["updated"]) == n // 100


def test_cli_jsonl_hashdiff(spark, sf_dir, mod_orders_path, capsys):
    rc = main(
        [f"parquet://{sf_dir}/orders.parquet", f"parquet://{mod_orders_path}",
         "-k", "o_orderkey", "-a", "hashdiff", "-j", "-c", "o_total*"],
        spark=spark,
    )
    assert rc == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert all(set(r) == {"sign", "o_orderkey", "o_totalprice"} for r in rows)
    signs = {}
    for r in rows:
        signs[r["sign"]] = signs.get(r["sign"], 0) + 1
    n = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert signs == {"-": 2 * (n // 100), "+": n // 100}


def test_cli_age_window_is_one_instant(spark, tmp_path, monkeypatch):
    """--min-age resolves to ONE instant per run: the segments the CLI hands
    to the diff count the same rows however much later they are read, so
    the digest job, the re-read of the sources and the --stats counts all
    see one window. One row crosses the boundary a few seconds after the
    run starts; a filter on current_timestamp() counts it in the second
    read only."""
    from data_diff_spark import diff as D

    t0 = dt.datetime.now(dt.timezone.utc)
    cross = t0 + dt.timedelta(seconds=6)  # when the last row turns 1min old
    old = dt.datetime(2000, 1, 1, tzinfo=dt.timezone.utc)
    table = pa.table({
        "id": pa.array([1, 2, 3, 4], pa.int64()),
        "upd": pa.array([old, old, old, cross - dt.timedelta(minutes=1)],
                        pa.timestamp("us", tz="UTC")),
        "v": ["a", "b", "c", "d"],
    })
    path = str(tmp_path / "aged.parquet")
    pq.write_table(table, path)

    class Stop(Exception):
        pass

    seen = []

    def record(t1, t2, **kw):
        seen.extend([t1, t2])
        raise Stop

    monkeypatch.setattr(D, "diff_tables", record)
    with pytest.raises(Stop):
        main([f"parquet://{path}", f"parquet://{path}", "-k", "id", "-t", "upd",
              "--min-age", "1min", "--no-refine"], spark=spark)
    first = [t.df.count() for t in seen]
    time.sleep(max(0.0, (cross - dt.datetime.now(dt.timezone.utc)).total_seconds() + 1))
    assert [t.df.count() for t in seen] == first


def test_diff_schemas():
    import pyspark.sql.types as T

    from data_diff_spark.diff import diff_schemas

    class FakeDF:
        def __init__(self, fields):
            self.schema = T.StructType([T.StructField(n, t) for n, t in fields])

    a = FakeDF([("id", T.LongType()), ("v", T.DoubleType()), ("gone", T.StringType())])
    b = FakeDF([("id", T.LongType()), ("v", T.DecimalType(10, 2)), ("new", T.StringType())])
    got = {c: s for c, _, _, s in diff_schemas(a, b)}
    assert got == {"id": "common", "v": "type_changed", "gone": "only_a", "new": "only_b"}


def test_duckdb_scheme(spark, sf_dir):
    from data_diff_spark.sources.connect import read_uri

    df = read_uri(spark, f"duckdb://#select 1 as a, 'x' as b")
    assert df.collect()[0].asDict() == {"a": 1, "b": "x"}
    df2 = read_uri(spark, f"duckdb://#read_parquet('{sf_dir}/region.parquet')")
    assert df2.count() == spark.read.parquet(f"{sf_dir}/region.parquet").count()


def test_duckdb_scheme_row_guard(spark, sf_dir):
    """duckdb:// materializes through the driver, so big relations must
    refuse with a pointer at the digests-only remote path."""
    import pytest

    from data_diff_spark.sources.connect import read_uri

    with pytest.raises(ValueError, match="hash_diff_remote"):
        read_uri(spark, f"duckdb://#read_parquet('{sf_dir}/orders.parquet')",
                 max_rows=10)
    # explicit override admits it
    df = read_uri(spark, f"duckdb://#select 1 as a", max_rows=10)
    assert df.count() == 1


def test_cli_interactive_explain_gate(spark, sf_dir, mod_orders_path, capsys, monkeypatch):
    """-i prints the plan and aborts unless confirmed (reference
    interactive EXPLAIN mode, base.py:984-994)."""
    from data_diff_spark.cli import main

    args = [f"parquet://{sf_dir}/orders.parquet", f"parquet://{mod_orders_path}",
            "-k", "o_orderkey", "-i"]
    monkeypatch.setattr("builtins.input", lambda *_: "n")
    assert main(args, spark=spark) == 1
    monkeypatch.setattr("builtins.input", lambda *_: "y")
    assert main(args + ["--stats"], spark=spark) == 0
    out = capsys.readouterr()
    assert "total:" in out.out


def test_toml_config_overlay(spark, sf_dir, mod_orders_path, capsys):
    cfg = os.path.join(SCRATCH, "test_conf.toml")
    with open(cfg, "w") as f:
        f.write(f"""
[run.orders]
uri1 = "parquet://{sf_dir}/orders.parquet"
uri2 = "parquet://{mod_orders_path}"
key_columns = "o_orderkey"
algorithm = "hashdiff"
""")
    rc = main(["--config", f"{cfg}#orders", "--stats"], spark=spark)
    assert rc == 0
    out = dict(line.split(": ") for line in capsys.readouterr().out.strip().splitlines())
    n = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert int(out["rows_A"]) == n and int(out["updated"]) == n // 100

    with pytest.raises(SystemExit, match="no \\[run.missing\\]"):
        main(["--config", f"{cfg}#missing"], spark=spark)
    with pytest.raises(SystemExit, match="required"):
        main([], spark=spark)


def test_csv_json_schemes_roundtrip(spark, sf_dir):
    """Same logical rows through parquet vs csv vs json sources -> zero
    diff (the connect layer + normalization absorb the physical encoding)."""
    from data_diff_spark import diff_tables
    from data_diff_spark.sources.connect import connect_to_table

    os.makedirs(SCRATCH, exist_ok=True)
    base = spark.read.parquet(f"{sf_dir}/nation.parquet")
    csv_path = os.path.join(SCRATCH, "nation_csv")
    json_path = os.path.join(SCRATCH, "nation_json")
    base.write.mode("overwrite").option("header", True).csv(csv_path)
    base.write.mode("overwrite").json(json_path)

    t_parquet = connect_to_table(spark, f"parquet://{sf_dir}/nation.parquet", ["n_nationkey"])
    t_csv = connect_to_table(spark, f"csv://{csv_path}", ["n_nationkey"])
    t_json = connect_to_table(spark, f"json://{json_path}", ["n_nationkey"])
    assert diff_tables(t_parquet, t_csv).df.count() == 0
    assert diff_tables(t_parquet, t_json).df.count() == 0


def test_orc_scheme_roundtrip(spark, sf_dir):
    from data_diff_spark import diff_tables
    from data_diff_spark.sources.connect import connect_to_table

    os.makedirs(SCRATCH, exist_ok=True)
    base = spark.read.parquet(f"{sf_dir}/nation.parquet")
    orc_path = os.path.join(SCRATCH, "nation_orc")
    base.write.mode("overwrite").orc(orc_path)

    t_parquet = connect_to_table(spark, f"parquet://{sf_dir}/nation.parquet", ["n_nationkey"])
    t_orc = connect_to_table(spark, f"orc://{orc_path}", ["n_nationkey"])
    assert diff_tables(t_parquet, t_orc).df.count() == 0


def test_cli_snapshot_write_and_diff(spark, sf_dir, mod_orders_path, capsys):
    snap = os.path.join(SCRATCH, "cli_snapshot")
    rc = main([f"parquet://{sf_dir}/orders.parquet", "-k", "o_orderkey",
               "--snapshot-write", snap], spark=spark)
    assert rc == 0
    capsys.readouterr()
    rc = main([f"parquet://{mod_orders_path}", "-k", "o_orderkey",
               "--snapshot", snap, "-j"], spark=spark)
    assert rc == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    signs = {r["sign"] for r in rows}
    # the fixture deletes (%100==1) and updates (%100==2); no inserts
    assert signs == {"-", "!"} and len(rows) > 0
    # snapshot flags require uri1 + keys
    with pytest.raises(SystemExit, match="snapshot"):
        main(["--snapshot", snap], spark=spark)


def test_cli_materialize(spark, sf_dir, mod_orders_path, tmp_path):
    out = os.path.join(SCRATCH, "cli_diff_out.parquet")
    rc = main(
        [f"parquet://{sf_dir}/orders.parquet", f"parquet://{mod_orders_path}",
         "-k", "o_orderkey", "-m", out, "--materialize-limit", "10"],
        spark=spark,
    )
    assert rc == 0
    got = spark.read.parquet(out)
    assert got.count() == 10
    assert got.columns[0] == "sign"
