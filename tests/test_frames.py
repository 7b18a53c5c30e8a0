"""``functions.frames.local_rows_df``: every input, NULL fields and empty
row lists included, takes the Arrow local-relation path, with column
names and types from the DDL schema itself."""

from __future__ import annotations

from decimal import Decimal

import pytest

from delta_unity_duckdb_spark.functions.frames import local_rows_df


def test_local_rows_df_decimal_column(spark):
    # the comma inside decimal(10,2) is not a column separator
    df = local_rows_df(
        spark, [(1, Decimal("2.50")), (2, Decimal("-0.01"))], "a bigint, b decimal(10,2)"
    )
    assert df.columns == ["a", "b"]
    assert df.schema.simpleString() == "struct<a:bigint,b:decimal(10,2)>"
    assert [tuple(r) for r in df.collect()] == [(1, Decimal("2.50")), (2, Decimal("-0.01"))]


def _plan_node(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def test_local_rows_df_null_field_keeps_type_and_path(spark):
    ddl = "a bigint, b string, c decimal(10,2)"
    df = local_rows_df(spark, [(None, "x", None), (2**62, None, Decimal("1.25"))], ddl)
    assert df.schema.simpleString() == "struct<a:bigint,b:string,c:decimal(10,2)>"
    assert [tuple(r) for r in df.collect()] == [
        (None, "x", None),
        (2**62, None, Decimal("1.25")),
    ]
    assert _plan_node(df) == "LocalRelation"


def test_local_rows_df_empty_rows_keep_type_and_path(spark):
    df = local_rows_df(spark, [], "a bigint, b decimal(10,2)")
    assert df.schema.simpleString() == "struct<a:bigint,b:decimal(10,2)>"
    assert df.collect() == []
    assert _plan_node(df) == "LocalRelation"


@pytest.mark.parametrize(
    "ddl", ["m map<string,int>", "a array<timestamp>", "s struct<x:int>"]
)
def test_local_rows_df_refuses_types_without_arrow_conversion(spark, ddl):
    with pytest.raises(TypeError, match="Arrow"):
        local_rows_df(spark, [], ddl)
