"""``functions.frames.local_rows_df``: the Arrow local-relation path must
take its column names from the DDL schema itself."""

from __future__ import annotations

from decimal import Decimal

from delta_unity_duckdb_spark.functions.frames import local_rows_df


def test_local_rows_df_decimal_column(spark):
    # the comma inside decimal(10,2) is not a column separator
    df = local_rows_df(
        spark, [(1, Decimal("2.50")), (2, Decimal("-0.01"))], "a bigint, b decimal(10,2)"
    )
    assert df.columns == ["a", "b"]
    assert df.schema.simpleString() == "struct<a:bigint,b:decimal(10,2)>"
    assert [tuple(r) for r in df.collect()] == [(1, Decimal("2.50")), (2, Decimal("-0.01"))]
