"""functions/lits.py: fast_lit must be value-identical to F.lit for the
literal shapes the operators feed it (nested double tables, plane
matrices), while costing ONE py4j call instead of one per element."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from simtradedata_spark.functions.lits import fast_lit, local_rows


def test_nested_doubles_match_f_lit(spark):
    books = [
        [[float(i * 7 + j * 3 + k) * 1.0000001 for k in range(4)] for j in range(3)]
        for i in range(2)
    ]
    row = (
        spark.range(1)
        .select(
            (fast_lit(books) == F.lit(books)).alias("eq"),
            fast_lit(books).alias("v"),
        )
        .first()
    )
    assert row["eq"] is True
    assert row["v"] == books


def test_roundtrip_edge_doubles(spark):
    vals = [0.0, -0.0, 1e-300, -1.7976931348623157e308, 0.1, 2.0 / 3.0]
    row = spark.range(1).select((fast_lit(vals) == F.lit(vals)).alias("eq")).first()
    assert row["eq"] is True


def test_strings_escaped(spark):
    vals = ["plain", "o'brien", "back\\slash", "两个字"]
    row = spark.range(1).select(fast_lit(vals).alias("v")).first()
    assert list(row["v"]) == vals


def test_ints_are_bigint(spark):
    df = spark.range(1).select(fast_lit([1, 2, 3]).alias("v"))
    assert df.schema["v"].dataType.simpleString() == "array<bigint>"
    assert list(df.first()["v"]) == [1, 2, 3]


def test_rejects_empty_and_nonfinite():
    with pytest.raises(ValueError, match="empty"):
        fast_lit([[]])
    with pytest.raises(ValueError, match="non-finite"):
        fast_lit([1.0, float("inf")])
    with pytest.raises(TypeError):
        fast_lit([object()])


def test_local_rows_match_create_dataframe(spark):
    """local_rows is createDataFrame for a few driver rows: the same
    column names, types, values and order (NULLs, escaped strings, big
    ints, edge doubles), planned as a local relation with no Python RDD.
    (Nullability follows the values: a column without NULLs is not
    nullable, which createDataFrame's always are.)"""
    schema = "rank int, left string, right string, n long, w double, ok boolean"
    rows = [
        (1, "o'brien", "back\\slash", 2**40, -1.7976931348623157e308, True),
        (2, "两个字", None, 7, 2.0 / 3.0, None),
    ]
    got = local_rows(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    types = [(f.name, f.dataType) for f in want.schema]
    assert [(f.name, f.dataType) for f in got.schema] == types
    assert got.collect() == want.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    empty = local_rows(spark, [], schema)
    assert [(f.name, f.dataType) for f in empty.schema] == types
    assert empty.collect() == []
