"""The two reference combinators (SURVEY A11-A13) — pivot union with
provenance, horizontal positional concat (incl. the ragged-length
null-padding case), and the per-match column prefix."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_excel_to_hyper_tableau_spark.operators import combinators
from etl_excel_to_hyper_tableau_spark.operators.combinators import (
    horizontal_concat, pivot_union, prefix_columns,
)


def test_prefix_columns(spark):
    df = spark.createDataFrame([(1, "a")], "x int, y string")
    out = prefix_columns(df, "file.xlsx")
    # the match keeps its extension, exactly as the golden output shows
    # (consumer_complaints.xlsx_company)
    assert out.columns == ["file.xlsx_x", "file.xlsx_y"]


def test_pivot_union_provenance_and_order(spark):
    d1 = spark.createDataFrame([("a", 1)], "c string, n int")
    d2 = spark.createDataFrame([("b", 2), ("c", 3)], "c string, n int")
    out = pivot_union([("f1.xlsx", d1), ("f2.xlsx", d2)])
    assert out.columns == ["index", "c", "n"]  # provenance first
    rows = {tuple(r) for r in out.collect()}
    assert rows == {("f1", "a", 1), ("f2", "b", 2), ("f2", "c", 3)}


def test_pivot_union_is_union_all(spark):
    d = spark.createDataFrame([("a", 1)], "c string, n int")
    out = pivot_union([("f.xlsx", d), ("f.xlsx", d)])
    assert out.count() == 2  # no dedup


def test_pivot_union_unions_by_name(spark):
    d1 = spark.createDataFrame([("a", 1)], "c string, n int")
    d2 = spark.createDataFrame([(2, "b")], "n int, c string")  # shuffled cols
    rows = {tuple(r) for r in pivot_union([("x.xlsx", d1), ("y.xlsx", d2)]).collect()}
    assert rows == {("x", "a", 1), ("y", "b", 2)}


def test_horizontal_concat_matches_pandas(spark):
    d1 = spark.createDataFrame([(1,), (2,), (3,)], "a int")
    d2 = spark.createDataFrame([("x",), ("y",), ("z",)], "b string")
    out = horizontal_concat([d1, d2]).toPandas()
    exp = pd.concat([pd.DataFrame({"a": [1, 2, 3]}),
                     pd.DataFrame({"b": ["x", "y", "z"]})], axis=1)
    assert list(out.columns) == ["a", "b"]
    assert sorted(map(tuple, out.values.tolist())) == \
        sorted(map(tuple, exp.values.tolist()))


def test_horizontal_concat_ragged_null_pads(spark):
    # pandas pd.concat(axis=1) NaN-pads the shorter side (SURVEY §7.4-1)
    d1 = spark.createDataFrame([(1,), (2,), (3,)], "a int")
    d2 = spark.createDataFrame([("x",)], "b string")
    out = horizontal_concat([d1, d2])
    assert out.count() == 3
    assert out.filter(F.col("b").isNull()).count() == 2
    assert out.filter((F.col("a") == 1) & (F.col("b") == "x")).count() == 1


def test_horizontal_concat_single_input_passthrough(spark):
    d = spark.createDataFrame([(1,)], "a int")
    assert horizontal_concat([d]) is d


def test_horizontal_concat_keeps_input_types_when_null_padded(spark):
    d1 = spark.createDataFrame([(1,)], "a long")  # shorter side → padded
    d2 = spark.createDataFrame([("x", 1.5), ("y", 2.5)], "b string, c double")
    out = horizontal_concat([d1, d2])
    assert out.schema.simpleString() == "struct<a:bigint,b:string,c:double>"
    assert [tuple(r) for r in out.collect()] == [(1, "x", 1.5), (None, "y", 2.5)]


def test_horizontal_concat_keeps_positional_order_across_partitions(spark):
    d1 = spark.range(0, 50, numPartitions=4).select(F.col("id").alias("a"))
    d2 = spark.range(100, 140, numPartitions=3).select(F.col("id").alias("b"))
    rows = [tuple(r) for r in horizontal_concat([d1, d2]).collect()]
    assert rows == [(i, 100 + i if i < 40 else None) for i in range(50)]


def test_horizontal_concat_allows_duplicate_column_names(spark):
    d1 = spark.createDataFrame([(1, "p")], "a long, b string")
    d2 = spark.createDataFrame([(2,), (3,)], "a long")
    out = horizontal_concat([d1, d2])
    assert out.columns == ["a", "b", "a"]
    assert [tuple(r) for r in out.collect()] == [(1, "p", 2), (None, None, 3)]


def test_horizontal_concat_refuses_inputs_over_row_cap(spark, monkeypatch):
    monkeypatch.setattr(combinators, "MAX_CONCAT_ROWS", 4)
    d = spark.range(3).select(F.col("id").alias("a"))
    with pytest.raises(ValueError, match="exceed 4 rows"):
        horizontal_concat([d, d])

