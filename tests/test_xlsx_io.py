"""The stdlib xlsx reader/writer and the Excel sources (SURVEY A1/A15)."""

import pytest
from pyspark.sql import types as T

from etl_excel_to_hyper_tableau_spark.sources import xlsx_io
from etl_excel_to_hyper_tableau_spark.sources.excel import read_excel_sheet


@pytest.fixture()
def sample_xlsx(tmp_path):
    p = str(tmp_path / "sample.xlsx")
    xlsx_io.write_workbook(p, [
        ("Sheet1",
         ["name", "qty", "price", "ok"],
         [["widget", 3, 1.5, True],
          ["gadget", 7, 2.25, False],
          [None, 1, 0.5, True]]),
        ("Other", ["k"], [["v"]]),
    ])
    return p


def test_roundtrip_values_and_types(sample_xlsx):
    cols, rows = xlsx_io.read_sheet(sample_xlsx, "Sheet1")
    assert cols == ["name", "qty", "price", "ok"]
    assert rows[0] == ["widget", 3, 1.5, True]
    assert rows[2][0] is None
    assert isinstance(rows[0][1], int) and isinstance(rows[0][2], float)


def test_read_sheet_by_index(sample_xlsx):
    cols, rows = xlsx_io.read_sheet(sample_xlsx, 1)
    assert cols == ["k"] and rows == [["v"]]


def test_missing_sheet_raises(sample_xlsx):
    with pytest.raises(KeyError):
        xlsx_io.read_sheet(sample_xlsx, "Nope")


def test_read_excel_sheet_schema_inference(spark, sample_xlsx):
    df = read_excel_sheet(spark, sample_xlsx, "Sheet1")
    types = dict((f.name, type(f.dataType)) for f in df.schema.fields)
    assert types == {"name": T.StringType, "qty": T.LongType,
                     "price": T.DoubleType, "ok": T.BooleanType}
    assert df.count() == 3
    assert df.filter("name IS NULL").count() == 1


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_read_excel_sheet_stages_a_local_relation(spark, sample_xlsx):
    df = read_excel_sheet(spark, sample_xlsx, "Sheet1")
    plan = _executed_plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    df.createOrReplaceTempView("staged_t")
    try:
        q = spark.sql("SELECT ok, SUM(qty) AS q FROM staged_t GROUP BY ok")
        assert "ExistingRDD" not in _executed_plan(q)
        assert {tuple(r) for r in q.collect()} == {(True, 4), (False, 7)}
    finally:
        spark.catalog.dropTempView("staged_t")


def test_read_excel_sheet_header_only_sheet(spark, tmp_path):
    p = str(tmp_path / "empty.xlsx")
    xlsx_io.write_workbook(p, [("Sheet1", ["a", "b"], [])])
    df = read_excel_sheet(spark, p, "Sheet1")
    assert df.columns == ["a", "b"]
    assert "LocalTableScan" in _executed_plan(df)
    df.createOrReplaceTempView("empty_t")
    try:
        assert spark.sql("SELECT a, COUNT(*) FROM empty_t GROUP BY a").collect() == []
        assert spark.sql("SELECT COUNT(*) AS n FROM empty_t").first()["n"] == 0
    finally:
        spark.catalog.dropTempView("empty_t")


def test_read_excel_sheet_infers_types_from_every_row(spark, tmp_path):
    # a column's first 1,000 cells are ints; the cell after them decides
    # the type, and every value must come back exact
    p = str(tmp_path / "late.xlsx")
    rows = [[i, i] for i in range(1000)] + [[2.5, "n/a"]]
    xlsx_io.write_workbook(p, [("Sheet1", ["x", "y"], rows)])
    df = read_excel_sheet(spark, p, "Sheet1")
    assert df.schema.simpleString() == "struct<x:double,y:string>"
    got = [tuple(r) for r in df.collect()]
    assert got == [(float(i), str(i)) for i in range(1000)] + [(2.5, "n/a")]
