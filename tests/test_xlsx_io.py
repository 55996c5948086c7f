"""The stdlib xlsx reader/writer and the Excel sources (SURVEY A1/A15)."""

import pytest
from pyspark.sql import types as T

from etl_excel_to_hyper_tableau_spark.sources import xlsx_io
from etl_excel_to_hyper_tableau_spark.sources.excel import (
    read_excel_dir_distributed, read_excel_sheet,
)


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


def test_sheet_names_and_index_access(sample_xlsx):
    assert xlsx_io.sheet_names(sample_xlsx) == ["Sheet1", "Other"]
    cols, rows = xlsx_io.read_sheet(sample_xlsx, 1)
    assert cols == ["k"] and rows == [["v"]]


def test_read_from_bytes(sample_xlsx):
    with open(sample_xlsx, "rb") as f:
        raw = f.read()
    cols, _ = xlsx_io.read_sheet(raw, "Sheet1")
    assert cols == ["name", "qty", "price", "ok"]


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


def test_distributed_excel_scan(spark, tmp_path):
    # many-files parallelism: binaryFile + mapInPandas (SURVEY §7.4-4)
    for i in range(3):
        xlsx_io.write_workbook(str(tmp_path / f"part{i}.xlsx"),
                               [("Sheet1", ["a", "b"], [[i, f"row{i}"]])])
    schema = T.StructType([T.StructField("a", T.LongType()),
                           T.StructField("b", T.StringType())])
    df = read_excel_dir_distributed(spark, str(tmp_path / "*.xlsx"),
                                    "Sheet1", schema)
    rows = df.collect()
    assert len(rows) == 3
    assert {r["a"] for r in rows} == {0, 1, 2}
    # lineage column present and populated
    assert all(r["source_file"].endswith(".xlsx") for r in rows)


def test_distributed_excel_schema_merge_reconciliation(spark, tmp_path):
    """SURVEY §7.4 risk 4 / VERDICT r4 #8: per-file inference over
    heterogeneous workbooks must reconcile driver-side — numeric
    widening where lossless, string fallback on true conflicts — and
    the distributed parser must coerce each file's cells to the merged
    schema instead of crashing the Arrow conversion."""
    from etl_excel_to_hyper_tableau_spark.sources.excel import (
        merge_excel_schemas, read_excel_sheet,
    )
    # file 0: a=int, b=int, only in file 0: c
    xlsx_io.write_workbook(str(tmp_path / "f0.xlsx"),
                           [("Sheet1", ["a", "b", "c"],
                             [[1, 10, "x"], [2, 20, "y"]])])
    # file 1: a=string (conflict → string fallback), b=float (→ double)
    xlsx_io.write_workbook(str(tmp_path / "f1.xlsx"),
                           [("Sheet1", ["a", "b"],
                             [["one", 1.5], ["two", 2.5]])])
    inferred = [read_excel_sheet(spark, str(tmp_path / f"f{i}.xlsx"),
                                 "Sheet1").schema for i in range(2)]
    merged = merge_excel_schemas(inferred)
    by_name = {f.name: type(f.dataType) for f in merged.fields}
    assert by_name == {"a": T.StringType, "b": T.DoubleType,
                      "c": T.StringType}
    df = read_excel_dir_distributed(spark, str(tmp_path / "*.xlsx"),
                                    "Sheet1", merged)
    rows = sorted(df.collect(), key=lambda r: r["source_file"])
    assert len(rows) == 4
    # ints under the string-fallback column render as strings
    assert {r["a"] for r in rows} == {"1", "2", "one", "two"}
    # ints under the widened double column render as doubles
    assert sorted(r["b"] for r in rows) == [1.5, 2.5, 10.0, 20.0]
    # file-local missing column -> null
    assert [r["c"] for r in rows if r["source_file"].endswith("f1.xlsx")] \
        == [None, None]
