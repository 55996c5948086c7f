"""The stdlib xlsx reader/writer and the Excel sources (SURVEY A1/A15)."""

import zipfile

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


_MAIN_NS = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'


def _raw_book(path, sheet_data, shared=None, sheet_tail=""):
    """A one-sheet workbook from hand-written SpreadsheetML: ``sheet_data``
    is the inside of ``<sheetData>``, ``shared`` the inside of ``<sst>``."""
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("xl/workbook.xml", (
            f'<workbook {_MAIN_NS} xmlns:r="http://schemas.openxmlformats.org/'
            'officeDocument/2006/relationships"><sheets>'
            '<sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'))
        zf.writestr("xl/_rels/workbook.xml.rels", (
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/'
            'relationships"><Relationship Id="rId1" Type="http://schemas.'
            'openxmlformats.org/officeDocument/2006/relationships/worksheet" '
            'Target="worksheets/sheet1.xml"/></Relationships>'))
        if shared is not None:
            zf.writestr("xl/sharedStrings.xml", f"<sst {_MAIN_NS}>{shared}</sst>")
        zf.writestr("xl/worksheets/sheet1.xml",
                    f"<worksheet {_MAIN_NS}><sheetData>{sheet_data}</sheetData>"
                    f"{sheet_tail}</worksheet>")
    return path


def test_read_sheet_error_and_date_cells_read_as_text(tmp_path):
    # an error cell and an ISO-date cell hold text in <v>, not a number;
    # openpyxl hands pandas the error cell's text too
    p = _raw_book(str(tmp_path / "typed.xlsx"), (
        '<row r="1"><c r="A1" t="inlineStr"><is><t>ratio</t></is></c>'
        '<c r="B1" t="inlineStr"><is><t>day</t></is></c></row>'
        '<row r="2"><c r="A2" t="e"><v>#DIV/0!</v></c>'
        '<c r="B2" t="d"><v>2024-01-31T00:00:00</v></c></row>'
        '<row r="3"><c r="A3" t="e"><v>#N/A</v></c><c r="B3"><v>4</v></c></row>'))
    assert xlsx_io.read_sheet(p, "Sheet1") == (
        ["ratio", "day"], [["#DIV/0!", "2024-01-31T00:00:00"], ["#N/A", 4]])


def test_read_sheet_edge_cases_keep_their_rows(tmp_path):
    # cells without r (placed after the row's last cell), rich-text shared
    # strings, t="str" / "b" / inlineStr, an empty <v>, a formula before
    # its <v>, lowercase column letters and <extLst> children of a row and
    # of the sheet; the expected rows are the reader's output before its
    # per-cell loop was rewritten
    p = _raw_book(str(tmp_path / "edge.xlsx"), (
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="inlineStr"><is><t>flag</t></is></c>'
        '<c t="str"><v>note</v></c>'
        '<c r="D1" t="inlineStr"><is><r><t>x</t></r><r><t>y</t></r></is></c></row>'
        '<row r="2"><c r="A2" t="s"><v>1</v></c><c r="B2" t="b"><v>1</v></c>'
        '<c t="str"><v>formula text</v></c><c r="D2"><v>2.50</v></c></row>'
        '<row r="3"><c t="s"><v>2</v></c><c t="b"><v>0</v></c><c r="D3"><v>7</v></c>'
        '<extLst><ext uri="{X}"/></extLst></row>'
        '<row r="4"><c r="A4" t="inlineStr"/><c r="B4"><v>1e3</v></c>'
        '<c r="C4" t="str"><v></v></c><c r="D4"><f>1+1</f><v>2</v></c></row>'
        '<row r="5"><c r="b5"><v>-4</v></c><c r="E5" t="s"><v>0</v></c></row>'),
        shared=('<si><t>name</t></si>'
                '<si><r><t>rich</t></r><r><rPr><b/></rPr><t xml:space="preserve"> text</t></r></si>'
                '<si><t>plain</t></si>'),
        sheet_tail='<extLst><ext uri="{Y}"/></extLst>')
    assert xlsx_io.read_sheet(p, "Sheet1") == (
        ["name", "flag", "note", "xy", "Unnamed_4"],
        [["rich text", True, "formula text", 2.5, None],
         ["plain", False, None, 7, None],
         [None, 1000.0, None, 2, None],
         [None, -4, None, None, "name"]])


def test_integer_cells_keep_every_digit_and_overflow_to_double(spark, tmp_path):
    # plain-integer text reads exactly as int (float rounded 2^53 + 1 down);
    # outside int64 it reads as float, the type sqlite3 gives such a literal
    import sqlite3

    big = 12345678901234567891
    p = str(tmp_path / "big.xlsx")
    xlsx_io.write_workbook(p, [("Sheet1", ["exact", "huge"],
                                [[2**53 + 1, 1], [-2**63, big], [2**63 - 1, -big]])])
    cols, rows = xlsx_io.read_sheet(p, "Sheet1")
    assert rows == [[2**53 + 1, 1], [-2**63, float(big)], [2**63 - 1, -float(big)]]
    assert [type(v) for v in rows[1]] == [int, float]
    assert sqlite3.connect(":memory:").execute(
        f"SELECT typeof({big}), typeof({2**63 - 1})").fetchone() == ("real", "integer")
    df = read_excel_sheet(spark, p, "Sheet1")
    assert df.schema.simpleString() == "struct<exact:bigint,huge:double>"
    assert [tuple(r) for r in df.collect()] == [tuple(r) for r in rows]
