"""The Excel and Hyper sinks and the CSV prep utility: one capped driver
collect (``combinators.collect_rows``) feeds all three, so nulls stay
``None``, integers stay ``int`` and timestamps are the session time
zone's wall clock, whatever the process's own ``TZ`` is.

The Hyper sink runs against a stand-in ``tableauhyperapi`` module that
records the tables it is asked to create and the rows it is handed, so
no Hyper install is needed."""

from __future__ import annotations

import math
import os
import sys
import time
import types
from datetime import datetime
from types import SimpleNamespace

import pytest

from etl_excel_to_hyper_tableau_spark.functions.typemap import spark_type_to_hyper
from etl_excel_to_hyper_tableau_spark.operators import combinators
from etl_excel_to_hyper_tableau_spark.sinks import hyper
from etl_excel_to_hyper_tableau_spark.sinks.excel import write_excel
from etl_excel_to_hyper_tableau_spark.sources import xlsx_io
from etl_excel_to_hyper_tableau_spark.sources.csv import csv_to_excel

# 2024-01-02 03:04:05 UTC; 12:04:05 in Tokyo, 22:04:05 the day before in New York
EPOCH_S = 1704164645


@pytest.fixture
def tokyo_session_new_york_process(spark):
    """Session time zone Asia/Tokyo, process ``TZ`` America/New_York: a
    value rendered in the wrong one of the two shows."""
    old_tz, old_session = os.environ.get("TZ"), spark.conf.get("spark.sql.session.timeZone")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_session)
        if old_tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def _mixed(spark):
    """A BIGINT, a DOUBLE, a string and a TIMESTAMP; row 2 is all null and
    row 3 holds a NaN."""
    return spark.sql(f"""
        SELECT * FROM VALUES
          (1L, 1.5D, 'a', timestamp_seconds({EPOCH_S})),
          (NULL, NULL, NULL, NULL),
          (3L, CAST('NaN' AS DOUBLE), 'c', NULL)
        AS t(n, x, s, ts)""")


# -- Hyper -----------------------------------------------------------------------

@pytest.fixture
def fake_hyper(monkeypatch):
    """A stand-in ``tableauhyperapi``: ``tables`` maps each created table
    to ``(columns, rows)``, a column being ``(name, sql type name)``."""
    mod = types.ModuleType("tableauhyperapi")
    mod.tables = {}

    class Context:
        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

    class HyperProcess(Context):
        def __init__(self, telemetry):
            self.endpoint = "endpoint"

    class Connection(Context):
        def __init__(self, endpoint, database, create_mode):
            mod.database = database
            self.catalog = SimpleNamespace(create_table=lambda t: mod.tables.__setitem__(
                t.name, ([(c.name, c.type) for c in t.columns], [])))

    class TableDefinition:
        Column = staticmethod(lambda name, type: SimpleNamespace(name=name, type=type))

        def __init__(self, name, columns):
            self.name, self.columns = name, columns

    class Inserter(Context):
        def __init__(self, connection, table):
            self.rows = mod.tables[table.name][1]

        def add_rows(self, rows):
            self.rows.extend(tuple(r) for r in rows)

        def execute(self):
            pass

    mod.SqlType = SimpleNamespace(
        numeric=lambda precision, scale: f"numeric({precision},{scale})",
        **{n: (lambda n=n: n) for n in
           ("big_int", "int", "double", "timestamp", "date", "bool", "bytes", "text")})
    mod.HyperProcess, mod.Connection, mod.Inserter = HyperProcess, Connection, Inserter
    mod.TableDefinition = TableDefinition
    mod.CreateMode = SimpleNamespace(CREATE_AND_REPLACE="create_and_replace")
    mod.Telemetry = SimpleNamespace(DO_NOT_SEND_USAGE_DATA_TO_TABLEAU="no")
    monkeypatch.setitem(sys.modules, "tableauhyperapi", mod)
    monkeypatch.setattr(hyper, "HYPER_AVAILABLE", True)
    return mod


def test_hyper_sink_inserts_none_ints_and_session_wall_clock(
        spark, fake_hyper, tmp_path, tokyo_session_new_york_process):
    df = _mixed(spark)
    out = hyper.write_hyper(str(tmp_path / "out"), [("mixed", df)])
    assert out == fake_hyper.database == str(tmp_path / "out.hyper")

    columns, rows = fake_hyper.tables["mixed"]
    assert columns == [(f.name, spark_type_to_hyper(f.dataType)) for f in df.schema.fields]
    assert columns == [("n", "big_int"), ("x", "double"), ("s", "text"), ("ts", "timestamp")]
    assert rows[:2] == [(1, 1.5, "a", datetime(2024, 1, 2, 12, 4, 5)),
                        (None, None, None, None)]
    assert type(rows[0][0]) is int and type(rows[2][0]) is int
    assert math.isnan(rows[2][1])  # a NaN stays a NaN, a null is None
    assert rows[2][2:] == ("c", None)


def test_hyper_sink_refuses_a_result_over_the_cap(spark, fake_hyper, tmp_path, monkeypatch):
    monkeypatch.setattr(combinators, "MAX_CONCAT_ROWS", 2)
    with pytest.raises(ValueError, match="'big' would exceed 2 rows"):
        hyper.write_hyper(str(tmp_path / "out"), [("big", spark.range(3))])
    assert "big" not in fake_hyper.tables


# -- Excel -----------------------------------------------------------------------

def _types(values):
    return [type(v).__name__ for v in values]


def test_excel_sink_keeps_ints_blanks_and_session_wall_clock(
        spark, tmp_path, tokyo_session_new_york_process):
    # a duplicate column name, as the horizontal concat allows
    df = _mixed(spark).selectExpr("n", "x", "s", "ts", "n AS x")
    out = write_excel(str(tmp_path / "out"), [("mixed", df)])
    cols, rows = xlsx_io.read_sheet(out, "mixed")
    assert cols == ["n", "x", "s", "ts", "x"]
    assert [r[0] for r in rows] == [1, None, 3]
    assert _types(r[0] for r in rows) == ["int", "NoneType", "int"]
    assert [r[1] for r in rows] == [1.5, None, None]  # NaN → blank cell
    assert rows[0][3] == "2024-01-02 12:04:05"


def test_nan_writes_a_blank_cell():
    assert xlsx_io._cell_xml("A1", float("nan")) == ""
    assert xlsx_io._cell_xml("A1", 2.5) == '<c r="A1"><v>2.5</v></c>'


def test_excel_sink_refuses_a_result_over_the_cap(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(combinators, "MAX_CONCAT_ROWS", 2)
    write_excel(str(tmp_path / "ok.xlsx"), [("ok", spark.range(2))])  # at the cap
    with pytest.raises(ValueError, match="'big' would exceed 2 rows"):
        write_excel(str(tmp_path / "big.xlsx"), [("ok", spark.range(2)), ("big", spark.range(3))])
    assert not (tmp_path / "big.xlsx").exists()


def test_csv_to_excel_keeps_an_int_column_with_a_blank_int(spark, tmp_path):
    csv = tmp_path / "data.csv"
    csv.write_text("name,qty\nwidget,1\ngadget,\nsprocket,3\nbolt,4\n")
    out = csv_to_excel(spark, str(csv), str(tmp_path / "out.xlsx"), n_rows=3)
    cols, rows = xlsx_io.read_sheet(out, "Sheet1")
    assert cols == ["name", "qty"]
    assert rows == [["widget", 1], ["gadget", None], ["sprocket", 3]]
    assert _types(r[1] for r in rows) == ["int", "NoneType", "int"]
