"""Recursive-CTE fixpoint helper and the CSV source / prep utility."""

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from etl_excel_to_hyper_tableau_spark.operators import combinators
from etl_excel_to_hyper_tableau_spark.plans.recursive import recursive_fixpoint
from etl_excel_to_hyper_tableau_spark.sources import xlsx_io
from etl_excel_to_hyper_tableau_spark.sources.csv import csv_to_excel, read_csv


def test_recursive_transitive_closure(spark):
    # reachability over a small DAG: 1→2→3→4, 2→5
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (2, 5)], "src int, dst int")
    base = edges.selectExpr("src", "dst")

    def step(frontier):
        return (frontier.alias("f")
                .join(edges.alias("e"), F.col("f.dst") == F.col("e.src"))
                .select(F.col("f.src").alias("src"), F.col("e.dst").alias("dst")))

    closure = recursive_fixpoint(base, step)
    got = {tuple(r) for r in closure.collect()}
    assert got == {(1, 2), (2, 3), (3, 4), (2, 5),        # direct
                   (1, 3), (2, 4), (1, 4), (1, 5)}        # derived


def test_recursive_counting_sequence(spark):
    # the classic WITH RECURSIVE counter: 1..10
    base = spark.createDataFrame([(1,)], "n int")

    def step(frontier):
        return frontier.filter(F.col("n") < 10).select((F.col("n") + 1).alias("n"))

    out = recursive_fixpoint(base, step)
    assert sorted(r["n"] for r in out.collect()) == list(range(1, 11))


def test_recursive_guards(spark):
    base = spark.createDataFrame([(1,)], "n int")
    with pytest.raises(RuntimeError, match="no fixpoint"):
        recursive_fixpoint(base, lambda f: f.select((F.col("n") + 1).alias("n")),
                           max_iterations=5)
    with pytest.raises(ValueError, match="schema"):
        recursive_fixpoint(base, lambda f: f.select(F.col("n").cast("long").alias("n")))


def test_recursive_dedups_array_and_struct_rows(spark):
    # the step rotates the array: [1, 2] → [2, 1] → [1, 2] (seen); the
    # struct carries a NaN, which UNION compares equal to itself
    base = spark.sql("SELECT array(1, 2) AS a, "
                     "named_struct('x', CAST('NaN' AS DOUBLE), 'y', 'p') AS s")

    def step(frontier):
        return frontier.select(
            F.concat(F.slice("a", 2, 10), F.slice("a", 1, 1)).alias("a"), "s")

    out = recursive_fixpoint(base, step, max_iterations=5).collect()
    assert [r["a"] for r in out] == [[1, 2], [2, 1]]
    assert all(r["s"]["y"] == "p" for r in out)


def _counter(spark):
    base = spark.createDataFrame(pa.table({"n": pa.array([1], pa.int64())}), "n long")
    return base, lambda f: f.filter(F.col("n") < 10).select((F.col("n") + 1).alias("n"))


def test_recursive_row_cap(spark, monkeypatch):
    monkeypatch.setattr(combinators, "MAX_CONCAT_ROWS", 10)
    assert recursive_fixpoint(*_counter(spark)).count() == 10  # at the cap
    monkeypatch.setattr(combinators, "MAX_CONCAT_ROWS", 9)
    with pytest.raises(ValueError, match="MAX_CONCAT_ROWS"):
        recursive_fixpoint(*_counter(spark))


def test_recursive_rounds_over_local_frontier_start_no_job(spark):
    sc = spark.sparkContext
    group = "recursive_fixpoint_local_rounds"
    sc.setJobGroup(group, "fixpoint over a local relation")
    try:
        out = recursive_fixpoint(*_counter(spark))
        got = sorted(r["n"] for r in out.collect())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == list(range(1, 11))
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_csv_roundtrip_and_prep(spark, tmp_path):
    csv = tmp_path / "data.csv"
    csv.write_text("name,qty\nwidget,3\ngadget,7\nsprocket,1\n")
    df = read_csv(spark, str(csv))
    assert df.columns == ["name", "qty"]
    assert dict(df.dtypes)["qty"] == "int"
    assert df.count() == 3

    out = csv_to_excel(spark, str(csv), str(tmp_path / "out.xlsx"), n_rows=2)
    cols, rows = xlsx_io.read_sheet(out, "Sheet1")
    assert cols == ["name", "qty"]
    assert len(rows) == 2 and rows[0] == ["widget", 3]
