"""WITH RECURSIVE front door (plans.recursive.run_recursive_union_sql +
engine routing): Spark 4.1 runs the UNION ALL form natively; the
UNION-distinct form — the SQLite cyclic-closure idiom — is driven
through recursive_fixpoint.  DuckDB runs the identical SQL as oracle."""

import sqlite3

import duckdb
import pytest

from etl_excel_to_hyper_tableau_spark.bundles import Query, QueryBundle
from etl_excel_to_hyper_tableau_spark.engine import QueryEngine
from etl_excel_to_hyper_tableau_spark.plans.recursive import (
    is_recursive_union, run_recursive_union_sql,
)
from etl_excel_to_hyper_tableau_spark.sources import xlsx_io

COUNTER_ALL = ("WITH RECURSIVE cnt(x) AS (SELECT 1 UNION ALL "
               "SELECT x + 1 FROM cnt WHERE x < 10) "
               "SELECT sum(x) AS s FROM cnt")
# cyclic graph: UNION ALL would never terminate; UNION-dedup must
CYCLE_UNION = ("WITH RECURSIVE reach(n) AS (SELECT 1 AS n UNION "
               "SELECT d FROM reach JOIN edges_t ON s = n) "
               "SELECT n FROM reach ORDER BY n")


def test_is_recursive_union_classifier():
    assert not is_recursive_union(COUNTER_ALL)           # native path
    assert is_recursive_union(CYCLE_UNION)
    assert not is_recursive_union("SELECT 1")
    # WITH RECURSIVE spelled on a non-recursive CTE: native path
    assert not is_recursive_union(
        "WITH RECURSIVE t AS (SELECT 1 AS x) SELECT x FROM t")


def test_union_distinct_cycle_matches_duckdb(spark):
    edges = [(1, 2), (2, 3), (3, 1), (3, 4)]
    spark.createDataFrame(edges, "s long, d long") \
         .createOrReplaceTempView("edges_t")
    got = [r["n"] for r in
           run_recursive_union_sql(spark, CYCLE_UNION, spark.sql).collect()]

    con = duckdb.connect()
    con.execute("CREATE TABLE edges_t AS SELECT * FROM (VALUES "
                + ", ".join(f"({s}, {d})" for s, d in edges) + ") v(s, d)")
    want = [r[0] for r in con.execute(CYCLE_UNION).fetchall()]
    assert got == want == [1, 2, 3, 4]


def test_engine_routes_both_recursive_forms(spark, tmp_path):
    eng = QueryEngine(spark, str(tmp_path), [], str(tmp_path))
    # UNION ALL → native Spark recursion
    out = eng.run_query(Query("c", COUNTER_ALL), "f.xlsx").collect()
    assert out[0]["s"] == 55
    # UNION distinct → fixpoint driver (cyclic, so native would reject
    # and a naive UNION ALL rewrite would hang)
    spark.createDataFrame([(1, 2), (2, 1)], "s long, d long") \
         .createOrReplaceTempView("edges_t")
    out = eng.run_query(Query("r", CYCLE_UNION), "f.xlsx").collect()
    assert [r["n"] for r in out] == [1, 2]


def test_multi_cte_union_distinct_pointed_error(spark):
    sql = ("WITH RECURSIVE r(x) AS (SELECT 1 UNION SELECT x + 1 FROM r "
           "WHERE x < 3), other AS (SELECT 2) SELECT * FROM r, other")
    assert is_recursive_union(sql)
    with pytest.raises(NotImplementedError, match="recursive_fixpoint"):
        run_recursive_union_sql(spark, sql, spark.sql)
    # UNION ALL runs natively through spark.sql; the evaluator refuses it
    with pytest.raises(ValueError, match="UNION ALL"):
        run_recursive_union_sql(spark, COUNTER_ALL, spark.sql)


def test_union_distinct_leaves_no_temp_view(spark):
    def views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "s long, d long") \
         .createOrReplaceTempView("edges_t")
    before = views()
    out = run_recursive_union_sql(spark, CYCLE_UNION, spark.sql)
    assert views() == before
    # the returned frame is resolved already: it still runs after the drop
    assert [r["n"] for r in out.collect()] == [1, 2, 3]


# SQL UNION row equality: a re-emitted NULL, −0.0 or NaN row is a
# duplicate, so each of these recursions stops after one empty round;
# UNION dedups the base arm's own rows too
ROW_EQUALITY = {
    "dup_base": ("WITH RECURSIVE r(x) AS (SELECT x FROM (SELECT 1 AS x UNION ALL "
                 "SELECT 1 UNION ALL SELECT 2) UNION SELECT x FROM r) "
                 "SELECT x FROM r ORDER BY x", True),
    "null": ("WITH RECURSIVE r(n, tag) AS (SELECT 1, CAST(NULL AS INTEGER) UNION "
             "SELECT CASE WHEN n < 3 THEN n + 1 ELSE n END, tag FROM r) "
             "SELECT n, tag FROM r ORDER BY n", True),
    "neg_zero": ("WITH RECURSIVE r(x) AS (SELECT CAST(0 AS DOUBLE) UNION "
                 "SELECT -x FROM r) SELECT x FROM r", True),
    # SQLite has no NaN (it stores NULL), so DuckDB alone is the oracle
    "nan": ("WITH RECURSIVE r(x) AS (SELECT CAST('NaN' AS DOUBLE) UNION "
            "SELECT x FROM r) SELECT count(*) AS n FROM r", False),
}


@pytest.mark.parametrize("case", sorted(ROW_EQUALITY))
def test_union_distinct_row_equality_matches_sqlite_and_duckdb(spark, case):
    sql, sqlite_can = ROW_EQUALITY[case]
    got = [tuple(r) for r in
           run_recursive_union_sql(spark, sql, spark.sql, max_iterations=5).collect()]
    assert got == duckdb.connect().execute(sql).fetchall()
    if sqlite_can:
        assert got == sqlite3.connect(":memory:").execute(sql).fetchall()


def test_pipeline_recursion_leaves_no_persisted_rdd(spark, tmp_path):
    # the recursive query of the bulk_parse benchmark workload, run twice
    rows = [[f"c{i % 4}", i] for i in range(40)]
    xlsx_io.write_workbook(str(tmp_path / "f1.xlsx"), [("Sheet1", ["company", "qty"], rows)])
    bundle = QueryBundle.from_strings(
        "levels", "parquet", ["f1"], ["Sheet1"],
        ["WITH RECURSIVE lvl(q) AS (SELECT DISTINCT qty % 3 FROM Sheet1.sheet "
         "WHERE qty IS NOT NULL UNION SELECT q + 1 FROM lvl WHERE q < 3) "
         "SELECT q FROM lvl"], ["levels"], pivot_by_name={"levels": True})
    jsc = spark.sparkContext._jsc

    def persisted():
        # compare ids, not counts: the ContextCleaner may unpersist
        # RDDs of earlier tests at any moment during this one
        return set(jsc.getPersistentRDDs().keySet())

    before = persisted()
    for run in range(2):
        QueryEngine(spark, str(tmp_path), [bundle], str(tmp_path / f"out{run}")).process_queries()
        assert not persisted() - before, run
    (_, df), = bundle.queried_dfs_by_query_name["levels"]
    assert sorted(r["q"] for r in df.collect()) == [0, 1, 2, 3]
