"""Golden end-to-end test (SURVEY §5.2-2): recreate the exact reference
scenario — two identical complaint-shaped files, the two example queries
(run_main_example.py:14-23), one pivot and one concat — and assert the
output schemas match the golden ``complaints_by_bank.hyper`` catalog.
"""

import pytest

from etl_excel_to_hyper_tableau_spark.bundles import QueryBundle
from etl_excel_to_hyper_tableau_spark.engine import QueryEngine
from etl_excel_to_hyper_tableau_spark.sinks.hyper import plan_hyper_tables
from etl_excel_to_hyper_tableau_spark.sources import xlsx_io

# a miniature of the CFPB complaints data: same column names the golden
# queries touch, tiny deterministic values
_COLS = ["company", "product", "company_response_to_consumer"]
_ROWS = [
    ["Bank of America", "Mortgage", "Closed with explanation"],
    ["Bank of America", "Mortgage", "Closed with explanation"],
    ["Bank of America", "Banking", "Closed"],
    ["Wells Fargo", "Mortgage", "Closed"],
    ["Wells Fargo", "Card", "Closed"],
]

Q1 = ("SELECT company, product, COUNT(product) as number_of_complaints "
      "FROM Sheet1.sheet WHERE company='Bank of America' GROUP BY product")
Q2 = ("SELECT company, COUNT(company) as number_of_complaints "
      "FROM Sheet1.sheet GROUP BY company "
      "HAVING COUNT(company_response_to_consumer) > 1")


@pytest.fixture()
def complaint_dir(tmp_path):
    for name in ("consumer_complaints.xlsx", "consumer_complaints1.xlsx"):
        xlsx_io.write_workbook(str(tmp_path / name), [("Sheet1", _COLS, _ROWS)])
    return str(tmp_path)


def _bundle(sink="excel"):
    return QueryBundle.from_strings(
        export_name="complaints_by_bank", sink=sink,
        matches=["consumer_complaints.xlsx", "consumer_complaints1.xlsx"],
        sheets=["Sheet1"],
        query_strings=[Q1, Q2],
        query_names=["complaint_counts_by_company", "num_of_complaints_per_company"],
        pivot_by_name={"complaint_counts_by_company": True},
    )


def test_golden_end_to_end(spark, complaint_dir, tmp_path):
    bundle = _bundle()
    eng = QueryEngine(spark, complaint_dir, [bundle], str(tmp_path / "out"))
    outputs = eng.process_queries()
    assert outputs["complaints_by_bank"].endswith(".xlsx")

    # --- pivot path: golden table complaint_counts_by_company -----------
    pivot_results = bundle.queried_dfs_by_query_name["complaint_counts_by_company"]
    assert len(pivot_results) == 2  # one per matched file
    cols, rows = xlsx_io.read_sheet(outputs["complaints_by_bank"],
                                    "complaint_counts_by_company")
    # golden schema: index, company, product, number_of_complaints
    assert cols == ["index", "company", "product", "number_of_complaints"]
    # provenance column holds extension-stripped file names
    assert {r[0] for r in rows} == {"consumer_complaints", "consumer_complaints1"}
    # BoA has 2 products → 2 rows per file
    assert len(rows) == 4
    by_key = {(r[0], r[2]): r[3] for r in rows}
    assert by_key[("consumer_complaints", "Mortgage")] == 2
    assert by_key[("consumer_complaints", "Banking")] == 1

    # --- concat path: golden table num_of_complaints_per_company --------
    cols2, rows2 = xlsx_io.read_sheet(outputs["complaints_by_bank"],
                                      "num_of_complaints_per_company")
    # golden schema: {match}_company, {match}_number_of_complaints × 2 files
    assert cols2 == [
        "consumer_complaints.xlsx_company",
        "consumer_complaints.xlsx_number_of_complaints",
        "consumer_complaints1.xlsx_company",
        "consumer_complaints1.xlsx_number_of_complaints",
    ]
    # HAVING > 1 keeps both companies (3 and 2 responses)
    assert len(rows2) == 2
    counts = {r[0]: r[1] for r in rows2}
    assert counts == {"Bank of America": 3, "Wells Fargo": 2}
    # identical input files → identical left/right halves
    assert all(r[0] == r[2] and r[1] == r[3] for r in rows2)


def test_hyper_table_plan_matches_golden_schema(spark, complaint_dir, tmp_path):
    # tableauhyperapi is absent here; the schema-mapping half of the sink
    # (the part the golden .hyper catalog pins) is still fully checked
    bundle = _bundle(sink="hyper")
    eng = QueryEngine(spark, complaint_dir, [bundle], str(tmp_path / "out"))
    match_map = eng.match_files()
    eng.stage(eng.distinct_sheets(match_map))
    try:
        results = []
        for query in bundle.queries:
            per_file = [(m, match_map[m], eng.run_query(query, match_map[m]))
                        for m in bundle.matches]
            results.append((query.name, eng.combine(bundle, query, per_file)))
        plans = plan_hyper_tables(results)
    finally:
        from etl_excel_to_hyper_tableau_spark.sources.registry import unregister_all
        unregister_all(spark, eng._registered)

    by_name = {p["table"]: p["columns"] for p in plans}
    # golden: index/company/product varchar + number_of_complaints integer
    assert by_name["complaint_counts_by_company"] == [
        ("index", "text", True), ("company", "text", True),
        ("product", "text", True), ("number_of_complaints", "big_int", True),
    ]
    assert [c[1] for c in by_name["num_of_complaints_per_company"]] == \
        ["text", "big_int", "text", "big_int"]


def test_match_resolution_errors(spark, complaint_dir, tmp_path):
    bundle = QueryBundle.from_strings(
        export_name="x", sink="excel", matches=["nonexistent_file"],
        sheets=["Sheet1"], query_strings=["SELECT 1"], query_names=["q"])
    eng = QueryEngine(spark, complaint_dir, [bundle], str(tmp_path))
    with pytest.raises(FileNotFoundError):
        eng.process_queries()


def test_xls_twin_does_not_shadow_xlsx(spark, tmp_path):
    # only the zip-based .xlsx is parseable; a legacy .xls with the same
    # stem sorts first and must not be what the match resolves to
    from etl_excel_to_hyper_tableau_spark.sources.registry import (
        discover_files, resolve_match,
    )
    (tmp_path / "a_data.xls").write_bytes(b"\xd0\xcf\x11\xe0 not a zip")
    xlsx_io.write_workbook(str(tmp_path / "a_data.xlsx"),
                           [("Sheet1", _COLS, _ROWS)])
    assert discover_files(str(tmp_path)) == ["a_data.xlsx"]
    assert resolve_match(discover_files(str(tmp_path)), "a_data") \
        == "a_data.xlsx"
    bundle = QueryBundle.from_strings(
        export_name="x", sink="parquet", matches=["a_data"],
        sheets=["Sheet1"], query_strings=["SELECT company FROM Sheet1.sheet"],
        query_names=["q"])
    eng = QueryEngine(spark, str(tmp_path), [bundle], str(tmp_path / "out"))
    eng.process_queries()
    assert bundle.queried_dfs_by_query_name["q"][0][1].count() == len(_ROWS)


def test_errors_name_the_file_and_query(spark, tmp_path):
    import zipfile

    from pyspark.errors.exceptions.captured import AnalysisException

    (tmp_path / "bad.xlsx").write_bytes(b"not a zip archive")
    bad = QueryBundle.from_strings(
        export_name="x", sink="excel", matches=["bad"], sheets=["Sheet1"],
        query_strings=["SELECT 1"], query_names=["q"])
    with pytest.raises(zipfile.BadZipFile) as ei:
        QueryEngine(spark, str(tmp_path), [bad], str(tmp_path)).process_queries()
    notes = "\n".join(ei.value.__notes__)
    assert "'Sheet1'" in notes and "bad.xlsx" in notes

    good = tmp_path / "good"
    good.mkdir()
    xlsx_io.write_workbook(str(good / "complaints.xlsx"),
                           [("Sheet1", _COLS, _ROWS)])
    unknown_col = QueryBundle.from_strings(
        export_name="x", sink="excel", matches=["complaints"],
        sheets=["Sheet1"], query_strings=["SELECT no_such_col FROM Sheet1.sheet"],
        query_names=["q_unknown_col"])
    with pytest.raises(AnalysisException) as ei:
        QueryEngine(spark, str(good), [unknown_col],
                    str(tmp_path)).process_queries()
    notes = "\n".join(ei.value.__notes__)
    assert "'q_unknown_col'" in notes and "complaints.xlsx" in notes


def test_match_is_a_literal_substring():
    # the reference's substring rule: glob characters match themselves
    from etl_excel_to_hyper_tableau_spark.sources.registry import resolve_match
    assert resolve_match(["report[2024].xlsx"], "report[2024]") \
        == "report[2024].xlsx"


def _sqlite_pairs(spark, tmp_path, rows, sqls):
    """Run each of ``sqls`` (``{t}`` for the table) through the engine on
    one sheet of ``rows`` and through stdlib sqlite3; return the sorted
    (engine, sqlite3) rows per query name."""
    return {name: pairs[0] for name, pairs in _sqlite_file_pairs(
        spark, tmp_path, {"sales": (["company", "region", "qty"], rows)}, sqls).items()}


def _sqlite_file_pairs(spark, tmp_path, files, sqls):
    """:func:`_sqlite_pairs` over one bundle of several files: ``files``
    maps a file stem to its sheet's (columns, rows); returns the sorted
    (engine, sqlite3) rows per query name and file, in ``files`` order."""
    import sqlite3

    for stem, (cols, rows) in files.items():
        xlsx_io.write_workbook(str(tmp_path / f"{stem}.xlsx"), [("Sheet1", cols, rows)])
    bundle = QueryBundle.from_strings(
        export_name="x", sink="parquet", matches=list(files), sheets=["Sheet1"],
        query_strings=[s.format(t="Sheet1.sheet") for s in sqls.values()],
        query_names=list(sqls))
    QueryEngine(spark, str(tmp_path), [bundle],
                str(tmp_path / "out")).process_queries()
    out = {name: [] for name in sqls}
    for i, (cols, rows) in enumerate(files.values()):
        con = sqlite3.connect(":memory:")
        con.execute(f"CREATE TABLE t ({', '.join(cols)})")
        con.executemany(f"INSERT INTO t VALUES ({', '.join('?' * len(cols))})", rows)
        for name, sql in sqls.items():
            engine = bundle.queried_dfs_by_query_name[name][i][1].collect()
            out[name].append((sorted(tuple(r) for r in engine),
                              sorted(con.execute(sql.format(t="t")).fetchall())))
    return out


def test_recursive_union_retries_bare_columns_like_sqlite(spark, tmp_path):
    # SQLite's bare-column rule holds inside a UNION-distinct recursive
    # CTE too: region is neither grouped nor aggregated in the base arm
    got = _sqlite_pairs(spark, tmp_path, [["A", "N", 1], ["A", "N", 2], ["B", "S", 3]], {
        "q": "WITH RECURSIVE r(c, reg, n) AS (SELECT company, region, COUNT(*) "
             "FROM {t} GROUP BY company UNION SELECT c, reg, n + 1 FROM r "
             "WHERE n < 3) SELECT c, reg, n FROM r"})
    engine, lite = got["q"]
    assert len(lite) == 5 and engine == lite


_EXTREME_ROWS = [["A", "N", 1], ["A", "S", 5], ["A", "E", 3], ["B", "W", 2], ["B", "X", 9]]


def test_min_max_bare_columns_come_from_the_extreme_row_like_sqlite(
        spark, tmp_path):
    # with exactly one min()/max() aggregate, SQLite takes a bare column
    # from the row that holds the extreme, not from an arbitrary row
    got = _sqlite_pairs(spark, tmp_path, _EXTREME_ROWS, {
        name: f"SELECT company, region, {fn}(qty) AS m, COUNT(*) AS n "
              "FROM {t} GROUP BY company"
        for name, fn in (("hi", "MAX"), ("lo", "MIN"))})
    for name, (engine, lite) in got.items():
        assert engine == lite, name
    assert [r[:3] for r in got["hi"][1]] == [("A", "S", 5), ("B", "X", 9)]


def test_with_query_retries_the_aggregating_select_like_sqlite(spark, tmp_path):
    # the bare column sits in the main SELECT, not in the CTE's
    got = _sqlite_pairs(spark, tmp_path, [["A", "N", 1], ["A", "N", 2], ["B", "W", 3]], {
        "q": "WITH x AS (SELECT company, region, qty FROM {t}) "
             "SELECT company, region, COUNT(*) AS n FROM x GROUP BY company"})
    assert got["q"][1] == [("A", "N", 2), ("B", "W", 1)]
    assert got["q"][0] == got["q"][1]


def test_min_max_in_having_or_order_by_picks_the_extreme_row_like_sqlite(
        spark, tmp_path):
    # a single min()/max() selects the row wherever the block holds it; the
    # same max(qty) selected and in HAVING is still one aggregate
    got = _sqlite_pairs(spark, tmp_path, _EXTREME_ROWS, {
        "having": "SELECT company, region FROM {t} GROUP BY company "
                  "HAVING max(qty) > 0",
        "repeated": "SELECT company, region, max(qty) AS m FROM {t} "
                    "GROUP BY company HAVING max(qty) > 0",
        "order_by": "SELECT company, region FROM {t} GROUP BY company "
                    "ORDER BY min(qty)"})
    assert got["having"][1] == [("A", "S"), ("B", "X")]
    assert got["repeated"][1] == [("A", "S", 5), ("B", "X", 9)]
    assert got["order_by"][1] == [("A", "N"), ("B", "W")]
    for name, (engine, lite) in got.items():
        assert engine == lite, name


@pytest.fixture()
def missing_aggregations(spark, monkeypatch):
    """Count the ``spark.sql`` calls that fail with MISSING_AGGREGATION."""
    failures = []
    sql = spark.sql

    def counting(query, *args, **kwargs):
        try:
            return sql(query, *args, **kwargs)
        except Exception as e:
            if "MISSING_AGGREGATION" in str(e):
                failures.append(query)
            raise

    monkeypatch.setattr(spark, "sql", counting)
    return failures


_BARE_SQLS = {
    "by_company": "SELECT company, region, COUNT(*) AS n FROM {t} GROUP BY company",
    "by_region": "SELECT region, company, total(qty) AS units FROM {t} GROUP BY region",
}


def test_bare_column_retry_runs_once_per_query_not_per_file(
        spark, tmp_path, missing_aggregations):
    # the second and third file reuse the first file's rewrite: one failed
    # analysis per query in a 3-file bundle, not one per (query, file)
    cols = ["company", "region", "qty"]
    got = _sqlite_file_pairs(spark, tmp_path, {
        "jan": (cols, [["A", "N", 1], ["A", "N", 2], ["B", "S", 3]]),
        "feb": (cols, [["A", "N", 4], ["C", "E", 5]]),
        "mar": (cols, [["B", "S", 6], ["B", "S", 7], ["C", "E", None]])}, _BARE_SQLS)
    assert len(missing_aggregations) == len(_BARE_SQLS)
    for name, pairs in got.items():
        assert len(pairs) == 3 and all(engine == lite for engine, lite in pairs), name


def test_bare_column_retry_runs_per_schema(spark, tmp_path, missing_aggregations):
    # files whose sheets have different schemas each find their own bare
    # columns, and each still matches sqlite3
    got = _sqlite_file_pairs(spark, tmp_path, {
        "ints": (["company", "region", "qty"], [["A", "N", 1], ["A", "N", 2], ["B", "S", 3]]),
        "text": (["company", "qty", "region", "note"],
                 [["A", "many", "N", "x"], ["B", "1", "S", None], ["B", "2", "S", "y"]])},
        _BARE_SQLS)
    assert len(missing_aggregations) == 2 * len(_BARE_SQLS)
    for name, pairs in got.items():
        assert len(pairs) == 2 and all(engine == lite for engine, lite in pairs), name
