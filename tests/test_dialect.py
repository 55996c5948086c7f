"""SQLite→Spark dialect shim (SURVEY §2C deltas).  Each delta gets a
paired SQLite-vs-Spark case: run the original in stdlib sqlite3, the
rewritten form in Spark, compare values (§5.2-4)."""

import sqlite3

import pytest

from etl_excel_to_hyper_tableau_spark.plans.dialect import (
    glob_to_regex, rewrite_bare_column, sqlite_to_spark,
)


# ---------------------------------------------------------------------------
# pure-string rewrite behavior
# ---------------------------------------------------------------------------

def test_like_becomes_ilike():
    assert sqlite_to_spark("SELECT * FROM t WHERE a LIKE 'x%'") == \
        "SELECT * FROM t WHERE a ILIKE 'x%'"


def test_like_inside_literal_untouched():
    out = sqlite_to_spark("SELECT 'I LIKE cats' FROM t")
    assert "'I LIKE cats'" in out


def test_double_quotes_become_backticks():
    assert sqlite_to_spark('SELECT "my col" FROM t') == "SELECT `my col` FROM t"


def test_glob_literal_to_rlike_regex():
    out = sqlite_to_spark("SELECT * FROM t WHERE a GLOB 'ab*c?'")
    assert "RLIKE" in out and "'^ab.*c.$'" in out


def test_not_glob():
    out = sqlite_to_spark("SELECT * FROM t WHERE a NOT GLOB '*x*'")
    assert "NOT RLIKE '^.*x.*$'" in out


def test_glob_to_regex_char_class():
    assert glob_to_regex("a[0-9]b") == "^a[0-9]b$"


def test_group_concat_default_sep():
    out = sqlite_to_spark("SELECT group_concat(name) FROM t")
    assert out == "SELECT concat_ws(',', collect_list(name)) FROM t"


def test_group_concat_custom_sep_and_nested_parens():
    out = sqlite_to_spark("SELECT group_concat(upper(name), '; ') FROM t")
    assert out == "SELECT concat_ws('; ', collect_list(upper(name))) FROM t"


def test_total_rewrite():
    out = sqlite_to_spark("SELECT total(x) FROM t")
    assert out == "SELECT coalesce(sum(cast(x as double)), 0.0d) FROM t"


def test_iif_rewrite():
    assert sqlite_to_spark("SELECT iif(a>1, 'x', 'y') FROM t") == \
        "SELECT if(a>1, 'x', 'y') FROM t"


def test_strftime_year_month():
    out = sqlite_to_spark("SELECT strftime('%Y-%m', d) FROM t")
    assert out == "SELECT date_format(d, 'yyyy-MM') FROM t"


def test_rewrite_bare_column_wraps_only_exact_items():
    sql = ("SELECT company, product, COUNT(product) as n FROM t "
           "WHERE company='X' GROUP BY product")
    out = rewrite_bare_column(sql, "company")
    assert "any_value(company) AS company" in out
    assert "COUNT(product)" in out          # function args untouched
    assert "WHERE company='X'" in out       # other clauses untouched


def test_rewrite_bare_column_qualified():
    out = rewrite_bare_column("SELECT t.name, count(*) FROM t GROUP BY x", "name")
    assert "any_value(t.name) AS name" in out


@pytest.mark.parametrize("select, wrapped", [
    ("region, MAX(qty) AS m", "max_by(region, qty)"),
    ("t.region, min(DISTINCT qty), count(*)", "min_by(t.region, qty)"),
    ("region, max(qty + 1) + 1", "max_by(region, qty + 1)"),
    # two extremes, a scalar max(a, b), a window and a subquery: no rule
    ("region, max(qty), min(qty)", "any_value(region)"),
    ("region, max(qty, 2), count(*)", "any_value(region)"),
    ("region, max(qty) OVER (PARTITION BY company), count(*)",
     "any_value(region)"),
    ("region, (SELECT max(x) FROM u), count(*)", "any_value(region)"),
], ids=["max", "min_distinct", "max_expr", "two_extremes", "scalar_max",
        "window", "subquery"])
def test_rewrite_bare_column_takes_the_single_min_max_row(select, wrapped):
    out = rewrite_bare_column(f"SELECT {select} FROM t GROUP BY company",
                              "region")
    assert f"{wrapped} AS region" in out


def test_rewrite_bare_column_keeps_the_space_before_from():
    out = rewrite_bare_column("SELECT company, region FROM t GROUP BY company",
                              "region")
    assert out == ("SELECT company, any_value(region) AS region FROM t "
                   "GROUP BY company")


@pytest.mark.parametrize("sql, wrapped", [
    ("SELECT company, region FROM t GROUP BY company HAVING max(qty) > 0",
     "max_by(region, qty)"),
    ("SELECT company, region FROM t GROUP BY company ORDER BY MIN( qty )",
     "min_by(region, qty)"),
    # the same aggregate twice is one aggregate, as in SQLite
    ("SELECT company, region, max(qty) FROM t GROUP BY company "
     "HAVING MAX( qty ) > 0", "max_by(region, qty)"),
    ("SELECT company, region, max(qty) FROM t GROUP BY company "
     "HAVING min(qty) > 0", "any_value(region)"),
    # a min/max in the CTE or a subquery belongs to another block
    ("WITH x AS (SELECT max(qty) AS q FROM t) SELECT company, region "
     "FROM t, x GROUP BY company", "any_value(region)"),
], ids=["having", "order_by", "repeated", "having_other_extreme", "cte"])
def test_rewrite_bare_column_reads_the_whole_block(sql, wrapped):
    assert f"{wrapped} AS region" in rewrite_bare_column(sql, "region")


def test_rewrite_bare_column_picks_the_grouped_select():
    sql = ("WITH x AS (SELECT company, region, qty FROM s) "
           "SELECT company, region, COUNT(*) AS n FROM x GROUP BY company")
    assert rewrite_bare_column(sql, "region") == (
        "WITH x AS (SELECT company, region, qty FROM s) "
        "SELECT company, any_value(region) AS region, COUNT(*) AS n FROM x "
        "GROUP BY company")
    # a compound's second arm, when the first is not grouped
    sql = "SELECT region FROM s UNION SELECT region FROM u GROUP BY c"
    assert rewrite_bare_column(sql, "region") == (
        "SELECT region FROM s UNION SELECT any_value(region) AS region FROM u "
        "GROUP BY c")


def test_literal_masking_preserves_escaped_quotes():
    sql = "SELECT 'it''s' FROM t WHERE a LIKE 'o''brien%'"
    out = sqlite_to_spark(sql)
    assert "'it''s'" in out and "ILIKE 'o''brien%'" in out


# ---------------------------------------------------------------------------
# paired SQLite-vs-Spark value checks
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def lite():
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (name TEXT, v INTEGER, d TEXT)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", [
        ("Alpha", 1, "2023-05-12"),
        ("beta", 2, "2023-06-01"),
        ("ALPHABET", 3, "2024-01-31"),
        (None, 4, None),
    ])
    yield con
    con.close()


def _spark_t(spark):
    df = spark.createDataFrame(
        [("Alpha", 1, "2023-05-12"), ("beta", 2, "2023-06-01"),
         ("ALPHABET", 3, "2024-01-31"), (None, 4, None)],
        "name string, v int, d string")
    df.createOrReplaceTempView("t")


def _pair(spark, lite, sql, sort=True):
    lite_rows = [tuple(r) for r in lite.execute(sql).fetchall()]
    _spark_t(spark)
    spark_rows = [tuple(r) for r in spark.sql(sqlite_to_spark(sql)).collect()]
    if sort:
        lite_rows, spark_rows = sorted(map(repr, lite_rows)), sorted(map(repr, spark_rows))
    return lite_rows, spark_rows


def test_pair_like_case_insensitive(spark, lite):
    a, b = _pair(spark, lite, "SELECT name FROM t WHERE name LIKE 'alpha%'")
    assert a == b and len(a) == 2  # Alpha + ALPHABET


def test_pair_glob_case_sensitive(spark, lite):
    a, b = _pair(spark, lite, "SELECT name FROM t WHERE name GLOB 'A*'")
    assert a == b and len(a) == 2


def test_pair_total_empty_returns_zero(spark, lite):
    a, b = _pair(spark, lite, "SELECT total(v) FROM t WHERE v > 100")
    assert a == b == ["(0.0,)"]


def test_pair_iif(spark, lite):
    a, b = _pair(spark, lite, "SELECT iif(v > 2, 'big', 'small') FROM t")
    assert a == b


def test_pair_strftime(spark, lite):
    a, b = _pair(spark, lite, "SELECT strftime('%Y-%m', d) FROM t WHERE d IS NOT NULL")
    assert a == b


def test_pair_group_concat_sorted(spark, lite):
    # order inside group_concat is engine-defined in both engines; pin it
    # with a subquery ORDER BY, which both honor here
    sql = ("SELECT group_concat(name, '|') FROM "
           "(SELECT name FROM t WHERE name IS NOT NULL ORDER BY name)")
    a, b = _pair(spark, lite, sql)
    assert a == b


def test_pair_julianday(spark, lite):
    sql = "SELECT CAST(julianday(d) AS INTEGER) FROM t WHERE d IS NOT NULL"
    a, b = _pair(spark, lite, sql)
    assert a == b


def test_pair_double_quoted_identifier(spark, lite):
    a, b = _pair(spark, lite, 'SELECT "name" FROM t WHERE v = 1')
    assert a == b == ["('Alpha',)"]


def test_pair_printf(spark, lite):
    sql = "SELECT printf('%s=%d', name, v) FROM t WHERE name IS NOT NULL"
    a, b = _pair(spark, lite, sql)
    assert a == b and len(a) == 3


def test_pair_like_escape(spark, lite):
    # ESCAPE clause passes through the LIKE→ILIKE rewrite untouched
    lite.execute("INSERT INTO t VALUES ('pct_50', 5, NULL)")
    sql = r"SELECT name FROM t WHERE name LIKE '%\_50' ESCAPE '\'"
    lite_rows = [tuple(r) for r in lite.execute(sql).fetchall()]
    df = _spark_t  # reuse builder with the extra row
    import pyspark.sql.functions as _F  # noqa
    spark.createDataFrame(
        [("Alpha", 1, "2023-05-12"), ("beta", 2, "2023-06-01"),
         ("ALPHABET", 3, "2024-01-31"), (None, 4, None), ("pct_50", 5, None)],
        "name string, v int, d string").createOrReplaceTempView("t")
    spark_rows = [tuple(r) for r in spark.sql(sqlite_to_spark(sql)).collect()]
    assert sorted(lite_rows) == sorted(spark_rows) == [("pct_50",)]


def test_pair_backslash_literal(spark, lite):
    # SQLite string literals keep backslashes verbatim ('\n' is TWO
    # chars); Spark's parser would eat them as C-escapes — the shim
    # doubles them at unmask so both engines see the same bytes
    sql = r"SELECT length('a\nb'), 'x\y' FROM t WHERE v = 1"
    a, b = _pair(spark, lite, sql)
    assert a == b  # SQLite: length 4 and a literal backslash in 'x\y'
    assert "4" in a[0]


def test_quirk_literal_adjacent_keyword(spark, lite):
    # the reference's query 1 is concatenated without a space:
    # ...'Bank of America'GROUP BY... — both engines accept it (SURVEY §2B)
    sql = "SELECT count(*) FROM t WHERE name='Alpha'GROUP BY name"
    a, b = _pair(spark, lite, sql)
    assert a == b == ["(1,)"]
