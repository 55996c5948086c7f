"""CSV source + the reference's test-data prep utility.

The reference's ``scratch.py`` (scratch.py:5-24) reads a CSV with
pandas, keeps the first 1000 rows, and writes an xlsx — that is how its
shipped sample workbooks were produced.  Spark-native equivalents:

* :func:`read_csv` — ``spark.read.csv`` with header+inference (the
  scalable CSV scan; splittable, pushdown-capable, SURVEY §2A A2);
* :func:`csv_to_excel` — the prep utility: first N rows to a worksheet
  through the Excel sink (no openpyxl dependency).  ``head(N)`` is
  ``limit(N)`` (A3); "first" follows file order, as pandas' did.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sinks.excel import write_excel


def read_csv(spark: SparkSession, path: str,
             header: bool = True, infer_schema: bool = True) -> DataFrame:
    return (spark.read
            .option("header", str(header).lower())
            .option("inferSchema", str(infer_schema).lower())
            .csv(path))


def csv_to_excel(spark: SparkSession, csv_path: str, xlsx_path: str,
                 n_rows: int = 1000, sheet_name: str = "Sheet1") -> str:
    """Reference ``export_csv_to_excel`` (scratch.py:5-18): CSV → first
    ``n_rows`` → one xlsx worksheet."""
    return write_excel(xlsx_path, [(sheet_name, read_csv(spark, csv_path).limit(n_rows))])
