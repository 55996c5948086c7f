"""Excel sink: one worksheet per query result (reference A15,
query_iterator.py:197-212).

Inherently a driver-side single-file write (xlsx is unsplittable);
results are collected via Arrow (``toPandas``), each on its own driver
thread, then the workbook is written once — appropriate because exports
are post-aggregation result sets, which are small by construction.
Large-frame exports should use the parquet sink instead; this sink
refuses frames above ``MAX_CONCAT_ROWS``, the driver-collect row cap it
shares with the horizontal concat, rather than silently OOMing the
driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.combinators import MAX_CONCAT_ROWS
from ..session import run_concurrently
from ..sources import xlsx_io


def write_excel(path: str, results: list[tuple[str, DataFrame]]) -> str:
    """Write ``[(sheet_name, df), ...]`` to one ``.xlsx`` file.

    Pre-deletes an existing file (reference query_iterator.py:50-54) and
    derives the ``.xlsx`` suffix here — fixing the reference's
    ``foo.hyper.xlsx`` naming quirk (SURVEY A19).  The results are
    collected side by side (:func:`run_concurrently`); the first failing
    one is raised once every collect finished, and then nothing is
    written.
    """
    if not path.endswith(".xlsx"):
        path = path + ".xlsx"
    if os.path.exists(path):
        os.remove(path)
    sheets = run_concurrently(SparkSession.active(), lambda r: _sheet(*r), results)
    xlsx_io.write_workbook(path, sheets)
    return path


def _sheet(name: str, df: DataFrame) -> tuple[str, list[str], list[list]]:
    """Collect one result as a ``write_workbook`` sheet."""
    pdf = df.limit(MAX_CONCAT_ROWS + 1).toPandas()
    if len(pdf) > MAX_CONCAT_ROWS:
        raise ValueError(
            f"result {name!r} exceeds {MAX_CONCAT_ROWS} rows; use the parquet sink")
    # object dtype first so nulls stay None (a float column would turn
    # them back into NaN), then undo pandas' int→float widening for
    # integer-typed Spark columns that picked up nulls
    pdf = pdf.astype(object).where(pdf.notna(), None)
    int_cols = {f.name for f in df.schema.fields
                if f.dataType.typeName() in ("long", "integer", "short", "byte")}
    rows = [
        [int(v) if c in int_cols and v is not None else v
         for c, v in zip(pdf.columns, row)]
        for row in pdf.values.tolist()
    ]
    # worksheet names are capped at 31 chars by the xlsx format
    return name[:31], list(pdf.columns), rows
