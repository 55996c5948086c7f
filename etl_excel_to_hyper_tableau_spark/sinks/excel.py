"""Excel sink: one worksheet per query result (reference A15,
query_iterator.py:197-212).

Inherently a driver-side single-file write (xlsx is unsplittable);
each result is collected by :func:`..operators.combinators.collect_rows`
on its own driver thread, then the workbook is written once —
appropriate because exports are post-aggregation result sets, which are
small by construction.  Large-frame exports should use the parquet sink
instead; this sink refuses frames above ``MAX_CONCAT_ROWS``, the
driver-collect row cap it shares with the horizontal concat, rather
than silently OOMing the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.combinators import collect_rows
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


def _sheet(name: str, df: DataFrame) -> tuple[str, list[str], list]:
    """Collect one result as a ``write_workbook`` sheet."""
    # worksheet names are capped at 31 chars by the xlsx format
    return name[:31], df.columns, collect_rows(df, f"result {name!r}")
