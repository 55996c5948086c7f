"""Catalog registration and input-file discovery.

The reference staged every sheet into an on-disk SQLite database
(query_iterator.py:101-107) purely so SQL could see it; here the catalog
is Catalyst's temp-view registry — zero-copy, no I/O round trip
(SURVEY §1.5).  Discovery (A4/A5) is driver-side metadata work in both
designs and stays plain Python.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..plans.macro import sql_table_name

def discover_files(directory: str) -> list[str]:
    """List the ``.xlsx`` input files (reference ``filter_directory``,
    query_iterator.py:60-68).  Errors if none.  Legacy ``.xls`` files
    are not listed: :mod:`.xlsx_io` parses only the zip-based format,
    and a listed ``a.xls`` would sort ahead of ``a.xlsx`` in
    :func:`resolve_match` and then fail to parse."""
    names = [f for f in sorted(os.listdir(directory))
             if f.lower().endswith(".xlsx")]
    if not names:
        raise FileNotFoundError(f"no .xlsx files in {directory!r}")
    return names


def resolve_match(file_names: list[str], match: str) -> str:
    """Resolve a user 'match' substring to the first file containing it
    (reference ``find_directory_match``, query_iterator.py:71-76).
    Characters such as ``*``, ``?`` and ``[`` match themselves.  Errors
    if nothing matches."""
    hits = [f for f in file_names if match in f]
    if not hits:
        raise FileNotFoundError(f"match {match!r} resolves to no input file")
    return hits[0]


def register_sheet(spark: SparkSession, df: DataFrame,
                   file_name: str, sheet: str) -> str:
    """Register one sheet DataFrame as a temp view under the mangled name
    ``{file_base}_{sheet}_sheet`` (reference A7+A8).  Returns the name."""
    name = sql_table_name(file_name, sheet)
    df.createOrReplaceTempView(name)
    return name


def unregister_all(spark: SparkSession, names: list[str]) -> None:
    """Drop the given temp views (the reference's cleanup intended this,
    but called a misspelled method *inside* the per-query loop —
    query_iterator.py:160-168/:195, SURVEY A17.  Here: once, at the end,
    and correctly)."""
    for n in names:
        spark.catalog.dropTempView(n)
