"""The reference's two result combinators, as pure DataFrame operators.

* :func:`pivot_union` — the "pivot" combinator (query_iterator.py:141-158):
  vertically stack the per-file results of one query, prepending a
  provenance column literally named ``index`` that holds the
  extension-stripped source file name.  Union-all semantics (no dedup);
  requires compatible schemas (united by name).

* :func:`horizontal_concat` — the non-pivot combinator
  (query_iterator.py:180-181 / :207-208): side-by-side positional concat
  of per-file results (pandas ``pd.concat(axis=1)`` semantics — alignment
  by row position, shorter side null-padded).  Spark has no row identity,
  so the inputs are unioned with an ordinal/position tag, collected once
  as Arrow and laid side by side on the driver — one job set per concat.
  This fits the reference's use (small post-aggregate results); inputs
  over :data:`MAX_CONCAT_ROWS` are refused rather than collected.

* :func:`prefix_columns` — the per-match column rename
  (query_iterator.py:111-119): every column prefixed ``{match}_``.
"""

from __future__ import annotations

from functools import reduce

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Row, functions as F, types as T

from ..plans.macro import strip_extension

_ORD, _POS = "__hconcat_ord__", "__hconcat_pos__"

# the driver-collect row cap: the concat's inputs, a UNION-distinct
# recursion's rows and each Excel or Hyper sink result
MAX_CONCAT_ROWS = 1_000_000


def check_row_cap(rows: int, what: str) -> None:
    """Refuse (``ValueError``) ``rows`` above :data:`MAX_CONCAT_ROWS`."""
    if rows > MAX_CONCAT_ROWS:
        raise ValueError(f"{what} would exceed {MAX_CONCAT_ROWS} rows (MAX_CONCAT_ROWS, the "
                         "driver-collect cap); only the parquet sink writes larger results")


def collect_rows(df: DataFrame, what: str) -> list[Row]:
    """``df``'s rows on the driver, under :func:`check_row_cap`: nulls
    ``None``, integers ``int``, a TIMESTAMP the session time zone's wall
    clock, as ``toPandas`` gives it (``collect`` alone uses this
    process's zone).  Read the rows by position, not by field name."""
    fields = df.schema.fields
    if any(isinstance(f.dataType, T.TimestampType) for f in fields):
        names = [f"_{i}" for i in range(len(fields))]  # duplicate names allowed
        df = df.toDF(*names).select([
            F.col(n).cast(T.TimestampNTZType()) if isinstance(f.dataType, T.TimestampType)
            else n for n, f in zip(names, fields)])
    rows = df.limit(MAX_CONCAT_ROWS + 1).collect()
    check_row_cap(len(rows), what)
    return rows


def prefix_columns(df: DataFrame, match: str) -> DataFrame:
    """Prefix every column with ``{match}_`` (reference A11).  The match
    string keeps its extension, exactly as the reference does — the golden
    output has columns like ``consumer_complaints.xlsx_company``."""
    return df.toDF(*[f"{match}_{c}" for c in df.columns])


def pivot_union(named_results: list[tuple[str, DataFrame]]) -> DataFrame:
    """Vertical union with provenance (reference A12).

    ``named_results``: ``[(source_file_name, df), ...]``.  Output columns:
    ``index`` (extension-stripped file name) first, then the query's
    columns in their original order.  Union-by-name so file ordering never
    silently misaligns columns.
    """
    if not named_results:
        raise ValueError("pivot_union of zero results")
    tagged = [
        df.select(F.lit(strip_extension(name)).alias("index"), "*")
        for name, df in named_results
    ]
    return reduce(lambda a, b: a.unionByName(b), tagged)


def horizontal_concat(dfs: list[DataFrame]) -> DataFrame:
    """Positional side-by-side concat (reference A13), ragged lengths
    null-padded exactly like ``pd.concat(axis=1)``; each output column
    keeps its input's type.

    Column-name collisions across inputs are allowed (pandas allows
    duplicate column labels); callers that need unique names apply
    :func:`prefix_columns` first, as the reference pipeline does.

    The inputs, renamed to positional temp names and tagged with their
    ordinal and row position, are unioned and collected with one
    ``toArrow``; the result is a local relation built from the padded
    blocks.  Raises ``ValueError`` (:func:`check_row_cap`) when the inputs
    together hold more than :data:`MAX_CONCAT_ROWS` rows.
    """
    if not dfs:
        raise ValueError("horizontal_concat of zero frames")
    if len(dfs) == 1:
        return dfs[0]
    temp = [[f"__c{i}_{j}" for j in range(len(df.columns))] for i, df in enumerate(dfs)]
    tagged = [
        df.toDF(*names).select(F.lit(i).alias(_ORD), F.monotonically_increasing_id().alias(_POS),
                               *names)
        for i, (df, names) in enumerate(zip(dfs, temp))
    ]
    union = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), tagged)
    table = union.limit(MAX_CONCAT_ROWS + 1).toArrow()
    check_row_cap(table.num_rows, "horizontal_concat inputs")
    blocks = [table.filter(pc.equal(table[_ORD], i)).sort_by(_POS).select(names)
              for i, names in enumerate(temp)]
    n = max(b.num_rows for b in blocks)
    columns = [
        pa.chunked_array(b[c].chunks + [pa.nulls(n - b.num_rows, b[c].type)], b[c].type)
        for b in blocks for c in b.column_names
    ]
    schema = T.StructType([
        T.StructField(c, f.dataType, True)
        for df, names in zip(dfs, temp) for c, f in zip(names, df.schema.fields)
    ])
    out = dfs[0].sparkSession.createDataFrame(
        pa.Table.from_arrays(columns, names=schema.names), schema)
    return out.toDF(*[c for df in dfs for c in df.columns])
