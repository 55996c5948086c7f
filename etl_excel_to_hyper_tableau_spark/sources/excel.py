"""Excel sources: driver-side single-file reader and a distributed
many-files reader.

The reference reads one sheet per (file, sheet) pair on the driver via
``pd.read_excel`` (fsheet.py:33-36).  The Spark-native story (SURVEY §2A
A1, §7.4-4):

* xlsx is zipped XML with no splittable internal structure, so the unit
  of parallelism is the *file*, never byte ranges within one;
* small inputs (the reference's actual scale): parse on the driver,
  type the cells into one ``pyarrow.Table`` and hand it to
  ``spark.createDataFrame``, which ships it to the JVM as Arrow batches
  and plans it as a ``LocalTableScan`` — queries over the staged view
  never start a Python worker;
* many files (the 100 TB story is thousands of workbooks): load paths
  with ``spark.read.format("binaryFile")`` and parse each file inside
  executors via ``mapInPandas`` — per-file parallelism, schema declared
  up front (merged or user-provided), Arrow-batched output.

Parsing uses :mod:`.xlsx_io` (stdlib) everywhere so the engine has no
openpyxl dependency; if pandas can read Excel in a given deployment the
driver path can be swapped transparently.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import xlsx_io


def _infer_spark_type(values) -> T.DataType:
    kinds = {type(v) for v in values if v is not None}
    if kinds <= {bool}:
        return T.BooleanType()
    if kinds <= {int}:
        return T.LongType()
    if kinds <= {int, float}:
        return T.DoubleType()
    return T.StringType()


def _to_schema(cols: list[str], rows: list[list]) -> T.StructType:
    fields = []
    for i, c in enumerate(cols):
        col_vals = [r[i] for r in rows[:1000]]
        fields.append(T.StructField(c, _infer_spark_type(col_vals), True))
    return T.StructType(fields)


def merge_excel_schemas(schemas) -> T.StructType:
    """Reconcile per-file inferred schemas into one declared scan
    schema (SURVEY §7.4 risk 4: per-file inference across thousands of
    workbooks WILL disagree, and reconciliation must happen once,
    driver-side, before the distributed scan — not lazily per task).

    Rules: union of columns in first-seen order; same-name dtype
    conflicts widen numerically where lossless (long + double →
    double, bool folds into nothing else) and otherwise fall back to
    STRING — the only type every cell renders into, matching the
    reference's effective pandas ``object`` behavior on mixed columns.
    """
    order: list[str] = []
    types: dict[str, T.DataType] = {}
    for sch in schemas:
        for f in sch.fields:
            if f.name not in types:
                order.append(f.name)
                types[f.name] = f.dataType
                continue
            a, b = types[f.name], f.dataType
            if a == b:
                continue
            numeric = (T.LongType(), T.DoubleType())
            if a in numeric and b in numeric:
                types[f.name] = T.DoubleType()
            else:
                types[f.name] = T.StringType()
    return T.StructType([T.StructField(c, types[c], True) for c in order])


# inferred Spark type → (cell cast, Arrow type)
_CELL_TYPES = {"long": (int, pa.int64()), "double": (float, pa.float64()),
               "boolean": (bool, pa.bool_()), "string": (str, pa.string())}


def _to_arrow(rows: list[list], schema: T.StructType) -> pa.Table:
    """Cast each cell to its column's inferred type (blanks stay null)
    and build one Arrow table, column by column."""
    arrays = []
    for i, f in enumerate(schema.fields):
        cast, arrow_type = _CELL_TYPES[f.dataType.typeName()]
        arrays.append(pa.array([None if r[i] is None else cast(r[i]) for r in rows],
                               type=arrow_type))
    return pa.Table.from_arrays(arrays, names=[f.name for f in schema.fields])


def read_excel_sheet(spark: SparkSession, path: str, sheet: str | int = 0) -> DataFrame:
    """Driver-side read of one sheet → Spark DataFrame, schema inferred
    (int64/double/bool/string, blanks null), matching the effective
    inference of the reference's ``pd.read_excel`` on its shipped data
    (SURVEY §1.3).  The frame is a JVM-resident local relation built
    from one Arrow table, so scanning it runs no Python worker."""
    cols, rows = xlsx_io.read_sheet(path, sheet)
    schema = _to_schema(cols, rows)
    return spark.createDataFrame(_to_arrow(rows, schema), schema)


def read_excel_dir_distributed(spark: SparkSession, path_glob: str,
                               sheet: str | int, schema: T.StructType,
                               add_source_file: bool = True) -> DataFrame:
    """Distributed many-files Excel scan: ``binaryFile`` rows parsed on
    executors with ``mapInPandas`` (Arrow-batched; one task per file —
    the only parallelism xlsx admits, SURVEY §7.4-4).

    ``schema`` must be supplied (per-file inference cannot be reconciled
    lazily at scale; infer once from a sample file with
    :func:`read_excel_sheet` and pass it in).  When ``add_source_file``
    is set, a ``source_file`` column carries lineage — the Spark-native
    replacement for the reference's File_DataFrame_Tuple
    (query_iterator.py:122).
    """
    out_fields = list(schema.fields)
    if add_source_file:
        out_fields = [T.StructField("source_file", T.StringType(), False)] + out_fields
    out_schema = T.StructType(out_fields)
    col_names = [f.name for f in schema.fields]

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                cols, rows = xlsx_io.read_sheet(bytes(row["content"]), sheet)
                data = pd.DataFrame(rows, columns=cols)
                # align to the declared schema: missing cols → null, extras dropped
                for c in col_names:
                    if c not in data.columns:
                        data[c] = None
                data = data[col_names]
                # coerce cells to the declared (merged) dtype — a file
                # whose local inference disagreed with the reconciled
                # schema (ints under a string-fallback column, ints
                # under a widened double column) must still render,
                # not crash the Arrow conversion
                for f in schema.fields:
                    if isinstance(f.dataType, T.StringType):
                        data[f.name] = data[f.name].map(
                            lambda v: None if v is None else str(v))
                    elif isinstance(f.dataType, T.DoubleType):
                        data[f.name] = data[f.name].map(
                            lambda v: None if v is None else float(v))
                if add_source_file:
                    data.insert(0, "source_file", row["path"])
                yield data

    binary = spark.read.format("binaryFile").load(path_glob).select("path", "content")
    return binary.mapInPandas(parse, schema=out_schema)
