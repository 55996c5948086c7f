"""Excel source: the driver-side single-sheet reader.

The reference reads one sheet per (file, sheet) pair on the driver via
``pd.read_excel`` (fsheet.py:33-36).  Here the sheet is parsed on the
driver with the stdlib :mod:`.xlsx_io` (no openpyxl dependency), its
cells are typed into one ``pyarrow.Table`` and the table is handed to
``spark.createDataFrame``, which ships it to the JVM as Arrow batches
and plans it as a ``LocalTableScan`` — queries over the staged view
never start a Python worker (SURVEY §2A A1, §7.4-4).

One reader is enough: a worksheet holds at most 2^20 rows, and xlsx is
zipped XML with no splittable internal structure, so a single file is
never worth distributing.
"""

from __future__ import annotations

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
    # every row, not a sample: _to_arrow casts every cell to this type
    return T.StructType([T.StructField(c, _infer_spark_type(r[i] for r in rows), True)
                         for i, c in enumerate(cols)])


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

