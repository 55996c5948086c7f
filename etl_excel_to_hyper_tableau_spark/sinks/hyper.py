"""Tableau Hyper sink (reference A14/A16/A18, query_iterator.py:170-195).

Design differences from the reference:

* schema mapping is a **total** function over Spark types
  (:mod:`..functions.typemap`) — the reference KeyErrors on
  ``datetime64[ns]``/``bool`` (SURVEY §1.3);
* each result is collected by :func:`..operators.combinators.collect_rows`
  and handed to one ``Inserter.add_rows`` call, which walks the rows in
  Python (the reference looped ``add_row``, query_iterator.py:190-193);
* hyperd is an out-of-process single-node server, so the write is a
  driver-side final-mile step by design; results over the driver-collect
  cap are refused with a pointer at the parquet sink.  A fully distributed variant would write
  per-partition ``.hyper`` fragments via ``mapPartitions`` and merge
  with Hyper's ``COPY`` — deliberately out of scope while extracts
  remain small relative to sources (SURVEY §7.4-3).

``tableauhyperapi`` is not installed in this container; the module
degrades to :class:`HyperUnavailableError` at call time while
``plan_hyper_tables`` (the schema-mapping half) stays fully testable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.typemap import spark_type_to_hyper, spark_type_to_sqltype_name
from ..operators.combinators import collect_rows

try:  # gated optional dependency
    import tableauhyperapi as _hyper  # noqa: F401
    HYPER_AVAILABLE = True
except ImportError:
    HYPER_AVAILABLE = False


class HyperUnavailableError(RuntimeError):
    pass


def plan_hyper_tables(results: list[tuple[str, DataFrame]]) -> list[dict]:
    """Pure planning step: one table plan per query result —
    ``{"table": name, "columns": [(col_name, sqltype_name, nullable)]}``.
    All columns nullable, as the reference's golden output confirms
    (SURVEY §1.3)."""
    plans = []
    for name, df in results:
        cols = [(f.name, spark_type_to_sqltype_name(f.dataType), True)
                for f in df.schema.fields]
        plans.append({"table": name, "columns": cols})
    return plans


def write_hyper(path: str, results: list[tuple[str, DataFrame]]) -> str:
    """Write each result as one table in a single ``.hyper`` file
    (CREATE_AND_REPLACE, like the reference query_iterator.py:173)."""
    if not path.endswith(".hyper"):
        path = path + ".hyper"
    if not HYPER_AVAILABLE:
        raise HyperUnavailableError(
            "tableauhyperapi is not installed; use write_parquet or install "
            "the Tableau Hyper API")

    from tableauhyperapi import (Connection, CreateMode, HyperProcess, Inserter,
                                 TableDefinition, Telemetry)

    with HyperProcess(telemetry=Telemetry.DO_NOT_SEND_USAGE_DATA_TO_TABLEAU) as hp:
        with Connection(endpoint=hp.endpoint, database=path,
                        create_mode=CreateMode.CREATE_AND_REPLACE) as conn:
            for name, df in results:
                rows = collect_rows(df, f"result {name!r}")
                table = TableDefinition(name, [
                    TableDefinition.Column(f.name, spark_type_to_hyper(f.dataType))
                    for f in df.schema.fields
                ])
                conn.catalog.create_table(table)
                with Inserter(conn, table) as ins:
                    ins.add_rows(rows)
                    ins.execute()
    return path
