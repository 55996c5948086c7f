"""Iterative fixpoint evaluation — the driver-loop complement to
Spark's recursive CTEs (SURVEY §2C).

Spark 4.1 executes ``WITH RECURSIVE … UNION ALL`` natively (the
engine passes it straight through ``spark.sql``), but rejects the
``UNION``-distinct form with ``UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE``
— and the distinct form is exactly the one SQLite users write for
graph closures, where dedup is what makes cyclic recursion terminate.

Two layers close that hole:

* :func:`recursive_fixpoint` — the programmatic UNION-semantics
  evaluator: start from the base relation, repeatedly apply the step
  to the rows added in the previous round (the "working table", as in
  the SQL standard), keep only never-seen rows, stop when a round adds
  nothing.  The loop runs on the driver, where one file's recursion
  already fits: the frontier and the accumulator are Arrow tables,
  each round hands the step a local relation and collects its output
  once (a plan over local relations collects without a Spark job), and
  new rows are found in a Python key set under SQL ``UNION`` row
  equality.  The accumulator is capped at
  :data:`~..operators.combinators.MAX_CONCAT_ROWS`, the driver-collect
  cap the concat and the Excel and Hyper sinks share.  Nothing is cached or
  checkpointed, so a call leaves no persisted RDD behind.
* :func:`run_recursive_union_sql` — the SQL front door: parses the
  single-CTE ``WITH RECURSIVE name(cols) AS (base UNION step) main``
  shape at the string level (literal-masked, balanced-paren scan —
  same mechanics as :mod:`.dialect`) and drives
  :func:`recursive_fixpoint` over it, so a user pasting SQLite
  recursive SQL through :class:`...engine.QueryEngine` gets the right
  answer instead of an analyzer error.
"""

from __future__ import annotations

import re
import uuid
from typing import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
# the converter Spark Connect's createDataFrame uses for local rows:
# collect()'s Rows in, an Arrow table for a local relation out
from pyspark.sql.conversion import LocalDataToArrowConversion
from pyspark.sql.pandas.types import to_arrow_schema

from ..operators.combinators import check_row_cap

_NAN = object()  # the one key every NaN maps to


def _key(value):
    """A hashable key under SQL ``UNION`` row equality, the grouping
    normalization Spark's ``distinct`` applies: NULL = NULL (``None``),
    −0.0 = 0.0 (Python's own float equality and hash), NaN = NaN (one
    sentinel), arrays and structs compared element-wise as tuples, maps
    as sets of entries, binary as bytes."""
    if isinstance(value, float):
        return _NAN if value != value else value
    if isinstance(value, (tuple, list)):  # a Row is a tuple
        return tuple(_key(v) for v in value)
    if isinstance(value, dict):
        return frozenset((_key(k), _key(v)) for k, v in value.items())
    if isinstance(value, bytearray):
        return bytes(value)
    return value


def recursive_fixpoint(base: DataFrame,
                       step: Callable[[DataFrame], DataFrame],
                       max_iterations: int = 100) -> DataFrame:
    """UNION-semantics recursive CTE: ``WITH RECURSIVE r AS (base UNION
    step(r)) SELECT * FROM r`` — except ``step`` receives only the
    previous round's *new* rows (the standard's working table), which is
    both the semantics and the efficiency of SQL engines' recursive
    evaluation.

    ``step`` maps a DataFrame to a DataFrame with the same column names
    and types (checked).  ``base`` is collected once; each round passes
    ``step`` a local relation of the new rows and collects its output
    once.  Rows are compared whole-row, as UNION does, and duplicates
    within the base are dropped too: NULL equals NULL, −0.0 equals 0.0,
    NaN equals NaN, and nested values compare element by element.
    Recursion stops when a round adds no row.  Raises ``ValueError``
    when the result would exceed ``MAX_CONCAT_ROWS`` rows, and
    ``RuntimeError`` when round ``max_iterations`` still adds rows, to
    guard against non-terminating recursion.

    Returns a local relation of the distinct rows, in the order first
    seen, with every column nullable.
    """
    spark = base.sparkSession
    base_shape = [(f.name, f.dataType) for f in base.schema.fields]
    schema = T.StructType([T.StructField(n, t, True) for n, t in base_shape])
    seen: set = set()
    acc: list[pa.Table] = []

    def add_new(rows) -> pa.Table | None:
        new = []
        for row in rows:
            k = _key(row)
            if k not in seen:
                seen.add(k)
                new.append(row)
        if not new:
            return None
        check_row_cap(len(seen), "recursive CTE")
        acc.append(LocalDataToArrowConversion.convert(new, schema, False))
        return acc[-1]

    frontier = add_new(base.collect())
    for _ in range(max_iterations):
        if frontier is None:
            break
        new = step(spark.createDataFrame(frontier, schema))
        # compare (name, type) — nullability legitimately differs between
        # the base and a freshly-analyzed step output
        if [(f.name, f.dataType) for f in new.schema.fields] != base_shape:
            raise ValueError(
                f"step changed the schema: {new.schema.simpleString()} != "
                f"{base.schema.simpleString()}")
        frontier = add_new(new.collect())
    if frontier is not None:
        raise RuntimeError(f"no fixpoint after {max_iterations} iterations")
    table = pa.concat_tables(acc) if acc else to_arrow_schema(schema).empty_table()
    return spark.createDataFrame(table, schema)


# ---------------------------------------------------------------------------
# SQL front door for the UNION-distinct recursive CTE
# ---------------------------------------------------------------------------

_WITH_RECURSIVE_RE = re.compile(
    r"^\s*WITH\s+RECURSIVE\s+(\w+)\s*(?:\(\s*([\w\s,]*?)\s*\))?\s*AS\s*\(",
    re.IGNORECASE)
_UNION_RE = re.compile(r"\bUNION\b(\s+ALL\b)?", re.IGNORECASE)


def _parse_recursive(sql: str):
    """Parse ``WITH RECURSIVE name(cols) AS ( body ) rest`` with a
    literal-masked balanced scan.  Returns a dict (or None when the SQL
    is not a recursive CTE): ``name, cols, base_sql, step_sql,
    union_all, main_sql, multi_cte`` — ``union_all`` is None when the
    body has no top-level UNION (a non-recursive CTE merely spelled
    WITH RECURSIVE), ``multi_cte`` flags additional CTEs after the
    recursive one."""
    from .dialect import _mask_literals, _unmask

    code, literals = _mask_literals(sql)
    m = _WITH_RECURSIVE_RE.match(code)
    if not m:
        return None
    name = m.group(1)
    cols = [c.strip() for c in m.group(2).split(",")] if m.group(2) else None
    depth, j = 1, m.end()
    while j < len(code) and depth:
        if code[j] == "(":
            depth += 1
        elif code[j] == ")":
            depth -= 1
        j += 1
    body, rest = code[m.end():j - 1], code[j:]
    # first top-level UNION splits base from the recursive step
    split = None
    for um in _UNION_RE.finditer(body):
        before = body[:um.start()]
        if before.count("(") - before.count(")") == 0:
            split = um
            break
    if split is None:
        return {"name": name, "cols": cols, "base_sql": None,
                "step_sql": None, "union_all": None,
                "main_sql": _unmask(rest, literals).strip(),
                "multi_cte": rest.lstrip().startswith(",")}
    return {
        "name": name, "cols": cols,
        "base_sql": _unmask(body[:split.start()], literals).strip(),
        "step_sql": _unmask(body[split.end():], literals).strip(),
        "union_all": bool(split.group(1)),
        "main_sql": _unmask(rest, literals).strip(),
        "multi_cte": rest.lstrip().startswith(","),
    }


def is_recursive_union(sql: str) -> bool:
    """True iff ``sql`` is a ``WITH RECURSIVE`` whose recursive arm uses
    the UNION-distinct form Spark cannot run natively (Spark 4.1 raises
    UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE for it; UNION ALL and
    non-self-referencing shapes pass through to the native executor)."""
    p = _parse_recursive(sql)
    if p is None or p["union_all"] is not False:
        return False
    # true recursion only: the step arm must reference the CTE name
    return bool(re.search(rf"\b{re.escape(p['name'])}\b", p["step_sql"],
                          re.IGNORECASE))


def run_recursive_union_sql(spark: SparkSession, sql: str,
                            run_sql: Callable[[str], DataFrame],
                            max_iterations: int = 100) -> DataFrame:
    """Evaluate a UNION-distinct ``WITH RECURSIVE`` by driving
    :func:`recursive_fixpoint`: the base arm seeds the accumulator, the
    recursive arm re-runs each round against the previous round's new
    rows (a local relation registered as a temp view in place of the CTE
    name), and the main query runs over the accumulated fixpoint, a
    local relation too.  Dedup across rounds is what makes cyclic graphs
    terminate — the semantics SQLite users rely on for closures.  The
    UNION ALL form raises ``ValueError``: ``spark.sql`` runs it natively.

    ``run_sql`` runs each of the three statements (base, step, main);
    the engine passes its own runner so the arms get the same SQLite
    semantics, such as the bare-column retry, as any other query."""
    p = _parse_recursive(sql)
    if p is None or p["union_all"] is None:
        raise ValueError("not a recursive WITH RECURSIVE statement")
    if p["union_all"]:
        raise ValueError("WITH RECURSIVE … UNION ALL runs natively through "
                         "spark.sql; this evaluator takes the UNION-distinct form")
    if p["multi_cte"]:
        raise NotImplementedError(
            "WITH RECURSIVE (UNION-distinct) with additional CTEs is not "
            "supported by the SQL front door; evaluate the recursion with "
            "plans.recursive.recursive_fixpoint and join the rest as "
            "DataFrames")
    name, cols = p["name"], p["cols"]
    base_sql, step_sql, main_sql = p["base_sql"], p["step_sql"], p["main_sql"]

    tag = uuid.uuid4().hex[:8]
    frontier_view = f"__rec_frontier_{name}_{tag}"
    result_view = f"__rec_result_{name}_{tag}"
    name_re = re.compile(rf"\b{re.escape(name)}\b", re.IGNORECASE)

    base = run_sql(base_sql)
    if cols:
        base = base.toDF(*cols)
    step_tmpl = name_re.sub(frontier_view, step_sql)

    def step(frontier: DataFrame) -> DataFrame:
        frontier.createOrReplaceTempView(frontier_view)
        out = run_sql(step_tmpl).toDF(*base.columns)
        # the anchor arm fixes the CTE's column types (the usual SQL
        # rule); cast the recursive arm to them
        return out.select(*[
            F.col(f.name).cast(f.dataType) for f in base.schema.fields])

    try:
        acc = recursive_fixpoint(base, step, max_iterations=max_iterations)
        acc.createOrReplaceTempView(result_view)
        return run_sql(name_re.sub(result_view, main_sql))
    finally:
        # the returned DataFrame's plan is already resolved against the
        # views, so neither needs to outlive this call
        spark.catalog.dropTempView(frontier_view)
        spark.catalog.dropTempView(result_view)
