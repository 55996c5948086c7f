"""The pipeline orchestrator — Spark-native replacement for the
reference's ``QueryIterator`` (query_iterator.py:15-246).

Lifecycle (SURVEY §3.4): match files → load sheets → register temp views
→ run each (query × file) through ``spark.sql`` → combine per query
(pivot union / horizontal concat) → export per bundle.  All heavy work is
declarative DataFrame ops executed by Catalyst; the orchestrator itself
is metadata-only driver code, and a bundle's queries run side by side on
driver threads (:func:`run_concurrently`).

Reference quirks fixed here (SURVEY §2A):
* A17 — cleanup runs once after all bundles (reference's misspelled call
  inside the per-query loop would have dropped tables mid-run);
* A19 — sink dispatch by equality, suffix derived from the sink;
* A6  — the distinct-(file,sheet) set is a real set, not the accidental
  ``{str: list}`` dict.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.errors.exceptions.captured import AnalysisException

from .bundles import Query, QueryBundle
from .operators.combinators import horizontal_concat, pivot_union, prefix_columns
from .plans.dialect import rewrite_bare_column, sqlite_to_spark
from .plans.macro import format_query
from .plans.recursive import is_recursive_union, run_recursive_union_sql
from .session import run_concurrently
from .sinks.excel import write_excel
from .sinks.hyper import write_hyper
from .sinks.parquet import write_parquet
from .sources.excel import read_excel_sheet
from .sources.registry import discover_files, register_sheet, resolve_match, unregister_all


class QueryEngine:
    """Run QueryBundles over a directory of Excel inputs.

    Every query is written in the reference's SQLite dialect and goes
    through the SQLite→Spark shim (:func:`sqlite_to_spark`) before
    execution.
    """

    def __init__(self, spark: SparkSession, directory: str,
                 bundles: list[QueryBundle], export_dir: str):
        self.spark = spark
        self.directory = directory
        self.bundles = bundles
        self.export_dir = export_dir.rstrip("/")
        self._registered: list[str] = []
        # file name → the staged (sheet, schema) pairs of that file
        self._schemas: dict[str, tuple] = {}
        # (query SQL, file schemas) → the bare columns its retry found.
        # Query chains share it across threads without a lock: the value
        # is a function of the key, so two chains that miss the same key
        # at once both store the same list.
        self._bare_columns: dict[tuple, list[str]] = {}

    # -- stages -----------------------------------------------------------
    def match_files(self) -> dict[str, str]:
        """match-string → file-name for every match in every bundle
        (reference query_iterator.py:58-86)."""
        files = discover_files(self.directory)
        return {m: resolve_match(files, m)
                for b in self.bundles for m in b.matches}

    def distinct_sheets(self, match_map: dict[str, str]) -> list[tuple[str, str]]:
        """Distinct (file, sheet) pairs across all bundles (reference A6),
        ordered deterministically."""
        pairs = {(match_map[m], s)
                 for b in self.bundles for m in b.matches for s in b.sheets}
        return sorted(pairs)

    def stage(self, pairs: list[tuple[str, str]]) -> None:
        """Load each (file, sheet) once and register it as a temp view
        (reference A7; SQLite staging replaced by the Catalyst catalog).

        Each sheet is a JVM-resident local relation built from one Arrow
        table (:func:`read_excel_sheet`): every query's scan of it is a
        ``LocalTableScan``, with no Python worker and no I/O.  Each file's
        sheet schemas are recorded for :meth:`run_query`'s rewrite cache.
        """
        schemas: dict[str, tuple] = {}
        for file_name, sheet in pairs:
            path = f"{self.directory}/{file_name}"
            try:
                df = read_excel_sheet(self.spark, path, sheet)
                self._registered.append(
                    register_sheet(self.spark, df, file_name, sheet))
            except Exception as e:
                e.add_note(f"while staging sheet {sheet!r} of {path}")
                raise
            schemas[file_name] = schemas.get(file_name, ()) + ((sheet, df.schema),)
        self._schemas = schemas

    def run_query(self, query: Query, file_name: str) -> DataFrame:
        """Rewrite (.sheet macro + SQLite shim) and execute one
        (query, file) pair.

        The bare columns :meth:`run_sql` finds are cached per (query SQL,
        staged schemas of the file's sheets): the next file with the same
        key gets them rewritten before its first analysis, so a failed
        analysis runs once per query and schema, not once per file."""
        sql = sqlite_to_spark(format_query(query.sql, file_name))
        # WITH RECURSIVE … UNION ALL runs natively on Spark 4.1; the
        # UNION-distinct form (SQLite's cyclic-closure idiom) does not —
        # route it through the iterative-fixpoint evaluator
        if is_recursive_union(sql):
            return run_recursive_union_sql(self.spark, sql, self.run_sql)
        key = (query.sql, self._schemas.get(file_name))
        bare = self._bare_columns.get(key, [])
        for column in bare:
            sql = rewrite_bare_column(sql, column)
        found: list[str] = []
        df = self.run_sql(sql, found)
        if found:
            self._bare_columns[key] = bare + found
        return df

    def run_sql(self, sql: str, found: list[str] | None = None) -> DataFrame:
        """``spark.sql`` under SQLite's bare-column rule.

        SQLite permits bare (non-grouped, non-aggregated) select items in
        aggregate queries — an arbitrary in-group row's value is taken
        (SURVEY §2C).  Spark rejects these at analysis; each such item is
        wrapped in ``any_value`` and retried, using Catalyst's
        MISSING_AGGREGATION error itself to identify the bare columns
        instead of reimplementing the analyzer's grouping check.  Each
        column rewritten is appended to ``found``.
        """
        for _ in range(20):  # one retry per bare column; select lists are short
            try:
                return self.spark.sql(sql)
            except AnalysisException as e:
                m = re.search(r'non-aggregating expression "(\w+)"', str(e))
                if "MISSING_AGGREGATION" not in str(e) or not m:
                    raise
                rewritten = rewrite_bare_column(sql, m.group(1))
                if rewritten == sql:
                    raise
                sql = rewritten
                if found is not None:
                    found.append(m.group(1))
        return self.spark.sql(sql)

    def combine(self, bundle: QueryBundle, query: Query,
                per_file: list[tuple[str, str, DataFrame]]) -> DataFrame:
        """Combine per-file results of one query: pivot → vertical union
        with provenance (lazy); non-pivot → match-prefixed horizontal
        concat, which runs the per-file queries here and returns a local
        relation."""
        if query.pivot:
            return pivot_union([(file_name, df) for _, file_name, df in per_file])
        return horizontal_concat(
            [prefix_columns(df, match) for match, _, df in per_file])

    def export(self, bundle: QueryBundle,
               results: list[tuple[str, DataFrame]]) -> str:
        os.makedirs(self.export_dir, exist_ok=True)
        base = f"{self.export_dir}/{bundle.export_name}"
        if bundle.sink == "hyper":
            return write_hyper(base, results)
        if bundle.sink == "excel":
            return write_excel(base, results)
        return write_parquet(base, results)

    def run_chain(self, bundle: QueryBundle, query: Query,
                  files: list[tuple[str, str]]):
        """One query's chain: :meth:`run_query` on each (match, file) in
        match order, then :meth:`combine`.  Returns the per-file results
        and the combined one."""
        per_file = []
        for m, file_name in files:
            try:
                df = self.run_query(query, file_name)
            except Exception as e:
                e.add_note(f"while running query {query.name!r} on {file_name}")
                raise
            per_file.append((m, file_name, df))
        return per_file, self.combine(bundle, query, per_file)

    # -- the pipeline -----------------------------------------------------
    def process_queries(self) -> dict[str, str]:
        """Full run; returns {bundle_export_name: written_path}.

        The reference's equivalent is ``process_queries``
        (query_iterator.py:32-55).  Sheets are staged one after another;
        then, per bundle, each query's chain (:meth:`run_chain`) runs on
        its own driver thread (:func:`run_concurrently`), since queries
        are independent and each is mostly driver-side per-job overhead.
        Results and ``queried_dfs_by_query_name`` are filled in bundle
        order once every chain finished, and the first failing query in
        bundle order is raised, its query and file named in a note.  The
        sinks write their results the same way.
        """
        outputs: dict[str, str] = {}
        match_map = self.match_files()
        try:
            self.stage(self.distinct_sheets(match_map))
            for bundle in self.bundles:
                files = [(m, match_map[m]) for m in bundle.matches]
                chains = run_concurrently(
                    self.spark, lambda q: self.run_chain(bundle, q, files), bundle.queries)
                results: list[tuple[str, DataFrame]] = []
                for query, (per_file, df) in zip(bundle.queries, chains):
                    bundle.queried_dfs_by_query_name[query.name] = [
                        (f, d) for _, f, d in per_file]
                    results.append((query.name, df))
                outputs[bundle.export_name] = self.export(bundle, results)
        finally:
            unregister_all(self.spark, self._registered)
            self._registered.clear()
        return outputs
