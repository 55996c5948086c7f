"""Traced runs: spans around the package's public calls, Spark job
labels per span, and the per-layer table built from Spark's event log.

Spans are recorded only from this benchmark's own files: each public
function is wrapped where its caller looks it up (``engine.py`` binds
its helpers with ``from … import``, so those names are patched on the
engine module).  A function that no longer exists is skipped, so a
refactor drops a span instead of breaking the run.  Every span that can
launch Spark jobs sets ``setJobGroup`` to its own id, which the event
log carries on each job and stage.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# calls that never launch a Spark job: no job-group round trip for them
_PURE_PYTHON = {"read_sheet", "format_query", "sqlite_to_spark",
                "rewrite_bare_column", "write_workbook", "match_files"}


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    t0: float
    t1: float = 0.0
    counts: Counter = field(default_factory=Counter)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple] = []  # (owner, attr, own attribute or None)

    @contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), self._stack[-1].id if self._stack else None,
                 name, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        labelled = name not in _PURE_PYTHON
        if labelled:
            self.sc.setJobGroup(f"{name}#{s.id}", name)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()
            if labelled:
                self._restore_group()

    def _restore_group(self) -> None:
        for s in reversed(self._stack):
            if s.name not in _PURE_PYTHON:
                self.sc.setJobGroup(f"{s.name}#{s.id}", s.name)
                return
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, owner, attr: str, count=None) -> None:
        """Replace ``owner.attr`` with a spanned version; ``count(args,
        result)`` may return a dict of counts stored on the span."""
        fn = getattr(owner, attr, None)
        if fn is None:
            return

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(attr) as s:
                out = fn(*args, **kwargs)
                if count:
                    s.counts.update(count(args, out))
                return out

        self._patched.append((owner, attr, vars(owner).get(attr)))
        setattr(owner, attr, traced)

    def uninstall(self) -> None:
        """Put back every wrapped attribute."""
        for owner, attr, own in reversed(self._patched):
            if own is None:
                delattr(owner, attr)  # it was inherited
            else:
                setattr(owner, attr, own)
        self._patched.clear()


def _sheet_counts(args, out) -> dict:
    src = args[0]
    return {"rows": len(out[1]),
            "bytes": os.path.getsize(src) if isinstance(src, str) else len(src)}


def install(tracer: Tracer) -> None:
    """Wrap every public call the pipeline makes, at its lookup site."""
    from etl_excel_to_hyper_tableau_spark import engine
    from etl_excel_to_hyper_tableau_spark.sources import xlsx_io

    for name in ("match_files", "stage", "run_query", "combine", "export"):
        tracer.wrap(engine.QueryEngine, name)
    for name in ("read_excel_sheet", "format_query", "sqlite_to_spark",
                 "rewrite_bare_column", "run_recursive_union_sql",
                 "write_parquet", "write_excel"):
        tracer.wrap(engine, name)
    tracer.wrap(xlsx_io, "read_sheet", count=_sheet_counts)
    tracer.wrap(xlsx_io, "write_workbook")
    try:  # pyspark 4 keeps the executing DataFrame class apart from the API one
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame
    tracer.wrap(DataFrame, "toPandas")
    tracer.wrap(DataFrame, "collect")


# -- Spark event log --------------------------------------------------------

def parse_event_log(directory: str) -> dict[str, Counter]:
    """job group → Counter(jobs, stages, tasks, exec_run_ms, gc_ms,
    shuffle_write_bytes, spill_bytes) over every uncompressed event log
    in ``directory``."""
    groups: dict[str, Counter] = defaultdict(Counter)
    for name in sorted(os.listdir(directory)):
        stage_group: dict[int, str] = {}  # stage ids restart per application
        with open(os.path.join(directory, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    groups[(ev.get("Properties") or {}).get("spark.jobGroup.id")]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    stage_group[ev["Stage Info"]["Stage ID"]] = g
                    groups[g]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    c = groups[stage_group.get(ev["Stage ID"])]
                    m = ev.get("Task Metrics") or {}
                    c["tasks"] += 1
                    c["exec_run_ms"] += m.get("Executor Run Time", 0)
                    c["gc_ms"] += m.get("JVM GC Time", 0)
                    c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
    return groups


# -- per-layer table ----------------------------------------------------------

class SpanTree:
    """Queries over the spans of the traced runs (``roots`` are the
    per-run ``process_queries`` spans)."""

    def __init__(self, spans: list[Span], groups: dict[str, Counter], roots: list[Span]):
        self.spans = spans
        self.groups = groups
        self.runs = len(roots)
        self.children: dict[int, list[Span]] = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                self.children[s.parent].append(s)
        root_ids = {r.id for r in roots}
        self.in_runs = [s for s in spans if self._root(s) in root_ids]

    def _root(self, s: Span) -> int:
        while s.parent is not None:
            s = self.spans[s.parent]
        return s.id

    def _ancestors(self, s: Span):
        while s.parent is not None:
            s = self.spans[s.parent]
            yield s

    def outermost(self, name: str, under: str | None = None) -> list[Span]:
        """Spans called ``name`` not nested in another ``name`` span,
        optionally only those inside an ``under`` span."""
        out = []
        for s in self.in_runs:
            if s.name != name:
                continue
            names = {a.name for a in self._ancestors(s)}
            if name not in names and (under is None or under in names):
                out.append(s)
        return out

    def seconds(self, name: str, under: str | None = None) -> float:
        return sum(s.dur for s in self.outermost(name, under)) / self.runs

    def calls(self, name: str) -> float:
        return len([s for s in self.in_runs if s.name == name]) / self.runs

    def self_seconds(self, name: str) -> float:
        return sum(s.dur - sum(c.dur for c in self.children[s.id])
                   for s in self.outermost(name)) / self.runs

    def counts(self, name: str, key: str) -> float:
        return sum(s.counts[key] for s in self.in_runs if s.name == name) / self.runs

    def _subtree(self, s: Span):
        yield s
        for c in self.children[s.id]:
            yield from self._subtree(c)

    def spark(self, spans, key: str) -> float:
        """Event-log counter ``key`` summed over the subtrees of ``spans``,
        per run."""
        return sum(self.groups.get(f"{d.name}#{d.id}", Counter())[key]
                   for s in spans for d in self._subtree(s)) / self.runs

    def by_label(self) -> dict[str, dict]:
        """span name → per-run calls, total and self seconds, and the
        Spark work of the jobs labelled with it."""
        table: dict[str, Counter] = defaultdict(Counter)
        for s in self.in_runs:
            row = table[s.name]
            row["calls"] += 1
            row["self_s"] += s.dur - sum(c.dur for c in self.children[s.id])
            row.update(self.groups.get(f"{s.name}#{s.id}", Counter()))
        for name in table:
            row = table[name]
            row["total_s"] = sum(s.dur for s in self.outermost(name))
        return {name: {k: round(v / self.runs, 6) for k, v in sorted(row.items())}
                for name, row in sorted(table.items())}
