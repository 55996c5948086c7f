"""Driver-thread concurrency: ``session.run_concurrently`` and its use by
``QueryEngine.process_queries`` and the sinks."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.errors.exceptions.captured import AnalysisException

from etl_excel_to_hyper_tableau_spark.bundles import QueryBundle
from etl_excel_to_hyper_tableau_spark.engine import QueryEngine
from etl_excel_to_hyper_tableau_spark.session import run_concurrently
from etl_excel_to_hyper_tableau_spark.sources import xlsx_io

_CPUS = len(os.sched_getaffinity(0))


def test_results_keep_input_order_on_at_most_one_thread_per_cpu(spark):
    threads = []

    def square(i):
        threads.append(threading.get_ident())
        return i * i

    assert run_concurrently(spark, square, range(12)) == [i * i for i in range(12)]
    assert len(threads) == 12 and len(set(threads)) <= _CPUS


def test_first_failure_in_input_order_is_raised_after_every_item_ran(spark):
    ran = []
    seven_failed = threading.Event()

    def fn(i):
        ran.append(i)
        if i == 3 and _CPUS > 1:
            seven_failed.wait(60)  # let the later item fail first
        if i in (3, 7):
            if i == 7:
                seven_failed.set()
            raise ValueError(i)
        return i

    with pytest.raises(ValueError) as ei:
        run_concurrently(spark, fn, range(12))
    assert ei.value.args == (3,)
    assert sorted(ran) == list(range(12)) and seven_failed.is_set()


def _one_sheet(tmp_path):
    xlsx_io.write_workbook(str(tmp_path / "sales.xlsx"),
                           [("Sheet1", ["company", "qty"], [["A", 1], ["B", 2], ["A", 3]])])


def test_first_failing_query_is_raised_and_nothing_outlives_the_call(spark, tmp_path):
    _one_sheet(tmp_path)
    bundle = QueryBundle.from_strings(
        export_name="x", sink="parquet", matches=["sales"], sheets=["Sheet1"],
        query_strings=["SELECT missing_one FROM Sheet1.sheet",
                       "SELECT missing_two FROM Sheet1.sheet"],
        query_names=["q1", "q2"])
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    threads = threading.active_count()
    with pytest.raises(AnalysisException) as ei:
        QueryEngine(spark, str(tmp_path), [bundle], str(tmp_path / "out")).process_queries()
    assert "missing_one" in str(ei.value)
    assert "while running query 'q1' on sales.xlsx" in ei.value.__notes__
    assert {t.name for t in spark.catalog.listTables() if t.isTemporary} == views
    assert threading.active_count() == threads


def test_caller_job_group_reaches_every_job_of_the_pipeline(spark, tmp_path):
    # queries, concat and the parquet sink all run on worker threads; each
    # of their jobs must carry the group the caller set
    _one_sheet(tmp_path)
    bundle = QueryBundle.from_strings(
        export_name="x", sink="parquet", matches=["sales"], sheets=["Sheet1"],
        query_strings=["SELECT company, COUNT(*) AS n FROM Sheet1.sheet GROUP BY company",
                       "SELECT company, qty FROM Sheet1.sheet WHERE qty > 1",
                       "SELECT SUM(qty) AS total FROM Sheet1.sheet"],
        query_names=["by_company", "big", "total"], pivot_by_name={"by_company": True})
    sc = spark.sparkContext
    tracker, bus = sc.statusTracker(), sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup())
    sc.setJobGroup("caller-group", "a caller's label")
    try:
        QueryEngine(spark, str(tmp_path), [bundle], str(tmp_path / "out")).process_queries()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    bus.waitUntilEmpty()
    assert len(tracker.getJobIdsForGroup("caller-group")) >= 3  # one write per result
    assert set(tracker.getJobIdsForGroup()) <= ungrouped
