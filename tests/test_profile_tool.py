"""tools/profile_entries.py: one record per (entry, run) with both
walls, the row count and the persisted-RDD count, plus the --plan
dump."""

from __future__ import annotations

import os
import sys

import __spark_entry__ as entry

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from profile_entries import profile_entries  # noqa: E402


def test_profile_records_walls_rows_and_persisted_rdds(spark, sf_dir,
                                                       tmp_path):
    names = ["pricing_summary", "dedup_exact"]
    entry.warm_up(spark, sf_dir)
    recs = profile_entries(spark, sf_dir, names, runs=2,
                           plan_dir=str(tmp_path))
    assert [(r["entry"], r["run"]) for r in recs] == [
        (n, run) for n in names for run in (1, 2)]
    qs = entry.queries()
    for r in recs:
        assert r["topandas_s"] > 0 and r["noop_s"] > 0
        assert isinstance(r["persisted_rdds"], int) and r["persisted_rdds"] >= 0
        assert r["rows"] == qs[r["entry"]](spark, sf_dir).count()
    for n in names:
        plan = (tmp_path / f"{n}.txt").read_text()
        assert "Physical Plan" in plan
    # job descriptions are cleared after every run
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None
