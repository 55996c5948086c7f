"""Profile registry entries one run at a time.

For each entry and each run it prints the ``toPandas`` wall (plan
construction + execution + Arrow result transfer, the bench.py
methodology), the noop-sink wall (the same plan executed with no result
transfer), the row count and the session's ``getPersistentRDDs()``
count after the run.  Every action runs under the Spark job description
``profile <entry> <mode> <run>`` (mode ``topandas`` or ``noop``), so
the Spark UI and event log attribute each job to its run.

Entries run in the order given, in one session, after the same warm-up
as bench.py.  Listing other entries first replays the session state
they leave behind: e.g. the bench entries that precede the one under
study.

Usage:
    python tools/profile_entries.py [--sf DIR] [--runs N] [--plan OUTDIR] entry [entry ...]

``--sf`` defaults to ``$SPARK_GRAFT_SF_DIR`` (the directory bench.py
reads).  ``--plan OUTDIR`` also writes ``OUTDIR/<entry>.txt`` holding
``explain("formatted")`` of each entry's plan.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402


def profile_entries(spark, sf_dir: str, names: list[str], runs: int = 2,
                    plan_dir: str | None = None) -> list[dict]:
    """Run each entry ``runs`` times (toPandas, then noop sink, per run)
    and return one record per (entry, run)."""
    qs = entry.queries()
    sc = spark.sparkContext
    records = []
    for name in names:
        fn = qs[name]
        for run in range(1, runs + 1):
            rec = {"entry": name, "run": run}
            for mode in ("topandas", "noop"):
                sc.setJobDescription(f"profile {name} {mode} {run}")
                try:
                    t0 = time.perf_counter()
                    df = fn(spark, sf_dir)
                    if mode == "topandas":
                        rec["rows"] = len(df.toPandas())
                    else:
                        df.write.format("noop").mode("overwrite").save()
                    rec[f"{mode}_s"] = round(time.perf_counter() - t0, 3)
                finally:
                    sc.setJobDescription(None)
            rec["persisted_rdds"] = sc._jsc.getPersistentRDDs().size()
            print(f"{name} run {run}: toPandas {rec['topandas_s']:.3f}s "
                  f"noop {rec['noop_s']:.3f}s rows {rec['rows']} "
                  f"persisted_rdds {rec['persisted_rdds']}", flush=True)
            records.append(rec)
        if plan_dir:
            os.makedirs(plan_dir, exist_ok=True)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                fn(spark, sf_dir).explain("formatted")
            with open(os.path.join(plan_dir, f"{name}.txt"), "w") as fh:
                fh.write(f"-- {name} explain(formatted) at {sf_dir}\n")
                fh.write(buf.getvalue())
    return records


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="dataset directory (default: $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--plan", metavar="OUTDIR")
    ap.add_argument("entries", nargs="+")
    args = ap.parse_args()
    if not args.sf:
        ap.error("--sf DIR is required when SPARK_GRAFT_SF_DIR is unset")
    unknown = [n for n in args.entries if n not in entry.queries()]
    if unknown:
        ap.error(f"unknown registry entries: {unknown}")

    from etl_excel_to_hyper_tableau_spark import get_spark

    spark = get_spark(app_name="profile")
    print(f"# load at start: {os.getloadavg()}", flush=True)
    entry.warm_up(spark, args.sf)
    profile_entries(spark, args.sf, args.entries, args.runs, args.plan)
    print(f"# load at end: {os.getloadavg()}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
