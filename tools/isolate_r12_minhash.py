"""Round-12 isolation #1 (round-11 verdict item #1): attribute the
repeatable minhash_candidates bench regression (1.68 s r10 -> 3.8-3.9 s
in every r11 run, NO code change on its path).

Hypotheses measured here, each with the noop sink (guide §1.4) and job
labels (§1.5):

  A. standalone entry wall (toPandas, bench methodology) — is the
     regression reproducible outside the bench process at all?
  B. compute-only wall (noop sink, no 2.16 M-row toPandas) — splits the
     operator from the bench's materialization action;
  C. bench-context replay: run the 11 HEADLINE entries that precede
     minhash_candidates first (cold+warm, same as bench.py), then time
     it — isolates accumulated-session state (persisted sigs tables,
     JVM heap/GC, codegen cache) from the operator itself.

Usage: python tools/isolate_r12_minhash.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from etl_excel_to_hyper_tableau_spark import get_spark  # noqa: E402


PRE = [
    "pricing_summary", "shipping_priority", "local_supplier_volume",
    "returned_items", "priority_rank_window", "orders_rollup",
    "monthly_order_stats", "events_sessionize", "event_type_pivot",
    "dedup_exact", "ngram_jaccard_pairs",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="isolate_r12_minhash")
    sc = spark.sparkContext
    spark.range(1000).selectExpr("sum(id)").collect()
    for t in entry.TABLES:
        try:
            entry._t(spark, sf_dir, t).count()
        except Exception:
            pass
    qs = entry.queries()
    fn = qs["minhash_candidates"]

    def wall_topandas(tag):
        for run in ("cold", "warm"):
            sc.setJobDescription(f"minhash_candidates toPandas {tag} {run}")
            t0 = time.perf_counter()
            n = len(fn(spark, sf_dir).toPandas())
            print(f"{tag} {run}: {time.perf_counter() - t0:.3f}s ({n} rows)",
                  flush=True)
            sc.setJobDescription(None)

    def wall_noop(tag):
        for run in ("cold", "warm"):
            sc.setJobDescription(f"minhash_candidates noop {run}")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            print(f"{tag} {run} (noop): {time.perf_counter() - t0:.3f}s",
                  flush=True)
            sc.setJobDescription(None)

    print(f"load at start: {os.getloadavg()}", flush=True)
    # A. standalone, fresh session
    wall_topandas("A standalone")
    # B. compute-only
    wall_noop("B standalone")
    # C. bench-context: replay the preceding HEADLINE entries first
    for name in PRE:
        f2 = qs[name]
        for _ in range(2):
            len(f2(spark, sf_dir).toPandas())
    print("C preamble done (11 entries x2)", flush=True)
    wall_topandas("C bench-context")
    wall_noop("C bench-context")
    print(f"load at end: {os.getloadavg()}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
