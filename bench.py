"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "queries_cold": {...}, "sf": ...}.

Methodology: after a shared warmup (JVM + parquet footer cache), each
query runs twice.  ``queries_cold`` is the first execution — it
includes one-time whole-stage-codegen JIT compilation (2-4 s for the
widest hash-signature plans) and first materialization of persisted
intermediates.  ``queries`` (the headline ``value``) is the second,
warm execution — steady-state throughput, the figure that projects to
cluster scale, where a one-time JIT compile amortizes to nothing over
a 100 TB job.  The DuckDB baseline in BASELINE.md is measured the same
way (two runs, second reported).  Timing covers logical plan →
execution → Arrow result fetch, i.e. what a user experiences per call.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry
from etl_excel_to_hyper_tableau_spark import get_spark

# Headline set: scan-agg, shuffle joins, window, sessionization, dedup
# family, similarity, text profiling — the queries whose plans exercise
# every distinct physical pattern in the engine.
HEADLINE = [
    "pricing_summary",
    "shipping_priority",
    "local_supplier_volume",
    "returned_items",
    "priority_rank_window",
    "orders_rollup",
    "monthly_order_stats",
    "events_sessionize",
    "event_type_pivot",
    "dedup_exact",
    "ngram_jaccard_pairs",
    "minhash_candidates",
    "minhash_dedup",
    "simhash_pairs",
    "embedding_near_dup",
    "embedding_topk",
    "text_profile",
    "asof_purchase_click",
    "range_join_price_bands",
    "ivf_topk",
    "doc_repetition",
    "keyword_topk",
    "dedup_clusters",
    "embedding_near_dup_lsh",
    "groups_frame_window",
    "contamination_check",
    "corpus_clean",
    "bm25_search",
    "vocab_zipf",
    "negative_samples",
    "incremental_dedup",
    "cdc_latest_events",
    "scd2_event_history",
    "doc_compression",
    "rolling_time_window",
    "nation_balance_full_outer",
    "data_quality_report",
    # round 3 additions
    "segment_dedup",
    "winnow_fingerprints",
    "seq_packing",
    "bigram_lm",
    "embedding_quantize",
    "cohort_retention",
    "semantic_dedup",
    "tfidf_topk",
    "doc_novelty",
    # round 4 additions
    "balanced_shards",
    "mmr_select",
    "embedding_covariance",
    "text_normalize",
    "cluster_representatives",
    "content_chunks",
    "minhash_quality",
    "hll_distinct",
    "stream_budget_gate",
    "epoch_upsample",
    "domain_cap",
    "dsir_weights",
    "soft_dedup",
    "vocab_drift",
    "corpus_summary",
    "dup_ngram_stats",
    "volume_shipping",
    "market_share",
    "training_order",
    "stream_hll_distinct",
    "token_fertility",
    "exact_quantiles",
    "priority_sample",
    "corpus_diff",
    "robust_anomalies",
    "dup_graph_stats",
    "sketch_profile",
    "lang_length_quantiles",
    "label_noise",
    "top_revenue_supplier",
    "big_quantity_orders",
    "late_blame_supplier",
    "idle_customer_balance",
    "json_field_profile",
    "group_split",
    "boilerplate_lines",
    "product_type_profit",
    "promo_revenue",
    "line_priority_census",
    # round 5 additions
    "forecast_revenue",
    "priority_late_census",
    "cheapest_type_supplier",
    "important_part_value",
    "customer_order_distribution",
    "supplier_variety",
    "dominant_part_suppliers",
    "url_dedup",
    # pca_variance and embedding_whiten are re-classed OUT of the
    # ratio set (round-9 verdict item 3, executed round 10): their
    # oracles replay the non-SQL eigendecomposition at oracle-BUILD
    # time — pca_variance's SQL is a literal VALUES scan (duck 0.004 s,
    # ratio 356× by construction) and embedding_whiten's W/mu literals
    # exclude the covariance pass the Spark side runs (2.5-3.0×
    # forever) — so their duck walls never measure the computation
    # being verified.  Correctness verification is unchanged (both
    # stay in queries()/oracle_sql() and the driver value-hashes
    # them); the family's FAIR ratio gauge is embedding_covariance
    # below, whose oracle replays the same fixed-point GEMM inline.
    # round 5b additions (video_frame_dedup stays out with the other
    # media dedups: a construction-oracle demo whose PAIR output is
    # quadratic in duplicate-class size — not a corpus throughput gauge)
    "dup_span_removal",
    "quality_classifier",
    "kmeans_clusters",
    # unigram_tokens stays out with bpe_pairs: tokenizer TRAINING is an
    # iterative artifact build (its oracle is a pinned replication, a
    # floor-time VALUES scan in DuckDB), not a corpus throughput gauge
    "html_extract",
    "jaccard_join",
    "warc_extract",
    # kmv_set_ops stays out with unigram_tokens: a ≤2k-row sketch gauge
    # (two TakeOrdered builds + exact-count cross-checks), not a corpus
    # throughput pattern the set doesn't already exercise
    # bucketed_join (round 6) and bucketed_priority_census (round 8)
    # stay out too: physical-layout demos whose wall is the one-time
    # bucketed WRITE the co-located join amortizes — timing the write
    # against DuckDB's in-memory join measures nothing; the
    # exchange-free property is pinned by the oracles'
    # join_exchanges=0 column and tests/test_bucketing.py
    # round 6b additions (oov_rate stays out: a 5-row two-scan gauge
    # against a floor-time denominator — no physical pattern the set
    # doesn't already time)
    "dictionary_tag",
    "context_pairs",
    # round 8: JL projection is a corpus throughput gauge (one map-only
    # Arrow pass over every embedding row).  salted_join_census /
    # partition_pruned_join / bucket_pruned_lookup stay out with the
    # bucketed demos: their wall is deliberate replication or a
    # one-time staging write the layout amortizes — the physical
    # property is pinned by their oracles, not a throughput ratio.
    "embedding_project",
    # round 9: MaxSim late-interaction re-ranking — a corpus throughput
    # gauge with a physical pattern the set doesn't have (nested
    # higher-order token scoring over the broadcast query side)
    "maxsim_rerank",
    # rrf_hybrid stays out: its wall is two embedding_topk-shaped scans
    # (already timed) plus a 40-row fusion agg — no physical pattern
    # the set doesn't time; values pinned by its three-sf oracle
    # round 9: zorder_file_skip stays out with the other layout demos —
    # its wall is the one-time z-order staging write; the skip property
    # is pinned by its oracle's skipped_half column and
    # tests/test_zorder.py::TestFileSkipManifest
    # round 10: the IVF-PQ serving composition (coarse probe → ADC on
    # codes → exact refine) — a corpus throughput gauge whose physical
    # pattern (probe-restricted ADC + candidate re-rank) the set
    # doesn't time; ivfpq_recall stays out with ann_recall (an
    # evaluation join over queries×k rows, not a throughput pattern)
    "ivfpq_topk",
    "ivfpq_topk_staged",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")
    qs = entry.queries()

    entry.warm_up(spark, sf_dir)

    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    for name in HEADLINE:
        fn = qs[name]
        for run, book in (("cold", cold), ("warm", warm)):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = len(df.toPandas())  # Arrow-batched result fetch (the engine's doctrine)
            book[name] = round(time.perf_counter() - t0, 3)
        print(f"# {name}: cold {cold[name]:.3f}s warm {warm[name]:.3f}s "
              f"({n} rows)", file=sys.stderr)

    total = round(sum(warm.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Per-query detail goes to a side file: the driver captures only the
    # tail of stdout, and a 37-query inline dict overflowed it in round 2
    # (BENCH_r02.json "parsed": null).  The LAST stdout line stays compact.
    detail = {
        "metric": "headline_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": warm,
        "queries_cold": cold,
        "cold_total": round(sum(cold.values()), 3),
        "sf": sf_val,
    }
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    # Round-12 (PERF contract restoration, round-11 verdict item #2):
    # the one-line JSON carries a COMPACT per-query map again so the
    # driver's PERF_rN per-query diff has n_common > 0 without relying
    # on BENCH_DETAIL.json (which each run overwrites — the driver's
    # 8-core re-run destroyed its own 32-core detail in round 11).
    # Values round to 0.001 s (0.01 s turned entries under 5 ms into
    # 0.0): 105 entries ≈ 3.5 KB on one line, far under
    # the capture limit the round-2 overflow hit (that was a 37-query
    # PRETTY-PRINTED dict; this is separators-packed).  Full-precision
    # detail still goes to BENCH_DETAIL.json.
    print(json.dumps({
        "metric": "headline_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in warm.items()},
        "cold_total": round(sum(cold.values()), 3),
        "n_queries": len(warm),
        "sf": sf_val,
        "detail": "BENCH_DETAIL.json",
    }, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
