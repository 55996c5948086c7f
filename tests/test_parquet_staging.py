"""Parquet layout tools: compaction and partition pruning."""


def test_compact_parquet_merges_small_files(spark, tmp_path):
    from etl_excel_to_hyper_tableau_spark.sinks.parquet import (
        compact_parquet, parquet_file_stats,
    )
    src = str(tmp_path / "frag")
    # simulate an incremental ingest: 40 tiny files
    spark.range(0, 4000).selectExpr("id", "id % 7 as k", "cast(id as string) as s") \
        .repartition(40).write.parquet(src)
    n_in, _ = parquet_file_stats(src)
    assert n_in >= 40
    out = str(tmp_path / "compact")
    stats = compact_parquet(spark, src, out, target_file_mb=512,
                            sort_within_by=["k", "id"])
    assert stats["files_out"] == stats["partitions"] == 1  # tiny data → one file
    back = spark.read.parquet(out)
    assert back.count() == 4000
    assert {r["id"] for r in back.collect()} == set(range(4000))


def test_dpp_filter_planned_on_partitioned_join(spark, tmp_path):
    # round 8 (plans/pruning.py): a selective dim filter against a
    # directory-partitioned fact must plan a dynamicpruningexpression
    # in the fact scan's PartitionFilters; the same join against the
    # UNpartitioned fact must not (nothing to prune)
    from pyspark.sql import functions as F
    from etl_excel_to_hyper_tableau_spark.plans.pruning import (
        dpp_filter_count, stage_partitioned,
    )

    fact = spark.createDataFrame(
        [(i, f"g{i % 5}", i * 10) for i in range(200)],
        "id long, grp string, v long")
    path = str(tmp_path / "fact_by_grp")
    stage_partitioned(fact, path, ["grp"])
    staged = spark.read.parquet(path)
    dim_path = str(tmp_path / "dim")
    (spark.createDataFrame([("g1", 1), ("g3", 1), ("g4", 0)],
                           "grp string, keep int")
     .write.parquet(dim_path))
    # DPP preconditions exercised deliberately: the dim is a real
    # source (a LocalRelation never plans DPP), and its filter is on a
    # NON-join column — a join-key filter gets propagated as a STATIC
    # partition predicate instead, and no runtime pruning is needed
    dim = spark.read.parquet(dim_path).filter(F.col("keep") == 1)
    j = staged.join(dim.hint("broadcast"), "grp")
    assert dpp_filter_count(j) >= 1
    assert dpp_filter_count(fact.join(dim, "grp")) == 0
    # values unchanged by the layout
    got = sorted((r["grp"], r["id"]) for r in j.collect())
    want = sorted((f"g{i % 5}", i) for i in range(200) if i % 5 in (1, 3))
    assert got == want
    import pytest as _pt
    with _pt.raises(ValueError, match="partition_cols"):
        stage_partitioned(fact, path, [])
