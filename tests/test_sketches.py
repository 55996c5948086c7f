"""Approximate-sketch profiling: bounded relative error vs the exact
answers plus the plan property that makes sketches the scale tool —
fixed-size partial aggregation, no shuffle of raw values.  The
`sketch_profile` entry runs on the PORTABLE md5-HLL + histogram
family (value-exact vs the DuckDB oracle); Spark's engine-specific
built-in sketches are error-bound-pinned separately below."""

from __future__ import annotations

import __spark_entry__ as entry
import pytest
from pyspark.sql import functions as F

from etl_excel_to_hyper_tableau_spark.operators import sketches


def test_sketch_estimates_within_error_bounds(spark, sf_dir):
    row = entry.q_sketch_profile(spark, sf_dir).collect()[0]
    li = entry._t(spark, sf_dir, "lineitem")
    exact = li.agg(
        F.countDistinct("l_orderkey").alias("o"),
        F.countDistinct("l_partkey").alias("p"),
        F.countDistinct("l_suppkey").alias("s"),
        F.count("*").alias("n")).collect()[0]
    # portable HLL at m=256: stderr ~6.5%; assert a 3-sigma envelope
    for got, want in [(row["ndv_orders"], exact["o"]),
                      (row["ndv_parts"], exact["p"]),
                      (row["ndv_suppliers"], exact["s"])]:
        assert abs(got - want) <= max(0.20 * want, 4), (got, want)
    assert row["n_rows"] == exact["n"]
    # histogram quantile sketch: error ≤ one bin width = (hi-lo)/512
    qs = [row["price_p50"], row["price_p95"], row["price_p99"]]
    assert qs[0] < qs[1] < qs[2]
    lo, hi = li.agg(F.min("l_extendedprice"),
                    F.max("l_extendedprice")).collect()[0]
    bin_w = (hi - lo) / 512
    exact_q = li.selectExpr(
        "percentile(l_extendedprice, array(0.5, 0.95, 0.99)) as q"
    ).collect()[0]["q"]
    for got, want in zip(qs, exact_q):
        assert abs(got - want) <= bin_w, (got, want, bin_w)


def test_native_spark_sketches_within_error_bounds(spark, sf_dir):
    """Spark's built-in HLL++ / Greenwald-Khanna sketches (engine-
    specific state — the reason sketch_profile switched to the portable
    family for its value oracle) stay pinned by error bound here."""
    li = entry._t(spark, sf_dir, "lineitem")
    row = li.agg(
        F.approx_count_distinct("l_orderkey").alias("ndv"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50"),
        F.countDistinct("l_orderkey").alias("exact_ndv"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_p50"),
    ).collect()[0]
    assert abs(row["ndv"] - row["exact_ndv"]) <= 0.10 * row["exact_ndv"]
    assert abs(row["p50"] - row["exact_p50"]) <= 0.01 * row["exact_p50"]


def test_sketch_profile_exchanges_are_register_bounded(spark, sf_dir):
    # the entry now assembles driver-side from collected metadata
    # (≤1.3k rows), so the distributed contract lives in the fused
    # register pass: map-side partial agg before the single exchange,
    # no join exchange anywhere
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        hll_register_table,
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plan = (hll_register_table(li, ["l_orderkey", "l_partkey",
                                    "l_suppkey"], p=8)
            ._jdf.queryExecution().executedPlan().toString())
    assert "partial" in plan.lower()
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # ONE data exchange for all three columns (plus AQE bookkeeping):
    # the tagged union merges before shuffling
    assert plan.count("Exchange hashpartitioning") == 1


def test_sketch_profile_entry_shape(spark, sf_dir):
    out = entry.q_sketch_profile(spark, sf_dir)
    rows = out.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_rows"] > 0
    assert r["price_p50"] <= r["price_p95"] <= r["price_p99"]
    for c in ("ndv_orders", "ndv_parts", "ndv_suppliers"):
        assert r[c] > 0


def test_hll_register_table_matches_per_column_builds(spark, sf_dir):
    # the fused tagged-union build (both shapes) must yield EXACTLY the
    # registers of per-column hll_build — same md5, same max ranks
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        hll_build, hll_register_table,
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cols = ["l_orderkey", "l_suppkey"]
    want = {}
    for c in cols:
        for r in hll_build(li, c, p=8).collect():
            want[(c, r["register"])] = r["max_rank"]
    for exact, fuse in ((False, False), (True, False), (True, True)):
        got = {(r["key_col"], r["register"]): r["max_rank"]
               for r in hll_register_table(li, cols, p=8, exact=exact,
                                           fuse_final=fuse).collect()}
        assert got == want, f"exact={exact} fuse={fuse}"
    # exact=True's n_keys sums to the true per-column NDV
    ndv = {r["key_col"]: 0
           for r in hll_register_table(li, cols, p=8, exact=True)
           .collect()}
    for r in hll_register_table(li, cols, p=8, exact=True).collect():
        ndv[r["key_col"]] += r["n_keys"]
    exact_ndv = li.agg(
        *[F.countDistinct(c).alias(c) for c in cols]).collect()[0]
    for c in cols:
        assert ndv[c] == exact_ndv[c]


def test_hll_estimate_py_matches_sql_estimator(spark, sf_dir):
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        hll_build, hll_estimate, hll_estimate_py,
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sk = hll_build(li, "l_partkey", p=8)
    want = hll_estimate(sk, p=8).collect()[0]
    got = hll_estimate_py(
        [(r["register"], r["max_rank"]) for r in sk.collect()], p=8)
    assert got["n_registers_hit"] == want["n_registers_hit"]
    assert got["v_zero"] == want["v_zero"]
    assert got["raw_register_sum"] == want["raw_register_sum"]
    assert got["estimate"] == want["estimate"]


def _histogram_quantiles_model(cells, bins: int,
                           qs: tuple[float, ...] = (0.5, 0.95, 0.99),
                           round_to: int = 6) -> dict:
    """Python model of ``histogram_quantiles`` over collected sketch
    cells (``(bin, cnt, lo, hi, n)`` rows) — same
    first-bin-reaching-``ceil(q·n)`` rule, same pinned interpolation
    op order as the SQL oracle (``lo + (bin + (target - cum_before)
    / cnt) * (hi - lo) / bins``), rounded at the boundary.  Returns
    ``{q: estimate}`` (empty dict for an empty sketch)."""
    if not cells:
        return {}
    rows = sorted((int(r[0]), int(r[1])) for r in cells)
    lo, hi, n = float(cells[0][2]), float(cells[0][3]), int(cells[0][4])
    out = {}
    for q in qs:
        target = int(-(-q * n // 1))  # ceil(q*n), same float multiply as SQL
        cum = 0
        for b, cnt in rows:
            if cum + cnt >= target:
                if hi == lo:
                    out[q] = lo
                else:
                    out[q] = sketches._round_half_up(
                        lo + (b + (target - cum) / cnt)
                        * (hi - lo) / float(bins), round_to)
                break
            cum += cnt
    return out


def test_histogram_quantiles_py_matches_sql_estimator(spark, sf_dir):
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        histogram_quantiles, histogram_sketch,
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sk = histogram_sketch(li, "l_extendedprice", bins=128)
    want = {r["q"]: r["estimate"]
            for r in histogram_quantiles(sk, 128,
                                         (0.25, 0.5, 0.99)).collect()}
    cells = [(r["bin"], r["cnt"], r["lo"], r["hi"], r["n"])
             for r in sk.collect()]
    got = _histogram_quantiles_model(cells, 128, (0.25, 0.5, 0.99))
    assert got == want


def test_count_min_matches_python_model_and_bounds(spark):
    import hashlib
    from collections import Counter
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        count_min_build, count_min_estimate,
    )
    depth, width = 3, 64
    keys = [i % 17 for i in range(500)] + [3] * 100  # key 3 is hot
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    sketch = count_min_build(df, "k", depth=depth, width=width)
    probes = spark.createDataFrame([(k,) for k in range(17)], "k long")
    got = {r["key"]: r["est"]
           for r in count_min_estimate(sketch, probes, "k",
                                       depth=depth, width=width).collect()}

    def bucket(d, k):
        h = hashlib.md5(f"{d}:{k}".encode()).hexdigest()
        return int(h[:15], 16) % width

    true = Counter(keys)
    cells = Counter()
    for k, c in true.items():
        for d in range(depth):
            cells[(d, bucket(d, k))] += c
    for k in range(17):
        model = min(cells[(d, bucket(d, k))] for d in range(depth))
        assert got[str(k)] == model          # bit-exact vs the model
        assert got[str(k)] >= true[k]        # CMS never under-counts
    assert got["3"] >= 100


def test_count_min_sketches_merge_cellwise(spark):
    from pyspark.sql import functions as F
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        count_min_build, count_min_estimate,
    )
    a = spark.createDataFrame([(1,)] * 6 + [(2,)] * 2, "k long")
    b = spark.createDataFrame([(1,)] * 4 + [(3,)] * 5, "k long")
    merged = (count_min_build(a, "k", depth=2, width=32)
              .unionByName(count_min_build(b, "k", depth=2, width=32))
              .groupBy("depth", "bucket").agg(F.sum("cnt").alias("cnt")))
    whole = count_min_build(a.unionByName(b), "k", depth=2, width=32)
    probes = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    em = {r["key"]: r["est"] for r in count_min_estimate(
        merged, probes, "k", depth=2, width=32).collect()}
    ew = {r["key"]: r["est"] for r in count_min_estimate(
        whole, probes, "k", depth=2, width=32).collect()}
    assert em == ew  # merged sketches == sketch of the union
    assert em["1"] >= 10 and em["3"] >= 5


def test_hll_estimate_within_error_bound(spark):
    """Standard error of HLL at m=256 is ~1.04/sqrt(256) = 6.5%; assert
    a loose 3-sigma envelope on a 20k-distinct stream with repeats."""
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        hll_build, hll_estimate,
    )
    df = spark.range(60_000).select((F.col("id") % 20_000).alias("k"))
    est = hll_estimate(hll_build(df, "k", p=8), p=8).collect()[0]
    assert abs(est["estimate"] - 20_000) <= 0.20 * 20_000
    assert est["n_registers_hit"] == 256 and est["v_zero"] == 0


def test_hll_small_range_correction_is_near_exact(spark):
    """Tiny cardinalities take the linear-counting branch, which is
    near-exact while most registers are empty."""
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        hll_build, hll_estimate,
    )
    df = spark.range(30).select(F.col("id").alias("k"))
    est = hll_estimate(hll_build(df, "k", p=8), p=8).collect()[0]
    assert est["v_zero"] > 0
    assert abs(est["estimate"] - 30) <= 4


def test_hll_sketches_merge_by_union_max(spark):
    """The HLL property: sketches over disjoint halves, merged by
    UNION + max per register, equal the whole-stream sketch exactly."""
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        hll_build, hll_estimate,
    )
    whole = spark.range(5_000).select(F.col("id").alias("k"))
    a = whole.filter("k < 2500")
    b = whole.filter("k >= 2500")
    merged = (hll_build(a, "k").unionByName(hll_build(b, "k"))
              .groupBy("register").agg(F.max("max_rank").alias("max_rank")))
    e_m = hll_estimate(merged).collect()[0]
    e_w = hll_estimate(hll_build(whole, "k")).collect()[0]
    assert e_m == e_w


def test_hll_build_is_register_bounded(spark):
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        hll_build,
    )
    df = spark.range(100_000).select(F.col("id").alias("k"))
    sk = hll_build(df, "k", p=6).collect()
    assert len(sk) <= 64
    assert all(1 <= r["max_rank"] <= 55 for r in sk)


def test_histogram_quantiles_within_bin_width(spark):
    """Equi-width estimator error bound: each estimate is within one
    bin width of the exact quantile."""
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        histogram_quantiles, histogram_sketch,
    )
    df = spark.range(10_000).select(
        ((F.col("id") * 37) % 10_000).cast("double").alias("v"))
    sk = histogram_sketch(df, "v", bins=100)
    got = {r["q"]: r["estimate"]
           for r in histogram_quantiles(sk, 100, (0.25, 0.5, 0.9)).collect()}
    # values are the permutation of 0..9999 -> exact quantile q*N
    for q in (0.25, 0.5, 0.9):
        assert abs(got[q] - q * 10_000) <= 9_999 / 100 + 1, (q, got[q])


def test_histogram_sketches_merge_cellwise(spark):
    """The shard-merge workflow: sketches over disjoint halves built
    against the SAME pinned bounds, merged by cell-wise sum, equal the
    whole-stream (auto-bounds) sketch exactly."""
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        histogram_sketch,
    )
    whole = spark.range(4_000).select(F.col("id").cast("double").alias("v"))
    sk_w = {r["bin"]: r["cnt"]
            for r in histogram_sketch(whole, "v", bins=64).collect()}
    a = whole.filter(F.col("v") % 2 == 0)
    b = whole.filter(F.col("v") % 2 == 1)
    merged = (histogram_sketch(a, "v", bins=64, lo=0.0, hi=3999.0)
              .unionByName(histogram_sketch(b, "v", bins=64,
                                            lo=0.0, hi=3999.0))
              .groupBy("bin").agg(F.sum("cnt").alias("cnt")))
    sk_m = {r["bin"]: r["cnt"] for r in merged.collect()}
    assert sk_m == sk_w


def test_histogram_sketch_state_is_bin_bounded(spark):
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        histogram_sketch,
    )
    df = spark.range(200_000).select(
        (F.col("id") % 1000).cast("double").alias("v"))
    sk = histogram_sketch(df, "v", bins=32)
    assert sk.count() <= 32
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert "partial" in plan.lower()


def test_histogram_sketch_degenerate_inputs(spark):
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        histogram_quantiles, histogram_sketch,
    )
    const = spark.range(50).select(F.lit(7.0).alias("v"))
    sk = histogram_sketch(const, "v", bins=16)
    rows = sk.collect()
    assert len(rows) == 1 and rows[0]["bin"] == 0 and rows[0]["cnt"] == 50
    est = histogram_quantiles(sk, 16, (0.5, 0.99)).collect()
    assert [r["estimate"] for r in est] == [7.0, 7.0]
    empty = spark.range(5).select(F.lit(None).cast("double").alias("v"))
    assert histogram_sketch(empty, "v", bins=16).count() == 0


def test_sketch_profile_entry_pins_operator_outputs(spark, sf_dir):
    """The entry's one-row card must equal the public operators'
    outputs column-for-column (guards the entry-level pivot/rename
    plumbing around hll_estimate / fixed_histogram_quantiles_py)."""
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        fixed_histogram_cells, fixed_histogram_quantiles_py, hll_build,
        hll_estimate,
    )
    li = entry._t(spark, sf_dir, "lineitem")
    ndvs = {alias: hll_estimate(hll_build(li, c, p=8), p=8)
            .collect()[0]["estimate"]
            for c, alias in (("l_orderkey", "ndv_orders"),
                             ("l_partkey", "ndv_parts"),
                             ("l_suppkey", "ndv_suppliers"))}
    cells = fixed_histogram_cells(li, "l_extendedprice", 20.0).collect()
    qs = fixed_histogram_quantiles_py(
        [(r["bin"], r["cnt"]) for r in cells], 20.0, (0.5, 0.95, 0.99))
    fused = entry.q_sketch_profile(spark, sf_dir).collect()[0]
    assert fused["ndv_orders"] == ndvs["ndv_orders"]
    assert fused["ndv_parts"] == ndvs["ndv_parts"]
    assert fused["ndv_suppliers"] == ndvs["ndv_suppliers"]
    assert fused["price_p50"] == qs[0.5]
    assert fused["price_p95"] == qs[0.95]
    assert fused["price_p99"] == qs[0.99]
    assert fused["n_rows"] == li.count()


def test_grouped_histogram_matches_ungrouped_per_group(spark, sf_dir):
    """Filtering one group out of the grouped build must equal the
    ungrouped operators run on that group's rows alone."""
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        histogram_quantiles, histogram_quantiles_by, histogram_sketch,
        histogram_sketch_by,
    )
    docs = entry._t(spark, sf_dir, "documents")
    lang = docs.select("lang").where(F.col("lang").isNotNull()) \
        .orderBy("lang").first()["lang"]
    grouped = {r["q"]: r["estimate"] for r in histogram_quantiles_by(
        histogram_sketch_by(docs, "n_chars", "lang", bins=64),
        "lang", 64, (0.5, 0.9)).where(F.col("lang") == lang).collect()}
    single = {r["q"]: r["estimate"] for r in histogram_quantiles(
        histogram_sketch(docs.where(F.col("lang") == lang),
                         "n_chars", bins=64), 64, (0.5, 0.9)).collect()}
    assert grouped == single


def test_grouped_histogram_state_is_group_times_bin_bounded(spark):
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        histogram_sketch_by,
    )
    df = spark.range(100_000).select(
        (F.col("id") % 7).cast("string").alias("g"),
        (F.col("id") % 997).cast("double").alias("v"))
    sk = histogram_sketch_by(df, "v", "g", bins=16)
    assert sk.count() <= 7 * 16
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert "partial" in plan.lower()
    assert "BroadcastHashJoin" in plan  # bounds join never shuffles data


# ---------------------------------------------------------------------------
# KMV bottom-k sketches
# ---------------------------------------------------------------------------

def test_kmv_unsaturated_is_exact(spark):
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        kmv_estimate, kmv_sketch,
    )
    df = spark.range(100).withColumn("k", F.col("id") % 37)
    est = kmv_estimate(kmv_sketch(df, "k", k=256), k=256).first()
    assert est["k_used"] == 37
    assert est["ndv_est"] == 37.0


def test_kmv_estimator_error_bound(spark):
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        kmv_estimate, kmv_sketch,
    )
    n = 20_000
    df = spark.range(n * 2).withColumn("k", F.col("id") % n)
    est = kmv_estimate(kmv_sketch(df, "k", k=256), k=256).first()
    assert est["k_used"] == 256
    # standard error ≈ 1/sqrt(k-2) ≈ 6.3%; allow 4σ
    assert abs(est["ndv_est"] - n) / n < 0.25


def test_kmv_set_ops_recovers_overlap(spark):
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        kmv_set_ops,
    )
    # A = [0, 12000), B = [6000, 18000): |A∩B| = 6000, |A∪B| = 18000
    a = spark.range(12_000).select(F.col("id").alias("x"))
    b = spark.range(6_000, 18_000).select(F.col("id").alias("y"))
    r = kmv_set_ops(a, "x", b, "y", k=256).first()
    assert abs(r["union_est"] - 18_000) / 18_000 < 0.25
    assert abs(r["jaccard_est"] - 1 / 3) < 0.12
    assert abs(r["inter_est"] - 6_000) / 6_000 < 0.45
    assert abs(r["ndv_a"] - 12_000) / 12_000 < 0.25


def test_kmv_deterministic_across_partitionings(spark):
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        kmv_estimate, kmv_sketch,
    )
    df = spark.range(5_000).withColumn("k", F.col("id"))
    a = kmv_estimate(kmv_sketch(df, "k", k=128), k=128).first()
    b = kmv_estimate(kmv_sketch(df.repartition(13), "k", k=128),
                     k=128).first()
    assert a == b


def test_kmv_validation(spark):
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        kmv_sketch,
    )
    with pytest.raises(ValueError):
        kmv_sketch(spark.range(3), "id", k=1)


def test_fixed_histogram_quantiles_within_width(spark):
    """Fixed-grid one-pass histogram: quantile estimates land within
    one bin width of the exact order statistics."""
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        fixed_histogram_cells, fixed_histogram_quantiles_py,
    )
    df = spark.range(10_000).select(
        (F.col("id") * 0.37 + 5.0).alias("v"))
    cells = fixed_histogram_cells(df, "v", width=25.0).collect()
    est = fixed_histogram_quantiles_py(
        [(r["bin"], r["cnt"]) for r in cells], width=25.0,
        qs=(0.5, 0.95))
    exact = sorted(r["v"] for r in df.collect())
    for q in (0.5, 0.95):
        true = exact[int(q * len(exact)) - 1]
        assert abs(est[q] - true) <= 25.0, (q, est[q], true)


def test_fixed_histogram_cells_merge_and_bounds(spark):
    """Cells merge across partitionings by plain count addition and
    the state is value-range-bounded, not row-bounded."""
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        fixed_histogram_cells,
    )
    df = spark.range(50_000).select((F.col("id") % 1000).cast(
        "double").alias("v"))
    a = {(r["bin"], r["cnt"])
         for r in fixed_histogram_cells(df, "v", 10.0).collect()}
    b = {(r["bin"], r["cnt"]) for r in fixed_histogram_cells(
        df.repartition(17), "v", 10.0).collect()}
    assert a == b
    assert len(a) == 100  # range/width cells despite 50k rows


def test_fixed_histogram_null_and_validation(spark):
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        fixed_histogram_cells, fixed_histogram_quantiles_py,
    )
    df = spark.createDataFrame(
        [(1.0,), (None,), (99.0,)], "v double")
    cells = fixed_histogram_cells(df, "v", 50.0).collect()
    assert sum(r["cnt"] for r in cells) == 2  # NULL excluded
    assert fixed_histogram_quantiles_py([], 50.0) == {}
    with pytest.raises(ValueError):
        fixed_histogram_cells(df, "v", 0)


# ---------------------------------------------------------------------------
# round-11: sketch-banded exact_quantiles internals
# ---------------------------------------------------------------------------

def _eq_ref(vals, qs):
    """Rank-ceil(q·n) reference with NaN ordered last (Spark's sort)."""
    import math
    fin = sorted(v for v in vals if v == v)
    s = fin + [v for v in vals if v != v]
    return {q: s[max(1, math.ceil(q * len(s))) - 1] for q in qs}


def test_exact_quantiles_banded_path_ties_and_collapse(spark):
    """>10k rows forces the sketch-banded path; heavy ties make the
    band collapse (lo == hi) and must resolve without the shuffle
    fallback or the final collect."""
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        exact_quantiles,
    )
    vals = [5.0] * 29_999 + [6.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = {r["q"]: (r["rank"], r["value"])
           for r in exact_quantiles(df, "v", qs=(0.5, 1.0)).collect()}
    assert got[0.5] == (15_000, 5.0)
    assert got[1.0] == (30_000, 6.0)


def test_exact_quantiles_banded_path_nan_suffix(spark):
    """NaN sorts greatest: a target rank past the last finite value is
    NaN (not NULL — the pandas→Arrow NaN→null trap), and finite ranks
    stay exact because the cuts re-anchor at k/n_f."""
    import math
    import random
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        exact_quantiles,
    )
    rng = random.Random(7)
    vals = [rng.random() for _ in range(12_000)] + [float("nan")] * 4_000
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = {r["q"]: r["value"]
           for r in exact_quantiles(df, "v", qs=(0.5, 0.95)).collect()}
    want = _eq_ref(vals, (0.5, 0.95))
    assert got[0.5] == want[0.5]
    assert got[0.95] != got[0.95] and want[0.95] != want[0.95]  # NaN


def test_exact_quantiles_partitioned_fallback_matches(spark):
    """The shuffle fallback obeys the same contract, including NaN
    ranks emitted as NaN (driver-side union, never through Arrow)."""
    import random
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        _exact_quantiles_partitioned,
    )
    rng = random.Random(3)
    vals = [rng.random() for _ in range(5_000)] + [float("nan")] * 1_000
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = {r["q"]: r["value"] for r in _exact_quantiles_partitioned(
        df, "v", qs=(0.25, 0.5, 1.0)).collect()}
    want = _eq_ref(vals, (0.25, 0.5, 1.0))
    assert got[0.25] == want[0.25]
    assert got[0.5] == want[0.5]
    assert got[1.0] != got[1.0] and want[1.0] != want[1.0]  # NaN rank
