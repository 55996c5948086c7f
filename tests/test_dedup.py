"""Deduplication operators on tiny frames with hand-checkable answers."""

import pytest
from pyspark.sql import functions as F

from etl_excel_to_hyper_tableau_spark.operators import dedup as dd_module
from etl_excel_to_hyper_tableau_spark.operators.dedup import (
    embedding_cosine_pairs, exact_dedup, minhash_dedup,
    minhash_lsh_candidates, ngram_jaccard_pairs, simhash_pairs,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),     # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),     # near dup
        (4, "completely different text about spark engines"),
        (5, "the quick brown fox jumps over the lazy dog!"),    # near dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_min_id(docs):
    out = exact_dedup(docs, ["text"], "doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3, 4, 5]


def test_exact_dedup_multicol(spark):
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "y"), (3, "a", "x")],
        "id long, c1 string, c2 string")
    out = exact_dedup(df, ["c1", "c2"], "id")
    assert sorted(r["id"] for r in out.collect()) == [1, 2]


def test_ngram_jaccard_finds_near_dups(docs):
    out = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert pairs[(1, 2)] == pytest.approx(1.0)   # identical → jaccard 1
    assert (1, 3) in pairs and pairs[(1, 3)] < 1.0
    assert not any(4 in p for p in pairs)        # unrelated doc never pairs
    assert all(a < b for a, b in pairs)


def test_ngram_jaccard_max_df_prunes_hot_shingles(docs):
    # max_df=1 keeps only shingles unique to one doc → no common shingles
    out = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.01,
                              max_df=1)
    assert out.count() == 0


def test_minhash_candidates_and_dedup(docs):
    cand = minhash_lsh_candidates(docs, "text", "doc_id", k=32, bands=8)
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in cand.collect()}
    assert pairs[(1, 2)] == pytest.approx(1.0)   # identical docs always collide
    deduped = minhash_dedup(docs, "text", "doc_id", threshold=0.99)
    ids = sorted(r["doc_id"] for r in deduped.collect())
    assert 1 in ids and 2 not in ids and 4 in ids


def test_minhash_dedup_linear_path(docs):
    # threshold=None: bucket-min semantics — no pairwise join; exact
    # duplicates always share every bucket, so 2 must drop
    out = dd_module.minhash_dedup(docs, "text", "doc_id", threshold=None)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert 1 in ids and 2 not in ids and 4 in ids


def test_simhash_identical_distance_zero(docs):
    out = simhash_pairs(docs, "text", "doc_id", max_hamming=3)
    by_pair = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    assert by_pair[(1, 2)] == 0
    assert all(h <= 3 for h in by_pair.values())


def test_embedding_cosine_exact_and_lsh(spark):
    vecs = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.01, 0.0]),   # ~parallel to 1
        (3, [0.0, 1.0, 0.0]),    # orthogonal
        (4, [2.0, 0.0, 0.0]),    # parallel to 1, different norm
    ]
    df = spark.createDataFrame(vecs, "id long, vec array<double>")
    exact = embedding_cosine_pairs(df, "vec", "id", threshold=0.95)
    pairs = {(r["id_a"], r["id_b"]): r["cosine"] for r in exact.collect()}
    assert pairs[(1, 4)] == pytest.approx(1.0)
    assert (1, 2) in pairs and (1, 3) not in pairs
    # LSH path returns a subset of the exact pairs (recall<1 by design)
    lsh = embedding_cosine_pairs(df, "vec", "id", threshold=0.95, use_lsh=True)
    lsh_pairs = {(r["id_a"], r["id_b"]) for r in lsh.collect()}
    assert lsh_pairs <= set(pairs)
    # parallel vectors always share every sign bucket
    assert (1, 4) in lsh_pairs


def test_contamination_pairs(spark):
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "totally unrelated content here xyz")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "quick brown fox jumps high")],
        "doc_id long, text string")
    out = dd_module.contamination_pairs(corpus, bench, "text", "doc_id",
                                        n=8, min_common=3)
    rows = {(r["corpus_id"], r["bench_id"]): r["n_common"] for r in out.collect()}
    assert (1, 100) in rows and rows[(1, 100)] >= 3  # shares 'quick brown fox jumps'
    assert not any(c == 2 for c, _ in rows)          # unrelated doc never flags


def test_embedding_exact_path_degrades_to_lsh_above_max_exact(spark, monkeypatch):
    """A corpus above max_exact must never reach the driver-collecting
    GEMM prefilter — the default path silently takes the LSH route."""
    vecs = [(i, [float(i % 7 + 1), float((3 * i) % 5), 1.0]) for i in range(20)]
    df = spark.createDataFrame(vecs, "id long, vec array<double>")

    def boom(*args, **kwargs):
        raise AssertionError("GEMM prefilter reached above max_exact")

    monkeypatch.setattr(dd_module, "_gemm_candidate_pairs", boom)
    out = embedding_cosine_pairs(df, "vec", "id", threshold=0.99,
                                 use_lsh=False, max_exact=5)
    lsh = embedding_cosine_pairs(df, "vec", "id", threshold=0.99, use_lsh=True)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, lsh.collect()))


def test_simhash_matches_per_bit_vote_reference(spark):
    """The map-only vector-vote signature is bit-identical to the
    explicit per-bit vote-sum formulation (the relational groupBy form
    it replaced)."""
    from pyspark.sql import functions as F
    from etl_excel_to_hyper_tableau_spark.operators.dedup import (
        _MD5_INT64_SQL, with_simhash,
    )
    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "pack my box with five dozen"),
         (3, "the quick brown fox"), (4, "a"), (5, "")],
        "doc_id long, text string")
    toks = df.select(F.col("doc_id").alias("id"),
                     F.explode(F.split("text", r"\s+")).alias("t"))
    hashed = toks.selectExpr("id", f"{_MD5_INT64_SQL.format(x='t')} as h")
    total = " + ".join(
        f"(case when sum(case when (h & {1 << j}) <> 0 then 1 else -1 end) > 0 "
        f"then cast({1 << j} as bigint) else cast(0 as bigint) end)"
        for j in range(60))
    ref = {r["id"]: r["simhash"]
           for r in hashed.groupBy("id").agg(F.expr(total).alias("simhash")).collect()}
    got = {r["id"]: r["simhash"]
           for r in with_simhash(df, "text", "doc_id").collect()}
    assert got == ref
    assert got[1] == got[3]  # identical docs, identical hash


def test_with_simhash_plan_is_shuffle_free(spark):
    """Signature stage must be pure map work: no Exchange beyond the
    explicit spread() repartition of the raw input."""
    from etl_excel_to_hyper_tableau_spark.operators.dedup import with_simhash
    df = spark.range(10).selectExpr("id as doc_id", "'a b c' as text")
    plan = (with_simhash(df, "text", "doc_id")
            ._jdf.queryExecution().executedPlan().toString())
    # one round-robin exchange from spread(); no hash-partitioned
    # aggregate exchange
    assert "hashpartitioning" not in plan, plan


def test_incremental_candidates_cross_side_only(spark):
    from etl_excel_to_hyper_tableau_spark.operators.dedup import (
        minhash_incremental_candidates, minhash_lsh_candidates,
    )
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, base + f" variant {i % 3}") for i in range(1, 21)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    new = df.filter("doc_id % 5 = 0")
    corp = df.filter("doc_id % 5 <> 0")
    got = minhash_incremental_candidates(new, corp, "text", "doc_id",
                                         k=16, n=3, bands=4).collect()
    new_ids = {5, 10, 15, 20}
    assert got, "near-identical variants must produce candidates"
    for r in got:
        assert r["new_id"] in new_ids and r["corpus_id"] not in new_ids
        assert 0.0 <= r["est_jaccard"] <= 1.0
    # agreement with the self-join formulation restricted to cross pairs
    full = minhash_lsh_candidates(df, "text", "doc_id",
                                  k=16, n=3, bands=4).collect()
    cross_full = {(min(a, b), max(a, b))
                  for a, b in ((r["id_a"], r["id_b"]) for r in full)
                  if (a in new_ids) != (b in new_ids)}
    cross_inc = {(min(r["new_id"], r["corpus_id"]),
                  max(r["new_id"], r["corpus_id"])) for r in got}
    assert cross_inc == cross_full


# ---------------------------------------------------------------------------
# segment-level exact-substring dedup
# ---------------------------------------------------------------------------

def _seg_docs(spark):
    boiler = " ".join(f"b{j}" for j in range(10))       # one exact 10-token segment
    uniq = lambda i: " ".join(f"u{i}_{j}" for j in range(10))  # noqa: E731
    rows = [
        (0, boiler + " " + uniq(0)),          # first occurrence of boiler
        (1, uniq(1) + " " + boiler),          # repeated at aligned offset 10
        (2, boiler),                          # doc that is ONLY the boilerplate
        (3, uniq(3) + " tail few"),           # partial final segment
        (4, ""),                              # empty doc
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"]).repartition(3)


def test_segment_dedup_keeps_first_occurrence(spark):
    from etl_excel_to_hyper_tableau_spark.operators.dedup import segment_dedup

    out = {r["doc_id"]: r for r in
           segment_dedup(_seg_docs(spark), "text", "doc_id",
                         seg_tokens=10).collect()}
    boiler = " ".join(f"b{j}" for j in range(10))
    # doc 0 holds the first (smallest doc_id) copy — everything survives
    assert out[0]["n_kept"] == 2 and boiler in out[0]["cleaned_text"]
    # doc 1's aligned repeat of the boilerplate segment is dropped
    assert out[1]["n_kept"] == 1 and boiler not in out[1]["cleaned_text"]
    # doc 2 was nothing but the boilerplate: fully deduplicated
    assert out[2]["n_kept"] == 0 and out[2]["cleaned_text"] == ""
    # partial final segment survives as its own segment
    assert out[3]["n_segments"] == 2 and out[3]["n_kept"] == 2
    # empty doc: 1 nominal segment, nothing kept, still one output row
    assert out[4]["n_kept"] == 0 and out[4]["cleaned_text"] == ""


def test_segment_dedup_reassembles_in_order(spark):
    from etl_excel_to_hyper_tableau_spark.operators.dedup import segment_dedup

    text = " ".join(f"t{j}" for j in range(35))  # 4 segments, last partial
    df = spark.createDataFrame([(7, text)], ["doc_id", "text"])
    row = segment_dedup(df, "text", "doc_id", seg_tokens=10).collect()[0]
    assert row["cleaned_text"] == text  # no duplicates → identity, in order
    assert row["n_segments"] == 4 and row["n_kept"] == 4


def test_minhash_incremental_rejects_nondividing_bands(spark):
    import pytest
    from etl_excel_to_hyper_tableau_spark.operators.dedup import (
        minhash_incremental_candidates,
    )
    new = spark.createDataFrame([(1, "aaa bbb")], "doc_id long, text string")
    corpus = spark.createDataFrame([(2, "aaa bbb")], "doc_id long, text string")
    with pytest.raises(ValueError, match="bands"):
        minhash_incremental_candidates(new, corpus, "text", "doc_id",
                                       k=8, bands=3)


def test_minhash_incremental_unpersists_derived_band_tables(spark):
    """One-shot calls derive + persist band tables internally; they
    must be released before returning — repeated calls may not
    accumulate cached band tables (only the small checkpointed results
    remain, one per call)."""
    from etl_excel_to_hyper_tableau_spark.operators.dedup import (
        minhash_incremental_candidates,
    )
    sc = spark.sparkContext

    def n_cached():
        return sc._jsc.sc().getPersistentRDDs().size()

    new = spark.createDataFrame(
        [(1, "aaa bbb ccc ddd eee fff")], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(2, "aaa bbb ccc ddd eee fff"), (3, "zzz yyy xxx www vvv uuu")],
        "doc_id long, text string")
    base = n_cached()
    for _ in range(3):
        res = minhash_incremental_candidates(new, corpus, "text", "doc_id",
                                             k=8, bands=4)
        assert res.count() >= 1
    # 3 calls × 2 derived band tables = 6 would remain without the
    # unpersist; the checkpointed pair results (≤ 1 per call) may stay
    assert n_cached() - base <= 3


def test_with_simhash_null_text_contract(spark):
    """Cardinality contract: NULL text yields NO output row (the NULL
    signature is filtered — row-for-row equivalent to the historical
    explode→groupBy form); empty/whitespace text hashes the single
    empty token and DOES get a row."""
    from etl_excel_to_hyper_tableau_spark.operators.dedup import with_simhash
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "hello world")],
        "doc_id long, text string")
    rows = {r["id"]: r["simhash"]
            for r in with_simhash(df, "text", "doc_id").collect()}
    assert set(rows) == {2, 3, 4}
    assert all(v is not None for v in rows.values())
    assert rows[2] == rows[3]  # '' and whitespace tokenize identically


def test_minhash_quality_report_perfect_on_exact_dups(spark):
    """Exact duplicates: every truth pair is also an LSH candidate with
    estimate 1.0 — recall 1.0; and identical signatures can't miss."""
    from etl_excel_to_hyper_tableau_spark.operators.dedup import (
        minhash_quality_report,
    )
    base = "the quick brown fox jumps over the lazy dog today again"
    rows = [(1, base), (2, base), (3, base),
            (8, "completely different content about spark plans here"),
            (9, "another unrelated document on parquet footers etc")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = minhash_quality_report(df, "text", "doc_id", n=3, threshold=0.7,
                               k=16, bands=4).collect()[0]
    assert r["n_truth"] == 3            # the (1,2),(1,3),(2,3) clique
    assert r["n_hit"] == 3 and r["recall"] == 1.0
    assert r["n_pred"] >= 3 and 0.0 < r["precision"] <= 1.0


def test_minhash_quality_report_empty_corpus_nulls(spark):
    from etl_excel_to_hyper_tableau_spark.operators.dedup import (
        minhash_quality_report,
    )
    df = spark.createDataFrame([], "doc_id long, text string")
    r = minhash_quality_report(df, "text", "doc_id").collect()[0]
    assert r["n_truth"] == 0 and r["n_pred"] == 0 and r["n_hit"] == 0
    assert r["precision"] is None and r["recall"] is None


def test_simhash_quality_report_planted_pairs(spark):
    """Two near-identical docs (truth AND simhash-close) + one disjoint
    doc: the gauge must count the planted pair on both sides."""
    from etl_excel_to_hyper_tableau_spark.operators.dedup import (
        simhash_quality_report,
    )
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(1, base), (2, base + " x"),
            (3, "zz qq ww ee rr tt yy uu ii oo pp completely different")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = simhash_quality_report(df, "text", "doc_id", n=3, threshold=0.5,
                               max_hamming=10, max_df=None).collect()[0]
    assert r["n_truth"] >= 1 and r["n_hit"] >= 1
    assert r["precision"] is not None and r["recall"] is not None
    assert 0.0 <= r["precision"] <= 1.0 and 0.0 <= r["recall"] <= 1.0


def test_simhash_quality_report_empty_corpus(spark):
    from etl_excel_to_hyper_tableau_spark.operators.dedup import (
        simhash_quality_report,
    )
    df = spark.createDataFrame([], "doc_id long, text string")
    r = simhash_quality_report(df, "text", "doc_id").collect()[0]
    assert (r["n_truth"], r["n_pred"], r["n_hit"]) == (0, 0, 0)
    assert r["precision"] is None and r["recall"] is None


# ---------------------------------------------------------------------------
# sorted-neighborhood blocking
# ---------------------------------------------------------------------------

def test_sorted_neighborhood_matches_reference(spark):
    from etl_excel_to_hyper_tableau_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )
    rows = [(i, k) for i, k in enumerate(
        ["apple", "appel", "apply", "banana", "bananna", "cherry", "date"])]
    df = spark.createDataFrame(rows, "rid long, key string")
    got = {(r["id_a"], r["id_b"], r["dist"]) for r in
           sorted_neighborhood_pairs(df, "key", "rid", window=2).collect()}
    order = sorted(rows, key=lambda r: (r[1], r[0]))  # (key, id) sort
    want = set()
    for i in range(len(order)):
        for j in range(i + 1, min(i + 3, len(order))):
            want.add((order[i][0], order[j][0], j - i))
    assert got == want
    # the typo neighborhood: appel/apple adjacent in sort order
    assert any(a == 1 and b == 0 for a, b, _ in got)


def test_sorted_neighborhood_partitioning_invariant(spark):
    from etl_excel_to_hyper_tableau_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )
    df = spark.range(200).select(
        F.col("id").alias("rid"),
        F.concat(F.lit("k"), (F.col("id") * 37 % 100)).alias("key"))
    a = {tuple(r) for r in sorted_neighborhood_pairs(
        df, "key", "rid", window=3).collect()}
    b = {tuple(r) for r in sorted_neighborhood_pairs(
        df.repartition(11), "key", "rid", window=3).collect()}
    assert a == b
    assert len(a) == 3 * 200 - (1 + 2 + 3)  # n·w minus the tail truncation


def test_sorted_neighborhood_empty_and_validation(spark):
    from etl_excel_to_hyper_tableau_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )
    df = spark.createDataFrame([], "rid long, key string")
    assert sorted_neighborhood_pairs(df, "key", "rid").count() == 0
    with pytest.raises(ValueError):
        sorted_neighborhood_pairs(df, "key", "rid", window=0)
