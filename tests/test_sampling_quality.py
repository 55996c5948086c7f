"""Tests for the sampling/split operators and the repetition / PII /
keyword text-quality operators (LLM-pipeline extension surface)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_excel_to_hyper_tableau_spark.operators import sampling as sp
from etl_excel_to_hyper_tableau_spark.operators import text as tx
from etl_excel_to_hyper_tableau_spark.operators.dedup import duplicate_clusters


@pytest.fixture(scope="module")
def ids(spark):
    return spark.range(0, 2000).withColumnRenamed("id", "doc_id") \
        .withColumn("lang", F.when(F.col("doc_id") % 4 == 0, "en").otherwise("zh"))


class TestHashSplit:
    def test_total_and_disjoint(self, ids):
        out = sp.hash_split(ids, "doc_id", {"train": .8, "val": .1, "test": .1})
        counts = {r["split"]: r["n"] for r in
                  out.groupBy("split").agg(F.count("*").alias("n")).collect()}
        assert sum(counts.values()) == 2000          # total: every row assigned
        assert set(counts) == {"train", "val", "test"}
        # uniform md5 buckets: loose 3-sigma-ish bands, deterministic data
        assert 1500 < counts["train"] < 1700
        assert 120 < counts["val"] < 280
        assert 120 < counts["test"] < 280

    def test_deterministic_and_partitioning_independent(self, ids):
        out1 = sp.hash_split(ids, "doc_id", {"a": .5, "b": .5}).collect()
        out2 = sp.hash_split(ids.repartition(7), "doc_id", {"a": .5, "b": .5}).collect()
        assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))

    def test_weights_must_sum_to_one(self, ids):
        with pytest.raises(ValueError):
            sp.hash_split(ids, "doc_id", {"a": .5, "b": .6})

    def test_salt_decorrelates(self, ids):
        a = sp.hash_split(ids, "doc_id", {"x": .5, "y": .5}, salt="s1")
        b = sp.hash_split(ids, "doc_id", {"x": .5, "y": .5}, salt="s2")
        both = a.select("doc_id", F.col("split").alias("s_a")).join(
            b.select("doc_id", F.col("split").alias("s_b")), "doc_id")
        agree = both.filter(F.col("s_a") == F.col("s_b")).count()
        assert 800 < agree < 1200  # ~50% agreement if independent


class TestStratifiedSample:
    def test_fractions_respected(self, ids):
        out = sp.stratified_sample(ids, "doc_id", "lang", {"en": .5}, default=.1)
        n_en = out.filter(F.col("lang") == "en").count()
        n_zh = out.filter(F.col("lang") == "zh").count()
        assert 200 < n_en < 300      # 500 en docs * .5
        assert 100 < n_zh < 200      # 1500 zh docs * .1

    def test_monotone_membership(self, ids):
        """A row sampled at fraction f stays sampled at any f' > f (the
        bucket-threshold design) — the property that makes deterministic
        subsample ladders (1% ⊂ 10% ⊂ 100%) possible."""
        small = set(r["doc_id"] for r in
                    sp.stratified_sample(ids, "doc_id", "lang",
                                         {"en": .1, "zh": .1}).collect())
        large = set(r["doc_id"] for r in
                    sp.stratified_sample(ids, "doc_id", "lang",
                                         {"en": .4, "zh": .4}).collect())
        assert small <= large

    def test_sample_to_mixture(self, ids):
        # ids: 500 en / 1500 zh.  Target 50/50 of 400 → keep ~200 of
        # each; en thinned 200/500, zh 200/1500
        out = sp.sample_to_mixture(ids, "doc_id", "lang",
                                   {"en": .5, "zh": .5}, total=400)
        counts = {r["lang"]: r["n"] for r in
                  out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
        assert 150 < counts["en"] < 250 and 150 < counts["zh"] < 250
        # under-represented stratum is kept whole, never upsampled
        out2 = sp.sample_to_mixture(ids, "doc_id", "lang",
                                    {"en": .9, "zh": .1}, total=4000)
        c2 = {r["lang"]: r["n"] for r in
              out2.groupBy("lang").agg(F.count("*").alias("n")).collect()}
        assert c2["en"] == 500          # 0.9*4000=3600 > 500 → keep all
        assert 300 < c2["zh"] < 500     # 0.1*4000=400 of 1500
        # strata absent from the target are dropped
        assert sp.sample_to_mixture(ids, "doc_id", "lang",
                                    {"en": 1.0}, total=100) \
            .filter(F.col("lang") == "zh").count() == 0

    def test_weighted_sample_edges_and_rate(self, ids):
        # w=0 keeps nothing, w=1 keeps everything (floor semantics)
        assert sp.weighted_sample(ids, "doc_id", F.lit(0.0)).count() == 0
        assert sp.weighted_sample(ids, "doc_id", F.lit(1.0)).count() == ids.count()
        # out-of-range weights clamp
        assert sp.weighted_sample(ids, "doc_id", F.lit(7.5)).count() == ids.count()
        # keep rate tracks the weight; deterministic across runs
        half = sp.weighted_sample(ids, "doc_id", F.lit(0.5))
        n = half.count()
        assert 850 < n < 1150        # 2000 ids * 0.5, binomial spread
        again = sp.weighted_sample(ids, "doc_id", F.lit(0.5))
        assert sorted(r["doc_id"] for r in half.collect()) == \
            sorted(r["doc_id"] for r in again.collect())


class TestRepetitionProfile:
    def test_known_fractions(self, spark):
        docs = spark.createDataFrame(
            [(1, "a a a a"),           # 4 tokens, 1 distinct; bigrams: 3x 'a a'
             (2, "w x y z"),           # all distinct
             (3, "hi")],               # single token: no bigrams
            ["doc_id", "text"])
        rows = {r["id"]: r for r in
                tx.repetition_profile(docs, "text", "doc_id").collect()}
        r1 = rows[1]
        assert r1["n_tokens"] == 4
        assert r1["dup_token_frac"] == pytest.approx(0.75)
        assert r1["top_token_frac"] == pytest.approx(1.0)
        assert r1["dup_bigram_frac"] == pytest.approx(2 / 3)
        r2 = rows[2]
        assert r2["dup_token_frac"] == 0.0
        assert r2["top_token_frac"] == pytest.approx(0.25)
        assert r2["dup_bigram_frac"] == 0.0
        assert rows[3]["dup_bigram_frac"] == 0.0  # <2 tokens → defined as 0


class TestPII:
    def test_redaction_and_counts(self, spark):
        df = spark.createDataFrame(
            [(1, "mail bob.smith+x@corp.example.org now"),
             (2, "call +1 555 123 4567 or 555-987-6543 x"),
             (3, "ssn-ish 123456789 and acct 9999999999"),
             (4, "clean text, no pii here")],
            ["id", "t"])
        out = {r["id"]: r for r in df.select(
            "id", tx.pii_counts(F.col("t")).alias("c"),
            tx.pii_redact(F.col("t")).alias("red")).collect()}
        assert out[1]["c"]["email"] == 1 and "<EMAIL>" in out[1]["red"]
        assert "bob" not in out[1]["red"]
        assert out[2]["c"]["phone"] == 2
        assert out[2]["red"].count("<PHONE>") == 2
        assert out[3]["c"]["idnum"] == 2
        assert out[3]["red"].count("<ID>") == 2
        assert out[4]["red"] == "clean text, no pii here"

    def test_email_digits_not_double_redacted(self, spark):
        # digit run inside an email local part ENDING at a word boundary
        # (digit directly before '@') is consumed by the email pattern
        # first — must not leave a stray <ID>, and the idnum count must
        # be 0 because counting runs on the email-redacted text
        df = spark.createDataFrame([(1, "x 123456789@a.io y")], ["id", "t"])
        row = df.select(tx.pii_redact(F.col("t")).alias("r"),
                        tx.pii_counts(F.col("t")).alias("c")).first()
        assert row["r"] == "x <EMAIL> y"
        assert row["c"]["email"] == 1 and row["c"]["idnum"] == 0


class TestKeywordTopk:
    def test_rank_and_df(self, spark):
        docs = spark.createDataFrame(
            [(1, "apple apple banana cherry"),
             (2, "banana banana banana apple"),
             (3, "cherry dates dates")],
            ["doc_id", "text"])
        out = tx.keyword_topk(docs, "text", "doc_id", k=2).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r["id"], []).append((r["rank"], r["token"], r["tf"], r["df"]))
        assert sorted(by_doc[1])[0] == (1, "apple", 2, 2)     # tf wins
        assert sorted(by_doc[2])[0] == (1, "banana", 3, 2)
        assert sorted(by_doc[3]) == [(1, "dates", 2, 1), (2, "cherry", 1, 2)]

    def test_min_len_and_normalization(self, spark):
        docs = spark.createDataFrame([(1, "Go go GO! a an the-cat")], ["doc_id", "text"])
        out = tx.keyword_topk(docs, "text", "doc_id", k=5, min_len=3).collect()
        toks = {r["token"] for r in out}
        # 'go'/'a'/'an' dropped (<3 chars post-normalization); 'the-cat'→'thecat'
        assert toks == {"thecat"}


class TestDuplicateClusters:
    def test_transitive_closure(self, spark):
        base = "the quick brown fox jumps over the lazy dog " * 4
        docs = spark.createDataFrame(
            [(10, base),
             (11, base + "end one"),          # ≈ 10
             (12, base + "end one two"),      # ≈ 11 (and 10)
             (20, "completely different content about spark engines and parquet"),
             (21, "completely different content about spark engines and parquet!"),
             (30, "zzz unrelated singleton document qqq www eee rrr")],
            ["doc_id", "text"])
        out = {r["doc_id"]: r["cluster_id"] for r in
               duplicate_clusters(docs, "text", "doc_id",
                                  threshold=0.7).collect()}
        assert out[10] == out[11] == out[12] == 10   # transitive label = min id
        assert out[20] == out[21] == 20
        assert 30 not in out                          # singleton omitted


class TestPlanProperties:
    """The sampling operators must stay map-only: membership is a pure
    function of the row, so any Exchange in the plan is a regression."""

    def _plan(self, df):
        return df._jdf.queryExecution().executedPlan().toString()

    def test_hash_split_no_shuffle(self, ids):
        p = self._plan(sp.hash_split(ids, "doc_id", {"a": .5, "b": .5}))
        assert "Exchange" not in p

    def test_stratified_sample_no_shuffle(self, ids):
        p = self._plan(sp.stratified_sample(ids, "doc_id", "lang", {"en": .5}))
        assert "Exchange" not in p


def test_negative_pairs_deterministic_and_valid(spark):
    from etl_excel_to_hyper_tableau_spark.operators.sampling import negative_pairs
    df = spark.createDataFrame([(i,) for i in range(1, 51)], "doc_id long")
    a = sorted(map(tuple, negative_pairs(df, "doc_id", k=4).collect()))
    b = sorted(map(tuple, negative_pairs(df.repartition(7), "doc_id", k=4).collect()))
    assert a == b  # partitioning-independent
    ids = set(range(1, 51))
    for i, r, j in a:
        assert j in ids and j != i and 0 <= r < 4
    # dense id space: only self-collisions are lost
    assert len(a) >= 50 * 4 - 50


def test_negative_pairs_sparse_ids_only_join_existing(spark):
    from etl_excel_to_hyper_tableau_spark.operators.sampling import negative_pairs
    df = spark.createDataFrame([(5,), (900,), (901,)], "doc_id long")
    rows = negative_pairs(df, "doc_id", k=8).collect()
    assert all(r["neg_id"] in (5, 900, 901) and r["neg_id"] != r["id"]
               for r in rows)


def test_mixture_weights_sqrt_temperature(spark):
    from pyspark.sql import functions as F
    from etl_excel_to_hyper_tableau_spark.operators.sampling import mixture_weights
    df = spark.createDataFrame(
        [("big", 81), ("small", 9)], "src string, n int")
    out = {r["stratum"]: r
           for r in mixture_weights(df, "src", F.col("n")).collect()}
    assert out["big"]["n_items"] == 81 and out["small"]["n_items"] == 9
    assert out["big"]["share"] == 81 / 90
    # sqrt temperature: weights 9/12 and 3/12
    assert out["big"]["weight"] == 9 / 12
    assert out["small"]["weight"] == 3 / 12
    # tail stratum is boosted above its share, head damped
    assert out["small"]["boost"] > 1 > out["big"]["boost"]
    # weights sum to 1
    assert abs(sum(r["weight"] for r in out.values()) - 1.0) < 1e-12


def test_budget_select_respects_budget_and_quality_order(spark):
    from pyspark.sql import functions as F
    from etl_excel_to_hyper_tableau_spark.operators.sampling import budget_select
    rows = [(1, "a", 5.0, 40), (2, "a", 9.0, 60), (3, "a", 7.0, 50),
            (4, "b", 1.0, 100), (5, "b", 2.0, 80)]
    df = spark.createDataFrame(rows, "id long, src string, q double, n long")
    out = {r["id"]: r for r in
           budget_select(df, "src", F.col("q"), F.col("n"), "id",
                         budget=120).collect()}
    # stratum a: quality order 2(60), 3(50), 1(40) -> cum 60, 110, 150
    assert set(k for k in out if out[k]["stratum"] == "a") == {2, 3}
    assert out[2]["cum_size"] == 60 and out[3]["cum_size"] == 110
    # stratum b: 5(80), 4(100) -> cum 80, 180 -> only 5 kept
    assert set(k for k in out if out[k]["stratum"] == "b") == {5}


def test_split_leakage_counts_cross_split_near_dups(spark):
    from etl_excel_to_hyper_tableau_spark.operators.sampling import (
        split_assignment, split_leakage_report,
    )
    from pyspark.sql import functions as F
    # identical texts -> guaranteed candidate pairs at any threshold
    text = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame([(i, text) for i in range(12)],
                               "doc_id long, text string")
    splits = {"train": 0.5, "test": 0.5}
    rep = {(r["split_a"], r["split_b"]): r["n_pairs"]
           for r in split_leakage_report(df, "text", "doc_id", splits,
                                         k=16, n=3, bands=2,
                                         threshold=0.9).collect()}
    # all 66 pairs of 12 identical docs are candidates; totals add up
    assert sum(rep.values()) == 66
    # the report is consistent with the split assignment itself
    asg = {r["doc_id"]: r["sp"] for r in df.select(
        "doc_id", split_assignment(F.col("doc_id"), splits).alias("sp")
    ).collect()}
    import itertools
    expect = {}
    for a, b in itertools.combinations(sorted(asg), 2):
        key = (asg[a], asg[b])
        expect[key] = expect.get(key, 0) + 1
    assert rep == expect
    # leakage exists iff both splits are populated
    if len(set(asg.values())) == 2:
        assert any(a != b for a, b in rep)


def test_group_split_keeps_cluster_members_together(spark):
    """Members of one group must always share a split; per-row hash
    splitting of the same ids demonstrably violates this (the leakage
    group_split exists to prevent)."""
    from pyspark.sql import functions as F
    from etl_excel_to_hyper_tableau_spark.operators.sampling import (
        group_split, hash_split,
    )
    # 60 docs in 20 clusters of 3 (ids i, i+100, i+200 share cluster i)
    rows = [(i + off, i) for i in range(20) for off in (0, 100, 200)]
    df = spark.createDataFrame(rows, "doc_id long, cluster_id long")
    out = group_split(df, F.col("cluster_id"),
                      {"train": 0.6, "val": 0.2, "test": 0.2})
    per = (out.groupBy("group_key")
           .agg(F.countDistinct("split").alias("ns")).collect())
    assert all(r["ns"] == 1 for r in per)
    # same members split per-ROW id: at least one cluster straddles
    row_split = hash_split(df, "doc_id",
                           {"train": 0.6, "val": 0.2, "test": 0.2})
    per_row = (row_split.groupBy("cluster_id")
               .agg(F.countDistinct("split").alias("ns")).collect())
    assert any(r["ns"] > 1 for r in per_row)


def test_group_split_is_deterministic_and_map_only(spark):
    from pyspark.sql import functions as F
    from etl_excel_to_hyper_tableau_spark.operators.sampling import (
        group_split,
    )
    df = spark.range(500).select(F.col("id").alias("doc_id"),
                                 (F.col("id") % 50).alias("cluster_id"))
    a = group_split(df, F.col("cluster_id"),
                    {"train": 0.8, "val": 0.1, "test": 0.1})
    b = group_split(df.repartition(7), F.col("cluster_id"),
                    {"train": 0.8, "val": 0.1, "test": 0.1})
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # the assignment itself never shuffles
