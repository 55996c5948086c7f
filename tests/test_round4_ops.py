"""Round-4 operators: token-balanced shards, MMR selection, embedding
covariance/whitening, text normalization, cluster representatives."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# balanced_shards
# ---------------------------------------------------------------------------

def test_balanced_shards_serpentine_and_balance(spark):
    from etl_excel_to_hyper_tableau_spark.operators.packing import (
        balanced_shards,
    )
    # heavy-tailed sizes: doc i has i+1 tokens
    rows = [(i, " ".join(["w"] * (i + 1))) for i in range(64)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = balanced_shards(df, "text", "doc_id", n_shards=4).collect()
    by_rank = sorted(out, key=lambda r: r["rank"])
    # rank 1 = largest doc; serpentine: pass 0 deals 0,1,2,3; pass 1
    # deals 3,2,1,0; ...
    assert [r["shard"] for r in by_rank[:8]] == [0, 1, 2, 3, 3, 2, 1, 0]
    # serpentine on sorted sizes: shard token totals within ~1 doc
    totals = {}
    for r in out:
        totals[r["shard"]] = totals.get(r["shard"], 0) + r["n_tokens"]
    assert max(totals.values()) - min(totals.values()) <= 64
    # exact rank: a permutation of 1..64, ordered by size desc
    assert sorted(r["rank"] for r in out) == list(range(1, 65))
    sizes_in_rank_order = [r["n_tokens"] for r in by_rank]
    assert sizes_in_rank_order == sorted(sizes_in_rank_order, reverse=True)


def test_balanced_shards_matches_single_window_formulation(spark):
    """The distributed two-phase rank must equal the naive global
    row_number() OVER (ORDER BY n_tokens DESC, id) row-for-row."""
    from etl_excel_to_hyper_tableau_spark.operators.packing import (
        balanced_shards,
    )
    import random
    rng = random.Random(7)
    rows = [(i, " ".join(["t"] * rng.randint(0, 40))) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: (r["rank"], r["shard"])
           for r in balanced_shards(df, "text", "doc_id", n_shards=8,
                                    num_partitions=7).collect()}
    from pyspark.sql import Window
    naive = (df.selectExpr(
        "doc_id as id",
        "size(filter(split(trim(text), '\\\\s+'), t -> t <> '')) as n_tokens")
        .withColumn("rank", F.row_number().over(
            Window.orderBy(F.desc("n_tokens"), F.asc("id")))))
    for r in naive.collect():
        rank = r["rank"]
        pos = (rank - 1) % 8
        shard = pos if ((rank - 1) // 8) % 2 == 0 else 7 - pos
        assert got[r["id"]] == (rank, shard)


def test_balanced_shards_rejects_bad_n(spark):
    from etl_excel_to_hyper_tableau_spark.operators.packing import (
        balanced_shards,
    )
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="n_shards"):
        balanced_shards(df, "text", "doc_id", n_shards=0)


# ---------------------------------------------------------------------------
# mmr_topk
# ---------------------------------------------------------------------------

def test_mmr_prefers_diverse_over_redundant(spark):
    """Two near-duplicate vectors in cluster A plus one equally
    relevant vector in cluster B, query between the clusters: plain
    top-2 takes both near-duplicates; MMR with lam=0.5 takes one from
    each cluster."""
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        mmr_topk, topk_cosine_batch,
    )
    q = [1.0, 1.0]
    rows = [(1, [1.0, 0.2]), (2, [1.0, 0.21]),   # cluster A (near-dups)
            (4, [0.2, 1.0])]                      # cluster B
    df = spark.createDataFrame(rows, "id long, emb array<double>")
    qs = spark.createDataFrame([(0, q)], "qid long, qv array<double>")
    plain = [r["id"] for r in
             topk_cosine_batch(df, qs, "emb", "id", "qv", "qid", k=2).collect()]
    assert set(plain) == {1, 2}             # redundant pair wins on rel
    sel = mmr_topk(df, "emb", "id", q, k=2, lam=0.5).collect()
    ids = [r["id"] for r in sorted(sel, key=lambda r: r["rank"])]
    assert ids[0] == 2 and ids[1] == 4      # diversity kicks in


def test_mmr_rank1_is_plain_argmax_and_scores_decrease_sanely(spark):
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        mmr_topk,
    )
    rows = [(i, [float(i % 5 + 1), float(i % 3)]) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, emb array<double>")
    out = mmr_topk(df, "emb", "id", [1.0, 0.2], k=4, lam=0.7).collect()
    out = sorted(out, key=lambda r: r["rank"])
    assert [r["rank"] for r in out] == [1, 2, 3, 4]
    assert len({r["id"] for r in out}) == 4      # no repeats
    # rank 1 carries no redundancy penalty: mmr_score == lam * relevance
    assert out[0]["mmr_score"] == pytest.approx(0.7 * out[0]["relevance"])


def test_mmr_k_larger_than_corpus(spark):
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        mmr_topk,
    )
    df = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])],
                               "id long, emb array<double>")
    out = mmr_topk(df, "emb", "id", [1.0, 0.0], k=5, lam=0.7).collect()
    assert len(out) == 2


# ---------------------------------------------------------------------------
# embedding_covariance / embedding_whiten
# ---------------------------------------------------------------------------

def _np_cov(mat):
    mu = mat.mean(axis=0)
    return (mat - mu).T @ (mat - mu) / mat.shape[0]


def test_embedding_covariance_matches_numpy(spark):
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        embedding_covariance,
    )
    rng = np.random.default_rng(11)
    mat = rng.normal(size=(50, 6))
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(50)],
        "id long, emb array<double>")
    got = {(r["i"], r["j"]): r["cov"]
           for r in embedding_covariance(df, "emb").collect()}
    ref = _np_cov(mat)
    assert len(got) == 6 * 7 // 2
    for (i, j), v in got.items():
        assert i <= j
        assert v == pytest.approx(ref[i, j], abs=1e-8)


def test_embedding_whiten_unit_covariance(spark):
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        embedding_whiten,
    )
    rng = np.random.default_rng(3)
    # anisotropic: stretch one direction 10x
    base = rng.normal(size=(200, 4)) * np.array([10.0, 3.0, 1.0, 0.5])
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(200)],
        "id long, emb array<double>")
    out = embedding_whiten(df, "emb", "id")
    mat = np.array([r["vec"] for r in
                    sorted(out.collect(), key=lambda r: r["id"])])
    cov = _np_cov(mat)
    assert np.allclose(cov, np.eye(4), atol=0.02)


# ---------------------------------------------------------------------------
# normalize_text
# ---------------------------------------------------------------------------

def test_normalize_text_nfc_lower_strip_collapse(spark):
    from etl_excel_to_hyper_tableau_spark.operators.text import (
        normalize_text,
    )
    decomposed = "Café"          # e + combining acute
    composed = "café"             # é, NFC + lower target
    rows = [(1, f"  {decomposed}  Visit HTTPS://Ex.com/a?b=1 now  "),
            (2, "Mail Bob.Smith+x@corp.example.org TODAY"),
            (3, "already clean"),
            (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r for r in
           normalize_text(df, "text", "doc_id").collect()}
    assert got[1]["text"] == f"{composed} visit now"
    assert got[1]["changed"] is True
    assert got[2]["text"] == "mail today"
    assert got[3]["text"] == "already clean"
    assert got[3]["changed"] is False
    # NULL text stays NULL; NULL == NULL (null-safe) -> unchanged
    assert got[4]["text"] is None and got[4]["changed"] is False


def test_normalize_text_nfc_collapses_dedup_keys(spark):
    """The reason NFC exists in the pass: composed and decomposed
    spellings of the same word must normalize to one key."""
    from etl_excel_to_hyper_tableau_spark.operators.text import (
        normalize_text,
    )
    df = spark.createDataFrame(
        [(1, "Café"), (2, "Café")], "doc_id long, text string")
    texts = {r["text"] for r in
             normalize_text(df, "text", "doc_id").collect()}
    assert texts == {"café"}


# ---------------------------------------------------------------------------
# cluster_representatives
# ---------------------------------------------------------------------------

def test_cluster_representatives_elects_highest_quality(spark):
    from etl_excel_to_hyper_tableau_spark.operators.dedup import (
        cluster_representatives,
    )
    # docs 1-3 near-identical (one cluster); 2 is "best" via an
    # explicit quality column; docs 8-9 a second cluster, tie on
    # quality -> smaller id (8) wins
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(1, base + " x", 0.2), (2, base + " y", 0.9),
            (3, base + " z", 0.5),
            (8, "completely different text about spark shuffles here ok", 0.4),
            (9, "completely different text about spark shuffles here yes", 0.4),
            (50, "a singleton unlike anything else entirely", 1.0)]
    df = spark.createDataFrame(rows, "doc_id long, text string, q double")
    out = {r["cluster_id"]: r for r in cluster_representatives(
        df, "text", "doc_id", quality=F.col("q"),
        threshold=0.5, max_df=100).collect()}
    assert set(out) == {1, 8}            # singletons omitted
    assert out[1]["rep_doc_id"] == 2 and out[1]["n_docs"] == 3
    assert out[8]["rep_doc_id"] == 8 and out[8]["n_docs"] == 2
    assert out[1]["rep_quality"] == pytest.approx(0.9)


# ---------------------------------------------------------------------------
# content_chunks (content-defined chunking)
# ---------------------------------------------------------------------------

def test_content_chunks_tile_documents_exactly(spark):
    from etl_excel_to_hyper_tableau_spark.operators.text import (
        content_chunks,
    )
    rows = [(1, "hello world this is a longer document with repeated text "
                "hello world this is"),
            (2, "tiny"), (3, ""), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = content_chunks(df, "text", "doc_id", k=8, mask_bits=3).collect()
    by = {}
    for r in out:
        by.setdefault(r["id"], []).append(r)
    assert set(by) == {1, 2}          # empty/NULL docs emit nothing
    for i, ch in by.items():
        ch = sorted(ch, key=lambda r: r["chunk_idx"])
        assert ch[0]["start_char"] == 1
        for a, b in zip(ch, ch[1:]):
            assert b["start_char"] == a["start_char"] + a["length"]
        assert sum(r["length"] for r in ch) == len(rows[i - 1][1])
        assert all(r["length"] >= 1 for r in ch)


def test_content_chunks_boundaries_survive_prefix_insertion(spark):
    """THE content-defined property (and why fixed-offset chunking
    loses): inserting text near the front shifts only the chunks it
    touches — the suffix's chunk hashes are unchanged, so block-level
    dedup still matches them."""
    from etl_excel_to_hyper_tableau_spark.operators.text import (
        content_chunks,
    )
    base = ("the quick brown fox jumps over the lazy dog while the "
            "cat watches from a warm windowsill nearby every single "
            "afternoon in summer and sometimes in early autumn too")
    shifted = "INSERTED PREFIX " + base
    df = spark.createDataFrame([(1, base), (2, shifted)],
                               "doc_id long, text string")
    out = content_chunks(df, "text", "doc_id", k=8, mask_bits=3).collect()
    h1 = [r["chunk_hash"] for r in sorted(
        (r for r in out if r["id"] == 1), key=lambda r: r["chunk_idx"])]
    h2 = [r["chunk_hash"] for r in sorted(
        (r for r in out if r["id"] == 2), key=lambda r: r["chunk_idx"])]
    # the tail chunks re-align: a long common suffix of chunk hashes
    common_suffix = 0
    for a, b in zip(reversed(h1), reversed(h2)):
        if a != b:
            break
        common_suffix += 1
    assert common_suffix >= max(1, len(h1) - 2), (h1, h2)


# ---------------------------------------------------------------------------
# epoch upsampling (data-recipe repetition)
# ---------------------------------------------------------------------------

def test_upsample_epochs_integer_and_fractional(spark):
    from etl_excel_to_hyper_tableau_spark.operators.sampling import (
        upsample_epochs,
    )
    rows = [(i, "a" if i < 40 else "b") for i in range(80)]
    df = spark.createDataFrame(rows, "id long, src string")
    out = upsample_epochs(df, "id", "src", {"a": 2.0, "b": 0.5}).collect()
    a = [r for r in out if r["src"] == "a"]
    b = [r for r in out if r["src"] == "b"]
    # integer factor: exactly 2 copies of every 'a' row, epochs 0 and 1
    assert len(a) == 80
    assert sorted({r["epoch"] for r in a}) == [0, 1]
    # fractional 0.5: a strict subset of 'b' rows, each exactly once
    b_ids = [r["id"] for r in b]
    assert len(b_ids) == len(set(b_ids))
    assert 0 < len(b_ids) < 40
    assert all(r["epoch"] == 0 for r in b)


def test_upsample_epochs_deterministic_and_default(spark):
    from etl_excel_to_hyper_tableau_spark.operators.sampling import (
        upsample_epochs,
    )
    df = spark.createDataFrame([(i, "x") for i in range(30)],
                               "id long, src string")
    # default factor 1.0: identity replica set
    out1 = upsample_epochs(df, "id", "src", {"other": 3.0}).collect()
    assert sorted((r["id"], r["epoch"]) for r in out1) == [
        (i, 0) for i in range(30)]
    # fractional membership is stable across runs and repartitionings
    f1 = {r["id"] for r in
          upsample_epochs(df, "id", "src", {"x": 1.5}).collect()
          if r["epoch"] == 1}
    f2 = {r["id"] for r in
          upsample_epochs(df.repartition(7), "id", "src", {"x": 1.5})
          .collect() if r["epoch"] == 1}
    assert f1 == f2


def test_upsample_epochs_rejects_negative(spark):
    from etl_excel_to_hyper_tableau_spark.operators.sampling import (
        upsample_epochs,
    )
    df = spark.createDataFrame([(1, "a")], "id long, src string")
    with pytest.raises(ValueError):
        upsample_epochs(df, "id", "src", {"a": -0.1})


# ---------------------------------------------------------------------------
# web curation: domain parse, blocklist, per-domain cap
# ---------------------------------------------------------------------------

def test_extract_domain_forms(spark):
    from etl_excel_to_hyper_tableau_spark.operators.web import (
        extract_domain,
    )
    urls = [
        ("https://Example.COM/path?q=1", "example.com"),
        ("http://user:pw@sub.host.org:8080/x", "sub.host.org"),
        ("ftp://files.example.net", "files.example.net"),
        ("bare-host.io/path#frag", "bare-host.io"),
        ("https://example.com", "example.com"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in urls], "url string")
    got = [r["d"] for r in
           df.select(extract_domain(F.col("url")).alias("d")).collect()]
    assert got == [d for _, d in urls]


def test_blocklist_filter_suffix_and_dataframe(spark):
    from etl_excel_to_hyper_tableau_spark.operators.web import (
        blocklist_filter,
    )
    df = spark.createDataFrame(
        [(1, "example.com"), (2, "ads.example.com"), (3, "examples.com"),
         (4, "ok.org")], "id long, domain string")
    # literal list, suffix match: subdomains blocked, look-alike kept
    kept = {r["id"] for r in
            blocklist_filter(df, "domain", ["example.com"]).collect()}
    assert kept == {3, 4}
    # DataFrame blocklist (broadcast anti-join) agrees
    bl = spark.createDataFrame([("example.com",)], "domain string")
    kept2 = {r["id"] for r in blocklist_filter(df, "domain", bl).collect()}
    assert kept2 == {3, 4}
    # exact-only mode keeps the subdomain
    kept3 = {r["id"] for r in
             blocklist_filter(df, "domain", ["example.com"],
                              suffix_match=False).collect()}
    assert kept3 == {2, 3, 4}


def test_domain_cap_exact_and_prefilter_agree(spark):
    from etl_excel_to_hyper_tableau_spark.operators.web import domain_cap
    rows = ([(i, "hot.com") for i in range(200)]
            + [(i + 1000, "cold.com") for i in range(3)])
    df = spark.createDataFrame(rows, "id long, domain string")
    exact = domain_cap(df, "domain", "id", cap=10)
    pre = domain_cap(df, "domain", "id", cap=10, approx_prefilter=True)
    ex = sorted((r["domain"], r["id"], r["domain_rank"])
                for r in exact.collect())
    # caps respected; under-cap domain kept whole
    assert sum(1 for d, _, _ in ex if d == "hot.com") == 10
    assert sum(1 for d, _, _ in ex if d == "cold.com") == 3
    # the prefilter keeps the SAME survivors (same salt, same hash order;
    # 1.25x safety factor retains every row the exact rank would keep)
    assert ex == sorted((r["domain"], r["id"], r["domain_rank"])
                        for r in pre.collect())


# ---------------------------------------------------------------------------
# DSIR importance weights
# ---------------------------------------------------------------------------

def test_dsir_weights_ranks_target_like_docs_higher(spark):
    from etl_excel_to_hyper_tableau_spark.operators.sampling import (
        dsir_weights,
    )
    tgt = "alpha beta gamma delta alpha beta gamma delta"
    off = "zig zag zip zap zig zag zip zap"
    rows = ([(i, tgt, True) for i in range(10)]          # target domain
            + [(100 + i, off, False) for i in range(10)]  # raw-only
            + [(200, tgt, False),                        # target-LIKE raw doc
               (201, off, False)])                       # off-domain raw doc
    df = spark.createDataFrame(rows, "id long, text string, t boolean")
    out = {r["id"]: r for r in
           dsir_weights(df, "text", "id", F.col("t")).collect()}
    # the target-like raw document outranks the off-domain one
    assert out[200]["log_w"] > out[201]["log_w"]
    # weights are a pure function of content: identical docs tie exactly
    assert out[200]["log_w"] == out[0]["log_w"]
    assert out[200]["n_grams"] == 7
    assert out[0]["is_t"] and not out[200]["is_t"]


def test_dsir_weights_deterministic_under_repartition(spark):
    from etl_excel_to_hyper_tableau_spark.operators.sampling import (
        dsir_weights,
    )
    rows = [(i, f"w{i % 5} w{(i + 1) % 7} w{i % 3} common tail", i % 2 == 0)
            for i in range(60)]
    df = spark.createDataFrame(rows, "id long, text string, t boolean")
    a = sorted((r["id"], r["log_w"]) for r in
               dsir_weights(df, "text", "id", F.col("t")).collect())
    b = sorted((r["id"], r["log_w"]) for r in
               dsir_weights(df.repartition(13), "text", "id",
                            F.col("t")).collect())
    assert a == b  # sorted-bucket fold: bit-identical, any partitioning


# ---------------------------------------------------------------------------
# soft dedup (reweight, don't remove)
# ---------------------------------------------------------------------------

def test_soft_dedup_weights_clusters_and_singletons(spark):
    from etl_excel_to_hyper_tableau_spark.operators.dedup import (
        soft_dedup_weights,
    )
    dup = ("the same exact paragraph repeated verbatim across shards "
           "with enough tokens to form shingles")
    uniq = "completely different content lives here with its own words"
    df = spark.createDataFrame(
        [(1, dup), (2, dup), (3, dup), (9, uniq)], "id long, text string")
    out = {r["doc_id"]: r for r in
           soft_dedup_weights(df, "text", "id", threshold=0.8).collect()}
    assert set(out) == {1, 2, 3, 9}        # nothing removed
    for i in (1, 2, 3):
        assert out[i]["cluster_size"] == 3
        assert out[i]["weight"] == pytest.approx(1 / 3)
        assert out[i]["cluster_id"] == 1   # min-id label
    assert out[9]["cluster_id"] is None
    assert out[9]["weight"] == 1.0
    # effective corpus = one copy of the dup + the unique doc
    eff = sum(r["effective_tokens"] for r in out.values())
    n_dup = out[1]["n_tokens"]
    assert eff == pytest.approx(n_dup + out[9]["n_tokens"])


# ---------------------------------------------------------------------------
# vocab drift + corpus data card
# ---------------------------------------------------------------------------

def test_vocab_drift_flags_shifted_tokens(spark):
    from etl_excel_to_hyper_tableau_spark.operators.text import vocab_drift
    a = spark.createDataFrame(
        [(1, "common common oldword"), (2, "common oldword common")],
        "id long, text string")
    b = spark.createDataFrame(
        [(3, "common common newword"), (4, "newword common common")],
        "id long, text string")
    out = {r["token"]: r for r in vocab_drift(a, b, "text", top=10).collect()}
    # the appearing/disappearing tokens top the report
    assert out["oldword"]["cnt_b"] == 0 and out["oldword"]["p"] > 0
    assert out["newword"]["cnt_a"] == 0 and out["newword"]["q"] > 0
    # a token with identical shares drifts zero and contributes no JS
    assert out["common"]["js_term"] == pytest.approx(0.0)
    # JS contributions are non-negative and finite at the boundary
    assert all(r["js_term"] >= 0 for r in out.values())


def test_vocab_drift_identical_snapshots_zero(spark):
    from etl_excel_to_hyper_tableau_spark.operators.text import vocab_drift
    d = spark.createDataFrame([(1, "x y z"), (2, "x y")],
                              "id long, text string")
    out = vocab_drift(d, d, "text", top=10).collect()
    assert all(r["js_term"] == pytest.approx(0.0) for r in out)
    assert all(r["p"] == r["q"] for r in out)


def test_corpus_summary_math(spark):
    import math
    from etl_excel_to_hyper_tableau_spark.operators.quality import (
        corpus_summary,
    )
    df = spark.createDataFrame(
        [(1, "a b c", "en", "s1"), (2, "d e", "en", "s1"),
         (3, "f g h i", "de", "s2"), (4, "j", "en", "s1")],
        "id long, text string, lang string, source string")
    row = corpus_summary(df, "text", "lang", "source").collect()[0]
    assert row["n_docs"] == 4 and row["n_tokens"] == 10
    assert row["avg_doc_tokens"] == pytest.approx(2.5)
    assert row["n_langs"] == 2 and row["n_sources"] == 2
    # entropy of the (3/4, 1/4) language mix
    exp = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert row["lang_entropy"] == pytest.approx(exp, abs=1e-9)
    assert row["top_source_share"] == pytest.approx(0.75)


def test_dup_ngram_stats_counts(spark):
    from etl_excel_to_hyper_tableau_spark.operators.text import (
        dup_ngram_stats,
    )
    df = spark.createDataFrame(
        [(1, "a b c d", "s1"), (2, "a b c d", "s1"),  # exact repeat
         (3, "x y z", "s1"),                           # too short for n=3+1
         (4, "p q r s t", "s2"),
         (5, None, "s1"),                 # NULL text: no grams
         (6, "x y", "s2"),                # fewer than n tokens: no grams
         (7, "café über straße naïve", "s3"),
         (8, "café über straße", "s3"),   # repeats doc 7's first gram
         (9, None, "s4"), (10, "é ü", "s4")],  # a group with no grams
        "id long, text string, src string")
    out = {r["src"]: r for r in
           dup_ngram_stats(df, "text", "src", n=3).collect()}
    assert set(out) == {"s1", "s2", "s3"}
    # s1: docs 1+2 contribute 2x ('a b c','b c d'), doc 3 one gram
    assert out["s1"]["total_ngrams"] == 5
    assert out["s1"]["distinct_ngrams"] == 3
    assert out["s1"]["dup_frac"] == pytest.approx(1 - 3 / 5)
    # s2: 3 grams, all unique
    assert out["s2"]["total_ngrams"] == 3
    assert out["s2"]["dup_frac"] == 0.0
    # s3: 'café über straße' twice + 'über straße naïve' once
    assert out["s3"]["total_ngrams"] == 3
    assert out["s3"]["distinct_ngrams"] == 2
    assert out["s3"]["dup_frac"] == pytest.approx(1 - 2 / 3)


def test_training_order_is_a_permutation_and_stable(spark):
    from etl_excel_to_hyper_tableau_spark.operators.packing import (
        training_order,
    )
    df = spark.createDataFrame([(i,) for i in range(100)], "id long")
    out = training_order(df, "id", n_shards=4).collect()
    ranks = sorted(r["rank"] for r in out)
    assert ranks == list(range(1, 101))        # a true permutation
    # shards are round-robin: each holds 25 rows, positions 0..24
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) == {0, 1, 2, 3}
    assert all(sorted(v) == list(range(25)) for v in by_shard.values())
    # permutation actually decorrelates from id order
    by_rank = [r["id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert by_rank != list(range(100))
    # and is stable under repartitioning
    out2 = training_order(df.repartition(7), "id", n_shards=4).collect()
    assert sorted((r["id"], r["rank"]) for r in out) == \
        sorted((r["id"], r["rank"]) for r in out2)


def test_token_fertility_math(spark):
    from etl_excel_to_hyper_tableau_spark.operators.text import (
        token_fertility,
    )
    # "abcdefgh ij" -> words 2; word_chars 10 -> ceil(10/4)=3 subwords;
    # "x!" -> words 1; word_chars 1 -> 1 subword + 1 punct glyph = 2
    df = spark.createDataFrame(
        [(1, "abcdefgh ij", "en"), (2, "x!", "de")],
        "id long, text string, lang string")
    out = {r["lang"]: r for r in
           token_fertility(df, "text", "lang").collect()}
    assert out["en"]["n_words"] == 2
    assert out["en"]["n_subwords"] == 3
    assert out["en"]["fertility"] == pytest.approx(1.5)
    assert out["de"]["n_words"] == 1
    assert out["de"]["n_subwords"] == 2
    assert out["de"]["chars_per_subword"] == pytest.approx(1.0)


def test_exact_quantiles_matches_sorted_ranks(spark):
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        exact_quantiles,
    )
    import math
    vals = [float(x) for x in [5, 1, 9, 3, 7, 2, 8, 4, 6, 10, 11]]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    out = {r["q"]: (r["rank"], r["value"]) for r in
           exact_quantiles(df, "x", qs=(0.5, 0.9, 1.0)).collect()}
    srt = sorted(vals)
    n = len(vals)
    for q in (0.5, 0.9, 1.0):
        k = math.ceil(q * n)
        assert out[q] == (k, srt[k - 1])
    # empty input -> empty output, stable schema
    empty = exact_quantiles(df.limit(0), "x")
    assert empty.collect() == []
    assert [f.name for f in empty.schema.fields] == ["q", "rank", "value"]


def test_exact_quantiles_rejects_bad_q(spark):
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        exact_quantiles,
    )
    df = spark.createDataFrame([(1.0,)], "x double")
    with pytest.raises(ValueError):
        exact_quantiles(df, "x", qs=(0.0,))


def test_priority_sample_exact_size_and_weight_bias(spark):
    from etl_excel_to_hyper_tableau_spark.operators.sampling import (
        priority_sample,
    )
    # heavy rows weight 100, light rows weight 1 — the heavy half should
    # dominate a k=20 sample out of 200 rows
    rows = [(i, 100.0 if i < 100 else 1.0) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, w double")
    out = priority_sample(df, "id", F.col("w"), k=20).collect()
    assert len(out) == 20
    heavy = sum(1 for r in out if r["id"] < 100)
    assert heavy >= 15                       # strong weight bias
    # zero/negative weights excluded; k larger than survivors truncates
    df2 = spark.createDataFrame([(1, 0.0), (2, -3.0), (3, 2.0)],
                                "id long, w double")
    out2 = priority_sample(df2, "id", F.col("w"), k=10).collect()
    assert [r["id"] for r in out2] == [3]
    # stable under repartitioning
    a = [r["id"] for r in priority_sample(df, "id", F.col("w"), k=20).collect()]
    b = [r["id"] for r in priority_sample(df.repartition(9), "id",
                                          F.col("w"), k=20).collect()]
    assert a == b


def test_corpus_diff_classification(spark):
    from etl_excel_to_hyper_tableau_spark.operators.cdc import corpus_diff
    old = spark.createDataFrame(
        [(1, "same"), (2, "will change"), (3, "gone")],
        "id long, text string")
    new = spark.createDataFrame(
        [(1, "same"), (2, "changed!"), (4, "brand new")],
        "id long, text string")
    out = {r["id"]: r["status"] for r in
           corpus_diff(old, new, "id", "text").collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_robust_anomalies_resist_outlier_mass(spark):
    from etl_excel_to_hyper_tableau_spark.streaming.events import (
        robust_value_anomalies,
    )
    # 20 values near 10 plus two far outliers: the MEDIAN baseline
    # stays ~10 and both outliers flag (a mean/std z would be dragged)
    rows = ([(i, "k", 10.0 + (i % 5) * 0.1) for i in range(20)]
            + [(100, "k", 500.0), (101, "k", -400.0)])
    df = spark.createDataFrame(rows, "id long, key string, v double")
    out = robust_value_anomalies(df, "key", "v", "id", z=3.5).collect()
    flagged = {r["id"] for r in out}
    assert flagged == {100, 101}
    by_id = {r["id"]: r for r in out}
    assert by_id[100]["rscore"] > 0 and by_id[101]["rscore"] < 0
    # constant-majority key (MAD = 0): flags nothing by contract
    const = spark.createDataFrame(
        [(i, "c", 1.0) for i in range(9)] + [(99, "c", 1000.0)],
        "id long, key string, v double")
    assert robust_value_anomalies(const, "key", "v", "id").collect() == []


def test_triangle_stats_census(spark):
    from etl_excel_to_hyper_tableau_spark.operators.graph import (
        triangle_stats,
    )
    # a triangle (1,2,3) + a path tail (3-4); duplicate + reversed
    # edges must not double-count
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (2, 1), (4, 3)],
        "src long, dst long")
    row = triangle_stats(edges).collect()[0]
    assert row["n_nodes"] == 4 and row["n_edges"] == 4
    assert row["n_triangles"] == 1
    # wedges: deg(1)=2, deg(2)=2, deg(3)=3, deg(4)=1 -> 1+1+3+0 = 5
    assert row["n_wedges"] == 5
    assert row["transitivity"] == pytest.approx(3 / 5)
    # wedge-free graph: one edge -> NULL transitivity
    one = spark.createDataFrame([(7, 8)], "src long, dst long")
    r1 = triangle_stats(one).collect()[0]
    assert r1["n_wedges"] == 0 and r1["transitivity"] is None


def test_k_anonymity_report_flags_small_groups(spark):
    from etl_excel_to_hyper_tableau_spark.operators.quality import (
        k_anonymity_report,
    )
    rows = ([(i, 30, "US") for i in range(5)]      # group of 5: safe at k=5
            + [(10, 30, "FR"), (11, 30, "FR")]     # group of 2: violates
            + [(20, 40, "US")])                    # singleton: violates
    df = spark.createDataFrame(rows, "id long, age long, country string")
    out = {(r["age"], r["country"]): r["group_size"] for r in
           k_anonymity_report(df, ["age", "country"], k=5).collect()}
    assert out == {(30, "FR"): 2, (40, "US"): 1}
    with pytest.raises(ValueError):
        k_anonymity_report(df, [], k=5)
    with pytest.raises(ValueError):
        k_anonymity_report(df, ["age"], k=1)


def test_mmr_prune_safe_for_negative_cosines(spark):
    """ADVICE r4 (medium): the prune offset must be 2(1-lam)/lam, not
    (1-lam)/lam — maxsim ranges over [-1, 1], so a candidate whose
    similarity to every selected vector is NEGATIVE gains up to
    (1-lam)·|cos| and can beat the lam·rel_k − (1−lam) winner bound.
    Full-circle 2-d corpus (pairwise cosines down to −1) vs a pure-
    Python unpruned greedy MMR: ids and scores must match exactly."""
    import math
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        mmr_topk,
    )
    q = [1.0, 0.0]
    # 24 unit vectors over the full circle, slightly uneven spacing so
    # no exact score ties; includes strongly anti-correlated pairs
    rows = [(i, [math.cos(0.26 * i + 0.01 * i * i),
                 math.sin(0.26 * i + 0.01 * i * i)]) for i in range(24)]
    df = spark.createDataFrame(rows, "id long, emb array<double>")
    lam, k = 0.7, 5
    out = sorted(mmr_topk(df, "emb", "id", q, k=k, lam=lam).collect(),
                 key=lambda r: r["rank"])

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / (math.sqrt(sum(x * x for x in a))
                      * math.sqrt(sum(y * y for y in b)))

    vecs = dict(rows)
    rel = {i: cos(v, q) for i, v in vecs.items()}
    picked, expect = [], []
    for r in range(k):
        best = None
        for i in sorted(vecs):
            if i in picked:
                continue
            maxsim = max((cos(vecs[i], vecs[j]) for j in picked),
                         default=0.0)
            score = lam * rel[i] - (1.0 - lam) * maxsim
            if best is None or score > best[1] + 1e-12:
                best = (i, score)
        picked.append(best[0])
        expect.append(best)
    assert [r["id"] for r in out] == [i for i, _ in expect]
    for row, (_, score) in zip(out, expect):
        assert row["mmr_score"] == pytest.approx(score, abs=1e-9)
    # the corpus genuinely exercises the negative range
    assert min(cos(vecs[a], vecs[b]) for a in vecs for b in vecs) < -0.9


def test_label_noise_schema_stable_for_string_labels(spark):
    """ADVICE r4 (low): the single-label early return must inherit the
    label column's actual dtype (string here), matching the populated
    path's schema — and the populated path must handle string labels
    (quoted SQL literals)."""
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        label_noise_audit,
    )
    two = spark.createDataFrame(
        [(1, [1.0, 0.0], "pos"), (2, [0.9, 0.1], "pos"),
         (3, [0.0, 1.0], "neg"), (4, [0.8, 0.2], "neg")],
        "id long, emb array<double>, label string")
    full = label_noise_audit(two, "emb", "id", "label")
    one = label_noise_audit(two.where(F.col("label") == "pos"),
                            "emb", "id", "label")
    assert one.schema == full.schema
    assert one.count() == 0
    flagged = {r["id"]: r["nearest_label"] for r in full.collect()}
    assert flagged == {4: "pos"}   # [0.8,0.2] sits in the pos cluster


def test_pq_topk_query_collect_is_guarded(spark):
    """VERDICT r4 wrong-#3: the per-query LUT build driver-collects the
    query frame — an unbounded query set must raise, not materialize."""
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        pq_topk,
    )
    corpus = spark.range(32).select(
        F.col("id"), F.array(*[(F.col("id") * (i + 1) % 7).cast("double")
                               for i in range(8)]).alias("vec"))
    queries = spark.range(5).select(
        F.col("id").alias("qid"),
        F.array(*[(F.col("id") + i).cast("double")
                  for i in range(8)]).alias("qvec"))
    with pytest.raises(ValueError, match="max_queries"):
        pq_topk(corpus, queries, "vec", "id", "qvec", "qid",
                max_queries=4)
    # at the bound it still runs
    out = pq_topk(corpus, queries, "vec", "id", "qvec", "qid", k=3,
                  max_queries=5)
    assert out.groupBy("query_id").count().count() == 5


def test_domain_cap_prefilter_broadcast_join_many_hot_domains(spark):
    """VERDICT r4 wrong-#1: the prefilter threshold must be a broadcast
    JOIN, not a per-hot-domain literal when-chain — with 10⁴ over-cap
    domains the chained expression blew up planning/codegen.  Checks
    (a) BroadcastHashJoin in the physical plan, (b) plan construction
    stays sub-second-ish with 10⁴ hot domains, (c) caps still exact."""
    import time
    from etl_excel_to_hyper_tableau_spark.operators.web import domain_cap
    # 10⁴ domains, 3 docs each, cap=1 → every domain is over-cap
    n_dom, per = 10_000, 3
    df = spark.range(n_dom * per).select(
        F.col("id"),
        F.concat(F.lit("d"), (F.col("id") % n_dom).cast("string"),
                 F.lit(".com")).alias("domain"))
    t0 = time.time()
    out = domain_cap(df, "domain", "id", cap=1, approx_prefilter=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    build_sec = time.time() - t0
    assert build_sec < 10.0, f"plan construction took {build_sec:.1f}s"
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    counts = (out.groupBy("domain").count().agg(F.max("count")).collect())
    assert counts[0][0] == 1


def test_mmr_driver_greedy_equals_cluster_rounds(spark):
    # round 8: the valved driver-side greedy (survivor set collected
    # from ONE TakeOrdered pass) must reproduce the distributed rounds
    # exactly — force the fallback with a tiny valve and compare
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        mmr_topk,
    )

    rows = [(i, [((i * 13 + d * 7) % 11) / 10.0 - 0.4 for d in range(6)])
            for i in range(40)]
    df = spark.createDataFrame(rows, "id long, emb array<double>")
    q = [0.9, 0.1, -0.2, 0.4, 0.0, 0.3]
    local = mmr_topk(df, "emb", "id", q, k=6, lam=0.6).collect()
    cluster = mmr_topk(df, "emb", "id", q, k=6, lam=0.6,
                       max_local=3).collect()
    assert [tuple(r) for r in local] == [tuple(r) for r in cluster]
    assert len(local) == 6


def test_mmr_duplicate_ids_stay_distinct_candidates(spark):
    """Two rows sharing an id must BOTH remain candidates in the
    driver-side greedy (an id-keyed dict silently kept only one)."""
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        mmr_topk,
    )

    rows = [(1, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.6, 0.8])]
    df = spark.createDataFrame(rows, "id long, emb array<double>")
    out = mmr_topk(df, "emb", "id", [1.0, 0.0], k=3, lam=0.5).collect()
    assert len(out) == 3                      # all three rows selected
    assert sorted(r["id"] for r in out) == [1, 1, 2]


def test_mmr_zero_norm_vector_excluded_like_distributed_filter(spark):
    """A zero-norm vector's cosine is NULL (Spark non-ANSI x/0.0), and
    the distributed rounds' `rel >= thr` filter drops NULLs silently —
    the driver-side greedy must apply the SAME exclusion instead of
    crashing on the Python division."""
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        mmr_topk,
    )

    rows = [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "id long, emb array<double>")
    out = mmr_topk(df, "emb", "id", [1.0, 0.0], k=3, lam=0.5).collect()
    assert sorted(r["id"] for r in out) == [1, 3]   # id 2 excluded


def test_mmr_byte_budget_refuses_fat_vectors(spark):
    """round 9: max_local is a ROW valve; the byte budget must refuse
    when even the k selected vectors (dim known from query_vec) exceed
    max_local_bytes — the output itself lives driver-side."""
    import pytest

    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        mmr_topk,
    )

    dim = 1000
    rows = [(i, [float((i + d) % 7) for d in range(dim)])
            for i in range(4)]
    df = spark.createDataFrame(rows, "id long, emb array<double>")
    q = [1.0] * dim
    # 3 rows x (1000*8+48) B > 10_000 B budget -> refuse
    with pytest.raises(ValueError, match="max_local_bytes"):
        mmr_topk(df, "emb", "id", q, k=3, max_local_bytes=10_000)
    # a budget that admits k rows but shrinks the prefix below the
    # corpus only changes the PATH (cluster rounds), never the values
    full = mmr_topk(df, "emb", "id", q, k=2).collect()
    tight = mmr_topk(df, "emb", "id", q, k=2,
                     max_local_bytes=3 * (dim * 8 + 48)).collect()
    assert [tuple(r) for r in full] == [tuple(r) for r in tight]


def test_mmr_null_tail_prefix_takes_local_path(spark):
    """round-9 ADVICE: when the collected max_local+1 prefix ends in
    NULL-rel rows, every row beyond it is also NULL (desc ordering puts
    NULLs last) — the non-NULL head IS the complete corpus, so the
    local greedy must run and produce the distributed rounds' values."""
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        mmr_topk,
    )

    rows = [(i, [((i * 13 + d * 7) % 11) / 10.0 - 0.4 for d in range(4)])
            for i in range(6)]
    rows += [(100 + i, [0.0, 0.0, 0.0, 0.0]) for i in range(10)]
    df = spark.createDataFrame(rows, "id long, emb array<double>")
    q = [0.9, 0.1, -0.2, 0.4]
    # n_raw = 16 > max_local = 8, but rows 7..16 of the prefix are
    # NULL-rel: all 6 usable rows are in hand
    tight = mmr_topk(df, "emb", "id", q, k=4, lam=0.6,
                     max_local=8).collect()
    full = mmr_topk(df, "emb", "id", q, k=4, lam=0.6).collect()
    assert [tuple(r) for r in tight] == [tuple(r) for r in full]
    assert len(tight) == 4
