"""Text-analysis operators: language ID, quality, token counts —
deterministic hand-checkable values."""

import pytest
from pyspark.sql import functions as F

from etl_excel_to_hyper_tableau_spark.operators.text import (
    detect_language, quality_features, quality_score,
    text_profile, token_count, word_token_count,
)


def _one(spark, text, col_expr):
    return spark.createDataFrame([(text,)], "t string") \
        .select(col_expr(F.col("t")).alias("v")).collect()[0]["v"]


def test_token_count(spark):
    assert _one(spark, "a b  c", token_count) == 3
    assert _one(spark, "  leading and trailing  ", token_count) == 3
    assert _one(spark, "", token_count) == 0


def test_word_token_count_prose_approx(spark):
    # 8 word chars pooled → ceil(8/4)=2 subtokens; "," is 1 glyph
    assert _one(spark, "hello, yes", word_token_count) == 2 + 1
    assert _one(spark, "", word_token_count) == 0


def test_detect_language(spark):
    en = "the cat and the dog sat in the house that is for it with"
    es = "el perro y la casa de que un los del por en"
    de = "der hund und die katze von zu mit den ist im das"
    xx = "zzz qqq www rrr ttt"
    assert _one(spark, en, detect_language) == "en"
    assert _one(spark, es, detect_language) == "es"
    assert _one(spark, de, detect_language) == "de"
    assert _one(spark, xx, detect_language) == "und"


def test_quality_features_exact(spark):
    f = _one(spark, "Hello World 42", quality_features)
    assert f["n_chars"] == 14 and f["n_tokens"] == 3
    assert f["mean_token_len"] == pytest.approx(12 / 3)
    assert f["digit_ratio"] == pytest.approx(2 / 14)
    assert f["upper_ratio"] == pytest.approx(2 / 10)
    assert f["punct_ratio"] == 0.0


def test_quality_score_bounds_and_ordering(spark):
    good = ("the quick brown fox jumps over the lazy dog and that is "
            "a fine thing for it to do with great joy in the sun")
    bad = "@#$% ^&*! ~~~"
    gs, bs = _one(spark, good, quality_score), _one(spark, bad, quality_score)
    assert 0.0 <= bs < gs <= 1.0


def test_text_profile_shape(spark):
    df = spark.createDataFrame([(1, "the quick brown fox")],
                               "doc_id long, text string")
    out = text_profile(df, "text", "doc_id")
    assert out.columns == ["id", "lang_detected", "quality", "n_tokens",
                           "n_subtokens", "fingerprint"]
    r = out.collect()[0]
    assert r["n_tokens"] == 4 and r["id"] == 1


def test_clean_corpus_gates(spark):
    from etl_excel_to_hyper_tableau_spark.operators.text import clean_corpus

    good = ("the quick brown fox jumps over the lazy dog and that is "
            "a fine thing for it to do with great joy in the sun")
    short = "too short"
    junk = "@#$% ^&*! ~~~ @#$% ^&*! ~~~ @#$% ^&*! ~~~ " * 3
    repetitive = "spam ham " * 40  # dup_bigram_frac near 1
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, junk), (4, repetitive)],
        "doc_id long, text string")
    out = clean_corpus(df, "text", "doc_id", min_quality=0.4,
                       min_tokens=20, max_tokens=2000, max_dup_bigram=0.2)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {1}
    assert rows[1]["quality"] >= 0.4 and rows[1]["n_tokens"] >= 20
    assert rows[1]["dup_bigram_frac"] <= 0.2


# ---------------------------------------------------------------------------
# chunking + unigram surprisal
# ---------------------------------------------------------------------------

def test_chunk_documents_values(spark):
    from etl_excel_to_hyper_tableau_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x"), (3, "   ")],
        "doc_id long, t string")
    rows = (chunk_documents(df, "t", "doc_id", chunk_tokens=4, overlap=2)
            .orderBy("doc_id", "start_token").collect())
    # doc 1: 7 tokens, step 2 → starts 0,2,4,6
    got = [(r.doc_id, r.chunk_idx, r.start_token, r.n_tokens, r.chunk_text)
           for r in rows]
    assert got == [
        (1, 0, 0, 4, "a b c d"),
        (1, 1, 2, 4, "c d e f"),
        (1, 2, 4, 3, "e f g"),
        (1, 3, 6, 1, "g"),
        (2, 0, 0, 1, "x"),          # short doc → one short chunk
    ]                                # doc 3 (zero tokens) emits nothing


def test_chunk_documents_covers_every_token(spark):
    """Every token position of every doc appears in ≥1 chunk, and
    consecutive chunks overlap by exactly `overlap` (except the tail)."""
    from etl_excel_to_hyper_tableau_spark.operators.text import chunk_documents

    text = " ".join(f"t{i}" for i in range(57))
    df = spark.createDataFrame([(1, text)], "doc_id long, t string")
    rows = (chunk_documents(df, "t", "doc_id", chunk_tokens=16, overlap=4)
            .orderBy("start_token").collect())
    covered = set()
    for r in rows:
        covered |= set(range(r.start_token, r.start_token + r.n_tokens))
    assert covered == set(range(57))
    starts = [r.start_token for r in rows]
    assert starts == list(range(0, 57, 12))


def test_chunk_documents_rejects_bad_overlap(spark):
    from etl_excel_to_hyper_tableau_spark.operators.text import chunk_documents

    df = spark.createDataFrame([(1, "a b")], "doc_id long, t string")
    with pytest.raises(ValueError):
        chunk_documents(df, "t", "doc_id", chunk_tokens=4, overlap=4)


def test_chunk_documents_plan_is_shuffle_free(spark):
    """The chunker must pipeline inside the scan stage: no Exchange."""
    import contextlib
    import io
    from etl_excel_to_hyper_tableau_spark.operators.text import chunk_documents

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, t string")
    out = chunk_documents(df, "t", "doc_id", chunk_tokens=4, overlap=2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    assert "Exchange" not in buf.getvalue()


def test_unigram_surprisal_hand_values(spark):
    from etl_excel_to_hyper_tableau_spark.operators.text import unigram_surprisal

    # corpus: the=3, cat=2, rare=1  → N=6, bin(6)='110' len 3
    # bits(the)=3-2=1, bits(cat)=3-2=1, bits(rare)=3-1=2
    df = spark.createDataFrame(
        [(1, "the cat"), (2, "the cat rare"), (3, "the")],
        "doc_id long, t string")
    rows = {r.doc_id: r for r in unigram_surprisal(df, "t", "doc_id").collect()}
    assert rows[1].n_tokens == 2 and rows[1].total_bits == 1 + 1
    assert rows[2].n_tokens == 3 and rows[2].total_bits == 1 + 1 + 2
    assert rows[3].n_tokens == 1 and rows[3].total_bits == 1
    assert rows[2].mean_bits == pytest.approx(4 / 3)


def test_unigram_surprisal_rare_scores_higher(spark):
    """A doc of corpus-unique gibberish must out-score typical prose."""
    from etl_excel_to_hyper_tableau_spark.operators.text import unigram_surprisal

    common = "the quick brown fox jumps over the lazy dog " * 4
    rows = spark.createDataFrame(
        [(i, common) for i in range(10)] + [(99, "zxqv wkjh pqrs mnbv")],
        "doc_id long, t string")
    out = {r.doc_id: r.mean_bits
           for r in unigram_surprisal(rows, "t", "doc_id").collect()}
    assert out[99] > out[0]


def test_bm25_scores_match_reference_formula(spark):
    import math
    from etl_excel_to_hyper_tableau_spark.operators.text import bm25_scores
    corpus = [(1, "spark joins data fast spark"),
              (2, "slow scan of data"),
              (3, "nothing relevant here"),
              (4, "spark spark spark streams")]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {r["id"]: (r["n_terms_hit"], r["score"])
           for r in bm25_scores(df, "text", "doc_id",
                                ["spark", "data"]).collect()}
    assert set(got) == {1, 2, 4}  # doc 3 hits nothing

    # independent reference computation
    docs = {i: t.lower().split() for i, t in corpus}
    N = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / N
    k1, b = 1.2, 0.75

    def ref(i):
        s = 0.0
        for term in sorted(["spark", "data"]):
            tf = docs[i].count(term)
            if tf == 0:
                continue
            dfq = sum(1 for t in docs.values() if term in t)
            idf = math.log(1 + (N - dfq + 0.5) / (dfq + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(docs[i]) / avgdl))
        return s

    for i in (1, 2, 4):
        assert abs(got[i][1] - ref(i)) < 1e-12, (i, got[i][1], ref(i))
    assert got[1][0] == 2 and got[2][0] == 1 and got[4][0] == 1


def test_vocab_topk_rank_and_ties(spark):
    from etl_excel_to_hyper_tableau_spark.operators.text import vocab_topk
    df = spark.createDataFrame(
        [(1, "b a a"), (2, "c b A")], "doc_id long, text string")
    rows = vocab_topk(df, "text", "doc_id", top=2).collect()
    got = [(r["rank"], r["token"], r["tf"], r["df"]) for r in
           sorted(rows, key=lambda r: r["rank"])]
    # a: tf=3 (case-folded) df=2; b: tf=2 df=2; c cut by top=2
    assert got == [(1, "a", 3, 2), (2, "b", 2, 2)]


def test_compression_ratio_orders_quality(spark):
    from etl_excel_to_hyper_tableau_spark.operators.text import compression_ratio
    df = spark.createDataFrame(
        [(1, "spam " * 200),                      # templated → compresses hard
         (2, "The quick brown fox jumps over the lazy dog. " * 5),
         (3, "k9$Qz@w8!fLm#2xV&yTj^4uHnRb*6cPd")],  # high entropy
        "doc_id long, text string")
    got = {r["id"]: r for r in compression_ratio(df, "text", "doc_id").collect()}
    assert got[1]["ratio"] < got[2]["ratio"] < got[3]["ratio"]
    assert all(got[i]["n_bytes"] > 0 and got[i]["z_bytes"] > 0 for i in got)
    # deterministic under repartitioning
    again = {r["id"]: r["z_bytes"] for r in
             compression_ratio(df.repartition(5), "text", "doc_id").collect()}
    assert again == {i: got[i]["z_bytes"] for i in got}


def test_bm25_precomputed_corpus_stats_identical(spark):
    from etl_excel_to_hyper_tableau_spark.operators.text import bm25_scores
    corpus = [(1, "spark joins data fast spark"),
              (2, "slow scan of data"),
              (4, "spark spark spark streams")]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    base = {r["id"]: r["score"]
            for r in bm25_scores(df, "text", "doc_id", ["spark", "data"]).collect()}
    n_docs = 3
    sum_dl = sum(len(t.split()) for _, t in corpus)
    pre = {r["id"]: r["score"]
           for r in bm25_scores(df, "text", "doc_id", ["spark", "data"],
                                corpus_stats=(n_docs, sum_dl)).collect()}
    assert pre == base  # bit-identical, one corpus pass fewer


# ---------------------------------------------------------------------------
# winnowing fingerprints
# ---------------------------------------------------------------------------

def test_winnow_common_substring_shares_fingerprint(spark):
    from etl_excel_to_hyper_tableau_spark.operators.text import winnow_fingerprints

    # winnowing guarantee: any common substring of length >= k + w - 1
    # (8 + 6 - 1 = 13) yields at least one shared fingerprint
    common = "sharedsubstring13chars"
    rows = [(0, "prefixAAA " + common + " tailZZZ"),
            (1, "totally different words " + common)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["id"]: set(r["fingerprints"])
           for r in winnow_fingerprints(df, "text", "doc_id").collect()}
    assert out[0] & out[1]


def test_winnow_short_doc_single_fingerprint(spark):
    from etl_excel_to_hyper_tableau_spark.operators.text import winnow_fingerprints

    df = spark.createDataFrame(
        [(0, "abcdefghij"), (1, "abc"), (2, "")], ["doc_id", "text"])
    out = {r["id"]: r for r in
           winnow_fingerprints(df, "text", "doc_id", k=8, w=6).collect()}
    assert out[0]["n_grams"] == 3 and out[0]["n_fps"] == 1  # n <= w → one min
    assert out[1]["n_grams"] == 0 and out[1]["fingerprints"] == []
    assert out[2]["n_grams"] == 0 and out[2]["fingerprints"] == []


def test_winnow_fingerprints_subset_of_gram_hashes(spark):
    from etl_excel_to_hyper_tableau_spark.operators.text import winnow_fingerprints
    from etl_excel_to_hyper_tableau_spark.functions.hashing import (
        char_ngrams, md5_int64)
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"])
    fps = set(winnow_fingerprints(df, "text", "doc_id")
              .collect()[0]["fingerprints"])
    all_hashes = set(df.select(
        F.explode(F.transform(char_ngrams(F.col("text"), 8),
                              lambda g: md5_int64(g))).alias("h"))
        .toPandas()["h"])
    assert fps and fps <= all_hashes


# ---------------------------------------------------------------------------
# bigram LM head
# ---------------------------------------------------------------------------

def test_bigram_lm_counts_and_probabilities(spark):
    from etl_excel_to_hyper_tableau_spark.operators.text import bigram_lm_topk

    rows = [(0, "a b a b a c"), (1, "a b"), (2, "solo"), (3, "")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {(r["w1"], r["w2"]): r
           for r in bigram_lm_topk(df, "text", "doc_id", topk=3).collect()}
    # successors of "a": b (x3: doc0 twice + doc1), c (x1); total 4
    assert out[("a", "b")]["cnt"] == 3 and out[("a", "b")]["w1_total"] == 4
    assert out[("a", "b")]["rank"] == 1 and out[("a", "b")]["p"] == 0.75
    assert out[("a", "c")]["rank"] == 2 and out[("a", "c")]["p"] == 0.25
    # single-token and empty docs contribute no pairs
    assert not any(w1 == "solo" for (w1, _) in out)


def test_bigram_lm_topk_cut_and_tiebreak(spark):
    from etl_excel_to_hyper_tableau_spark.operators.text import bigram_lm_topk

    # w1 "x" has 4 distinct successors, all count 1 → rank by w2 asc, keep 3
    df = spark.createDataFrame([(0, "x d x c x b x a")], ["doc_id", "text"])
    out = bigram_lm_topk(df, "text", "doc_id", topk=3).collect()
    xs = sorted([r["w2"] for r in out if r["w1"] == "x"])
    assert xs == ["a", "b", "c"]


def test_bpe_pair_counts_weighted_by_word_freq(spark):
    from etl_excel_to_hyper_tableau_spark.operators.text import bpe_pair_counts
    df = spark.createDataFrame(
        [(1, "aaab aaab ab"), (2, "aaab x")],
        "id long, text string")
    out = {r["pair"]: r["cnt"]
           for r in bpe_pair_counts(df, "text", "id", topk=10).collect()}
    # 'aaab' occurs 3x (pairs aa, aa, ab each once per occurrence),
    # 'ab' once, 'x' has no pair
    assert out["aa"] == 3 * 2
    assert out["ab"] == 3 + 1
    assert "x" not in out and len(out) == 2


def test_tfidf_topk_prefers_rare_terms(spark):
    from etl_excel_to_hyper_tableau_spark.operators.text import tfidf_topk
    df = spark.createDataFrame(
        [(1, "common rare common"), (2, "common other"), (3, "common third")],
        "id long, text string")
    out = [(r["term"], r["rank"]) for r in
           tfidf_topk(df, "text", "id", k=2).collect() if r["id"] == 1]
    # 'rare' (df=1) outranks 'common' (df=3, idf=0 with N=3: ln(4/4)=0)
    assert out[0][0] == "rare" if out[0][1] == 1 else True
    ranks = {t: k for t, k in out}
    assert ranks["rare"] == 1 and ranks["common"] == 2


def test_doc_novelty_prefix_semantics(spark):
    from etl_excel_to_hyper_tableau_spark.operators.text import doc_novelty
    df = spark.createDataFrame(
        [(1, "a b c"),        # bigrams {a b, b c} first seen here
         (2, "a b x"),        # {a b} seen in doc 1, {b x} novel
         (3, "a b c"),        # all seen before
         (4, "q")],           # no bigrams -> novelty 1.0 by convention
        "id long, text string")
    out = {r["id"]: r for r in doc_novelty(df, "text", "id").collect()}
    assert out[1]["novelty"] == 1.0 and out[1]["n_bigrams"] == 2
    assert out[2]["n_novel"] == 1 and out[2]["novelty"] == 0.5
    assert out[3]["n_novel"] == 0 and out[3]["novelty"] == 0.0
    assert out[4]["n_bigrams"] == 0 and out[4]["novelty"] == 1.0


def _bpe_reference(words, n_merges):
    """Greedy BPE on a weighted word list — the Sennrich reference
    algorithm in plain Python."""
    from collections import Counter
    wc = Counter(words)
    vocab = {w: [ch for ch in w] for w in wc}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for w, syms in vocab.items():
            for x, y in zip(syms, syms[1:]):
                pairs[(x, y)] += wc[w]
        if not pairs:
            break
        # max count, ties toward the lexicographically smaller pair
        (a, b), _c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges


def test_bpe_train_matches_reference(spark):
    from etl_excel_to_hyper_tableau_spark.operators.text import bpe_train
    words = (["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    df = spark.createDataFrame([(0, " ".join(words))], "id long, text string")
    got = bpe_train(df, "text", "id", n_merges=6)
    assert got == _bpe_reference(words, 6)


def test_bpe_train_greedy_left_to_right(spark):
    from etl_excel_to_hyper_tableau_spark.operators.text import bpe_train
    # 'aaab' x3: first merge must be (a,a); greedy application turns
    # 'aaab' into [aa, a, b], so round 2 counts (aa,a) and (a,b) — the
    # reference semantics where overlapping pairs never double-merge
    df = spark.createDataFrame([(0, "aaab aaab aaab")], "id long, text string")
    got = bpe_train(df, "text", "id", n_merges=2)
    assert got == _bpe_reference(["aaab"] * 3, 2)


def test_bpe_apply_matches_reference_tokenization(spark):
    from etl_excel_to_hyper_tableau_spark.operators.text import (
        bpe_apply, bpe_train,
    )
    words = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    train_df = spark.createDataFrame([(0, " ".join(words))],
                                     "id long, text string")
    merges = bpe_train(train_df, "text", "id", n_merges=5)

    def ref_tokenize(text):
        out = []
        for w in text.split():
            syms = [ch for ch in w]
            for a, b in merges:
                res, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        res.append(a + b)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                syms = res
            out.extend(syms)
        return out

    docs = spark.createDataFrame(
        [(1, "newest lower low"), (2, "widest unknown"), (3, "")],
        "id long, text string")
    got = {r["id"]: r for r in bpe_apply(docs, "text", "id", merges).collect()}
    for i, text in [(1, "newest lower low"), (2, "widest unknown"), (3, "")]:
        expect = ref_tokenize(text)
        assert list(got[i]["tokens"]) == expect, (i, got[i]["tokens"], expect)
        assert got[i]["n_tokens"] == len(expect)
    assert got[1]["n_words"] == 3 and got[3]["n_words"] == 0


def test_remove_boilerplate_lines(spark):
    from etl_excel_to_hyper_tableau_spark.operators.text import (
        remove_boilerplate_lines,
    )
    nl = "\n"
    docs = [
        (1, nl.join(["COOKIE BANNER", "real content one", "", "footer"])),
        (2, nl.join(["COOKIE BANNER", "real content two", "footer"])),
        (3, nl.join(["unique document", "COOKIE BANNER"])),
        (4, "all alone"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["id"]: r for r in remove_boilerplate_lines(
        df, "text", "doc_id", min_docs=2).collect()}
    # COOKIE BANNER (3 docs) and footer (2 docs) are boilerplate
    assert out[1]["clean_text"] == nl.join(["real content one", ""])
    assert out[1]["n_kept"] == 2 and out[1]["n_removed"] == 2
    assert out[2]["clean_text"] == "real content two"
    assert out[3]["clean_text"] == "unique document"
    assert out[4]["clean_text"] == "all alone"
    assert out[4]["n_removed"] == 0


def test_remove_boilerplate_lines_frac_and_all_removed(spark):
    from etl_excel_to_hyper_tableau_spark.operators.text import (
        remove_boilerplate_lines,
    )
    df = spark.createDataFrame(
        [(1, "x\nx"), (2, "x"), (3, "y z")],
        "doc_id long, text string")
    # min_frac=0.5 over 3 docs -> threshold ceil(1.5)=2 distinct docs
    out = {r["id"]: r for r in remove_boilerplate_lines(
        df, "text", "doc_id", min_frac=0.5).collect()}
    assert out[1]["clean_text"] == "" and out[1]["n_removed"] == 2
    assert out[2]["clean_text"] == "" and out[2]["n_kept"] == 0
    assert out[3]["clean_text"] == "y z"
