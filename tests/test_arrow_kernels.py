"""Arrow (mapInPandas) kernel ≡ Catalyst-SQL parity for the
corpus-linear string operators (round 11: the sf1 >2× tail moved to
vectorized Python kernels; the SQL forms stay as the engine-portable
reference and BOTH paths must agree bit-for-bit).

The edge corpus is chosen to break a sloppy kernel:
* NULL and empty text (row-emission contracts differ per operator);
* text shorter than the gram size (n_grams = 0 paths);
* exactly gram-sized and exactly window-sized text (boundary ±1);
* non-ASCII multibyte text (CHAR slicing vs byte slicing — the md5 of
  a gram hashes its UTF-8 bytes, but positions/lengths count chars);
* Unicode whitespace (U+00A0) which Java's ``\\s`` does NOT split on —
  the Python tokenizer must keep it inside tokens too;
* tabs/newlines/multi-space runs (Java ``\\s+`` vs str.split parity);
* repeated content (duplicate grams/fingerprints exercise distinct).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_excel_to_hyper_tableau_spark.operators import text as tx

EDGE_ROWS = [
    (0, None, "a"),
    (1, "", "a"),
    (2, "short", "a"),
    (3, "exactly8", "a"),
    (4, "exactly8plus", "b"),
    (5, "the quick brown fox jumps over the lazy dog the quick brown fox",
     "b"),
    (6, "tabs\tand\nnewlines  and   runs of spaces", "b"),
    (7, "café naïve résumé café "
        "münchen straße", "c"),
    (8, "nbsp joined tokens stay glued here", "c"),
    (9, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa", "c"),
    (10, "hash join table scan hash join sort merge fast merge batch "
         "slow filter batch vector", "d"),
    (11, " leading and trailing whitespace   ", "d"),
]


@pytest.fixture(scope="module")
def edge_df(spark):
    return spark.createDataFrame(EDGE_ROWS, "doc_id long, text string, "
                                            "source string")


def _sorted_rows(df, cols):
    return [tuple(r) for r in
            df.select(*cols).orderBy(*df.columns).collect()]


def _assert_same(a, b, cols):
    ra = [tuple(r) for r in a.select(*cols).orderBy(*cols).collect()]
    rb = [tuple(r) for r in b.select(*cols).orderBy(*cols).collect()]
    assert ra == rb


@pytest.mark.parametrize("k,w", [(8, 6), (3, 2), (4, 9)])
def test_winnow_arrow_matches_sql(spark, edge_df, k, w):
    cols = ["id", "n_grams", "n_fps", "fingerprints"]
    a = tx.winnow_fingerprints(edge_df, "text", "doc_id", k=k, w=w,
                               impl="arrow") \
        .withColumn("fingerprints", F.array_join("fingerprints", ","))
    s = tx.winnow_fingerprints(edge_df, "text", "doc_id", k=k, w=w,
                               impl="sql") \
        .withColumn("fingerprints", F.array_join("fingerprints", ","))
    _assert_same(a, s, cols)


@pytest.mark.parametrize("k,mb", [(8, 6), (3, 2)])
def test_content_chunks_arrow_matches_sql(spark, edge_df, k, mb):
    cols = ["id", "chunk_idx", "start_char", "length", "chunk_hash"]
    a = tx.content_chunks(edge_df, "text", "doc_id", k=k, mask_bits=mb,
                          impl="arrow")
    s = tx.content_chunks(edge_df, "text", "doc_id", k=k, mask_bits=mb,
                          impl="sql")
    _assert_same(a, s, cols)


PHRASES = ["batch", "vector", "hash join", "table scan", "sort merge",
           "fast merge batch", "  hash   join  ", "café naïve"]


def test_dictionary_tag_arrow_matches_sql(spark, edge_df):
    cols = ["doc_id", "phrase", "n_hits"]
    a = tx.dictionary_tag(edge_df, "text", "doc_id", PHRASES, impl="arrow")
    s = tx.dictionary_tag(edge_df, "text", "doc_id", PHRASES, impl="sql")
    _assert_same(a, s, cols)
    # the corpus plants real hits — the parity must not be vacuous
    assert a.count() >= 3


def test_arrow_kernels_on_real_corpus(spark, sf_dir):
    """Full-table agreement on the driver's smallest real corpus."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _assert_same(
        tx.winnow_fingerprints(docs, "text", "doc_id", impl="arrow")
          .withColumn("fingerprints", F.array_join("fingerprints", ",")),
        tx.winnow_fingerprints(docs, "text", "doc_id", impl="sql")
          .withColumn("fingerprints", F.array_join("fingerprints", ",")),
        ["id", "n_grams", "n_fps", "fingerprints"])
    _assert_same(
        tx.content_chunks(docs, "text", "doc_id", impl="arrow"),
        tx.content_chunks(docs, "text", "doc_id", impl="sql"),
        ["id", "chunk_idx", "start_char", "length", "chunk_hash"])


def test_pykernels_match_hashing_module(spark):
    """md5_60 / gram_hashes / py_tokens replay the Catalyst column
    functions value-exactly (the primitive-level pin under all kernel
    parity above)."""
    from etl_excel_to_hyper_tableau_spark.functions.pykernels import (
        gram_hashes, md5_60, py_tokens)
    from etl_excel_to_hyper_tableau_spark.functions.hashing import (
        char_ngrams, md5_int64)

    samples = ["abc", "café x", "", "a b", "12345678"]
    df = spark.createDataFrame([(s,) for s in samples], "t string")
    got = df.select(
        md5_int64(F.col("t")).alias("h"),
        F.transform(char_ngrams(F.col("t"), 3),
                    lambda g: md5_int64(g)).alias("gh"),
        tx.tokens(F.col("t")).alias("tk")).collect()
    for s, row in zip(samples, got):
        assert md5_60(s.encode("utf-8")) == row["h"]
        assert list(gram_hashes(s, 3)) == row["gh"]
        assert py_tokens(s) == row["tk"]


JSON_ROWS = [
    (0, '{"k": 5, "tag": "click", "cents": 120}'),
    (1, '{"k": 5, "tag": "view", "cents": 120, "rare": "x"}'),
    (2, '{"k": null, "tag": "click", "cents": -3}'),
    (3, 'not json at all'),
    (4, None),
    (5, '{"k": 123456789012345, "tag": "", "cents": 0}'),
    (6, '{"dup": 1, "dup": 2}'),
    (7, '{"k": true, "tag": "True", "neg": false}'),
    (8, '[1, 2, 3]'),
    (9, '{"k": 5}'),
]


@pytest.mark.parametrize("fuse", [False, True])
def test_json_profile_arrow_matches_sql(spark, fuse):
    from etl_excel_to_hyper_tableau_spark.operators.quality import (
        json_field_profile,
    )
    df = spark.createDataFrame(JSON_ROWS, "i long, j string")
    cols = ["key", "n_present", "n_numeric", "n_distinct"]
    a = json_field_profile(df, "j", approx_ndv=True, fuse_final=fuse,
                           impl="arrow")
    s = json_field_profile(df, "j", approx_ndv=True, fuse_final=fuse,
                           impl="sql")
    _assert_same(a, s, cols)
    assert s.count() >= 5  # keys k/tag/cents/rare/dup/neg — not vacuous


def test_json_profile_arrow_rejects_exact_path(spark):
    from etl_excel_to_hyper_tableau_spark.operators.quality import (
        json_field_profile,
    )
    df = spark.createDataFrame(JSON_ROWS, "i long, j string")
    with pytest.raises(ValueError):
        json_field_profile(df, "j", approx_ndv=False, impl="arrow")


@pytest.mark.parametrize("stats", [None, (12, 400)])
def test_bm25_arrow_matches_sql_bitexact(spark, edge_df, stats):
    """RAW (un-rounded) float equality: the static sorted-order sum
    must replay the SQL fold bit-for-bit, including the +0.0 absent
    terms and the corpus_stats override path."""
    terms = ["the", "hash", "batch", "absentterm"]
    a = tx.bm25_scores(edge_df, "text", "doc_id", terms,
                       corpus_stats=stats, impl="arrow")
    s = tx.bm25_scores(edge_df, "text", "doc_id", terms,
                       corpus_stats=stats, impl="sql")
    _assert_same(a, s, ["id", "n_terms_hit", "score"])
    assert a.count() >= 2


def test_bm25_arrow_real_corpus_bitexact(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    terms = ["spark", "vector", "stream"]
    a = tx.bm25_scores(docs, "text", "doc_id", terms, impl="arrow")
    s = tx.bm25_scores(docs, "text", "doc_id", terms, impl="sql")
    _assert_same(a, s, ["id", "n_terms_hit", "score"])
