"""Arrow (mapInPandas) kernel checks: the worker-side primitives
replay the Catalyst hashing/tokenizing columns value-exactly, and
``json_field_profile``'s Arrow kernel (its approx-NDV path) agrees with
its Catalyst form.  The text kernels (winnow, chunking, BM25,
dictionary tagging) have one implementation each; their references are
the Python models in ``test_properties.py`` and the DuckDB oracle
entries in ``test_oracle_parity.py``.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_excel_to_hyper_tableau_spark.operators import text as tx


def _assert_same(a, b, cols):
    ra = [tuple(r) for r in a.select(*cols).orderBy(*cols).collect()]
    rb = [tuple(r) for r in b.select(*cols).orderBy(*cols).collect()]
    assert ra == rb


def test_pykernels_match_hashing_module(spark):
    """md5_60 / gram_hashes / py_tokens replay the Catalyst column
    functions value-exactly (the primitive-level pin under every text
    kernel)."""
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
