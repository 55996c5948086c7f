"""Round-6 fixes: the fixed-point covariance exactness envelope, the
half-away-from-zero driver rounding, and the KMV NULL-key contract."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# _cov_partials exactness envelope (ADVICE r5: the 2^52 guard admitted
# |x| < 2^16 where single hi*hi products exceed 2^53 and go inexact)
# ---------------------------------------------------------------------------

def test_cov_partials_rejects_large_magnitude(spark):
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        embedding_covariance,
    )
    rows = [(i, [2000.0 + i, -1500.0]) for i in range(8)]
    df = spark.createDataFrame(rows, "id long, emb array<double>")
    with pytest.raises(Exception, match="fixed-point"):
        embedding_covariance(df, "emb").collect()


def test_cov_partials_exact_at_envelope_edge(spark):
    # |x| just under 2^9 = 512: himax ~ 2^26, the worst case the new
    # guard admits — verify the distributed split-GEMM kernel against
    # a sequential exact-integer replica of the same quantized math
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        _COV_P72, _COV_SCALE, _round9_half_up, embedding_covariance,
    )
    rng = np.random.default_rng(42)
    n, d = 40, 3
    mat = (rng.random((n, d)) * 2 - 1) * 511.0
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(n)],
        "id long, emb array<double>")
    got = {(r["i"], r["j"]): r["cov"]
           for r in embedding_covariance(df, "emb").collect()}
    # exact replica with Python ints (no float accumulation at all)
    q = [[int(np.floor(float(mat[r, c]) * _COV_SCALE + 0.5))
          for c in range(d)] for r in range(n)]
    for i in range(d):
        for j in range(i, d):
            s = sum(q[r][i] * q[r][j] for r in range(n))
            mi = sum(q[r][i] for r in range(n))
            mj = sum(q[r][j] for r in range(n))
            ref = _round9_half_up(
                float(s) / _COV_P72 / n
                - (float(mi) / _COV_SCALE / n)
                * (float(mj) / _COV_SCALE / n))
            assert got[(i, j)] == ref, (i, j)


# ---------------------------------------------------------------------------
# _round9_half_up: ties away from zero (ADVICE r5: Python round() is
# half-even and could flip the eigendecomposition input vs the oracle)
# ---------------------------------------------------------------------------

def test_round9_half_up_tie_behavior():
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        _round9_half_up,
    )
    assert _round9_half_up(2.5e-9) == 3e-9          # round() gives 2e-9
    assert _round9_half_up(-2.5e-9) == -3e-9        # away from zero
    assert _round9_half_up(1.5e-9) == 2e-9
    assert _round9_half_up(0.1234567894) == 0.123456789
    assert _round9_half_up(0.1234567896) == 0.12345679


def test_whiten_still_unit_covariance_after_rounding_change(spark):
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        embedding_whiten,
    )
    rng = np.random.default_rng(5)
    base = rng.normal(size=(150, 3)) * np.array([8.0, 2.0, 0.5])
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(150)],
        "id long, emb array<double>")
    mat = np.array([r["vec"] for r in
                    sorted(embedding_whiten(df, "emb", "id").collect(),
                           key=lambda r: r["id"])])
    mu = mat.mean(axis=0)
    cov = (mat - mu).T @ (mat - mu) / mat.shape[0]
    assert np.allclose(cov, np.eye(3), atol=0.02)


# ---------------------------------------------------------------------------
# hash63_pairs valve: refuse quadratic duplicate classes (verdict item 6)
# ---------------------------------------------------------------------------

def test_hash63_pairs_valve_refuses_projected_pair_budget(spark):
    from etl_excel_to_hyper_tableau_spark.operators.multimodal import (
        hash63_pairs,
    )
    # 8 identical signatures project 28 within-class pairs > budget 20
    df = spark.createDataFrame([(i, 12345) for i in range(8)],
                               "fid long, phash long")
    with pytest.raises(ValueError, match="max_pairs"):
        hash63_pairs(df, "fid", "phash", max_hamming=2, max_pairs=20)
    # the budget is the TOTAL across classes — two mid-sized classes
    # that individually look tame still trip it (the sf1 411 s case
    # was 240 classes of 1250, no single class alarming)
    df2 = spark.createDataFrame(
        [(i, 1) for i in range(6)] + [(10 + i, 2) for i in range(6)],
        "fid long, phash long")
    with pytest.raises(ValueError, match="max_pairs"):
        hash63_pairs(df2, "fid", "phash", max_hamming=2, max_pairs=29)
    # at or under the budget the pair form still runs
    out = hash63_pairs(df, "fid", "phash", max_hamming=2, max_pairs=28)
    assert out.count() == 8 * 7 // 2
    # default (None) keeps the historical unvalved behavior
    assert hash63_pairs(df, "fid", "phash", 2).count() == 28


# ---------------------------------------------------------------------------
# _round_half_up: property-pinned against DuckDB's round() — the
# rounding contract every driver-assembled gauge relies on
# ---------------------------------------------------------------------------

def test_round_half_up_matches_spark_round():
    # the helper's contract is F.round (BigDecimal.valueOf — EXACT
    # half-up on the shortest decimal repr), because that is what the
    # entries' Spark-side expressions compute.  DuckDB's round() on
    # doubles multiplies by 10^nd first, so on adversarial near-ties
    # (e.g. 9.449999999999999e-05 at nd=6, where x·10^6 lands exactly
    # on 94.5) it can disagree with BOTH Spark and exact decimal
    # rounding — a pre-existing cross-engine hazard the oracles absorb
    # by rounding values that sit ulps away from half-boundaries, not
    # a property this helper can or should reproduce.
    import random

    from etl_excel_to_hyper_tableau_spark import get_spark
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        _round_half_up,
    )
    from pyspark.sql import functions as F

    rng = random.Random(7)
    vals = ([rng.uniform(-1e6, 1e6) for _ in range(400)]
            + [rng.randint(-10**9, 10**9) * 5e-10 for _ in range(300)]
            + [rng.randint(-10**7, 10**7) * 5e-7 for _ in range(300)]
            + [0.0, -0.0, 2.5e-9, -2.5e-9, 9.449999999999999e-05])
    spark = get_spark(app_name="tests", master="local[4]")
    for nd in (4, 6, 9):
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        got = [r["r"] for r in
               df.select(F.round(F.col("x"), nd).alias("r")).collect()]
        for v, w in zip(vals, got):
            assert _round_half_up(v, nd) == w, (v, nd)


# ---------------------------------------------------------------------------
# KMV exact counts: NULL keys excluded on both engine and oracle side
# ---------------------------------------------------------------------------

def test_kmv_exact_counts_ignore_null_keys(spark):
    # replicate q_kmv_set_ops' exact-count block on a NULL-bearing
    # input: counts must match SQL COUNT(DISTINCT col) semantics
    a = spark.createDataFrame(
        [(1,), (2,), (None,), (2,)], "k int").select(F.col("k"))
    oa = (a.filter(F.col("k").isNotNull())
          .select(F.col("k").alias("key")).distinct())
    assert oa.count() == 2


# ---------------------------------------------------------------------------
# Phrase-dictionary tagging
# ---------------------------------------------------------------------------

def test_dictionary_tag_counts_all_alignments(spark):
    from etl_excel_to_hyper_tableau_spark.operators.text import dictionary_tag

    docs = spark.createDataFrame(
        [(1, "a b a b a"),        # "a b" at 0 and 2; "b a" at 1 and 3
         (2, "x"),                # shorter than every multi-token phrase
         (3, "a b c d"),          # trigram "a b c" once
         (4, "")],                # empty doc: no grams at all
        "doc_id int, text string")
    out = dictionary_tag(docs, "text", "doc_id",
                         ["a b", "b a", "a b c", "x"])
    got = {(r["doc_id"], r["phrase"]): r["n_hits"] for r in out.collect()}
    assert got == {(1, "a b"): 2, (1, "b a"): 2,
                   (2, "x"): 1, (3, "a b"): 1, (3, "a b c"): 1}


def test_dictionary_tag_valves(spark):
    from etl_excel_to_hyper_tableau_spark.operators.text import dictionary_tag

    docs = spark.createDataFrame([(1, "a")], "doc_id int, text string")
    with pytest.raises(ValueError, match="max_dict"):
        dictionary_tag(docs, "text", "doc_id", ["a", "b", "c"], max_dict=2)
    with pytest.raises(ValueError, match="empty"):
        dictionary_tag(docs, "text", "doc_id", ["  "])


# ---------------------------------------------------------------------------
# OOV-rate gauge
# ---------------------------------------------------------------------------

def test_oov_rate_top_v_cutoff_and_ties(spark):
    from etl_excel_to_hyper_tableau_spark.operators.text import oov_rate

    # counts: a=3, b=2, c=2, d=1.  V=2 keeps {a, b} (count desc, token
    # asc breaks the b/c tie) -> OOV tokens are c and d.
    docs = spark.createDataFrame(
        [(1, "a a b c", "en"), (2, "a b c d", "de")],
        "doc_id int, text string, lang string")
    out = {r["lang"]: r for r in
           oov_rate(docs, "text", "lang", vocab_size=2).collect()}
    assert out["en"]["n_tokens"] == 4 and out["en"]["n_oov"] == 1
    assert out["de"]["n_tokens"] == 4 and out["de"]["n_oov"] == 2
    assert out["de"]["oov_rate"] == 0.5


# ---------------------------------------------------------------------------
# Next-action context/target pairs
# ---------------------------------------------------------------------------

def test_context_pairs_window_semantics(spark):
    from etl_excel_to_hyper_tableau_spark.streaming.events import context_pairs

    ev = spark.createDataFrame(
        [("u1", 1, 10, "a"), ("u1", 2, 20, "b"), ("u1", 3, 30, "c"),
         ("u1", 4, 40, "d"), ("u1", 5, 50, "e"),
         ("u2", 6, 10, "x"),                    # single event: no pair
         ("u3", 7, 10, "p"), ("u3", 8, 10, "q")],  # ts tie -> id order
        "user_id string, event_id int, ts int, event_type string")
    out = {r["event_id"]: (list(r["context"]), r["target"]) for r in
           context_pairs(ev, "user_id", "ts", "event_type",
                         "event_id", k=3).collect()}
    assert 1 not in out and 6 not in out          # first events dropped
    assert out[2] == (["a"], "b")
    assert out[4] == (["a", "b", "c"], "d")
    assert out[5] == (["b", "c", "d"], "e")       # capped at k=3
    assert out[8] == (["p"], "q")                 # deterministic tie order


# ---------------------------------------------------------------------------
# Corpus self-kNN graph
# ---------------------------------------------------------------------------

def _toy_vectors(spark, n=30, dim=8, clusters=3):
    import math
    rows = []
    for i in range(n):
        c = i % clusters
        base = [math.sin(0.7 * c * (d + 1)) for d in range(dim)]
        rows.append((i, [b + 0.01 * ((i * 7 + d) % 5) for d, b in
                         enumerate(base)]))
    return spark.createDataFrame(rows, "vec_id long, emb array<double>")


def test_knn_graph_exact_matches_numpy(spark):
    from etl_excel_to_hyper_tableau_spark.operators.similarity import knn_graph

    df = _toy_vectors(spark)
    got = {(r["id"], r["rank"]): r["nbr"] for r in
           knn_graph(df, "emb", "vec_id", k=3, planes=0).collect()}
    vecs = {r["vec_id"]: np.array(r["emb"]) for r in df.collect()}
    for i, v in vecs.items():
        sims = sorted(((round(float(v @ w / (np.linalg.norm(v)
                                             * np.linalg.norm(w))), 9), -j)
                       for j, w in vecs.items() if j != i), reverse=True)
        for rank, (c, negj) in enumerate(sims[:3], start=1):
            assert got[(i, rank)] == -negj, (i, rank)


def test_knn_graph_exact_valve(spark):
    from etl_excel_to_hyper_tableau_spark.operators.similarity import knn_graph

    df = _toy_vectors(spark, n=12)
    with pytest.raises(ValueError, match="max_exact"):
        knn_graph(df, "emb", "vec_id", k=2, planes=0, max_exact=10).collect()


def test_knn_graph_lsh_path_never_broadcasts_the_corpus(spark):
    from etl_excel_to_hyper_tableau_spark.operators.similarity import knn_graph

    df = _toy_vectors(spark, n=60)
    g = knn_graph(df, "emb", "vec_id", k=3, planes=4)
    plan = g._jdf.queryExecution().executedPlan().toString()
    # the bucket self-join must be a shuffle join (both sides are the
    # corpus); broadcasting either side would OOM at scale.  Spark can
    # only pick a broadcast strategy below the adaptive threshold, so
    # pin the logical property instead: no BroadcastNestedLoop/cartesian
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # within-bucket recall on clustered toy data: every vector's true
    # top-1 shares its cluster; the LSH graph must place SOME same-
    # cluster neighbor at rank 1 for most vectors
    rows = g.filter(F.col("rank") == 1).collect()
    same = sum(1 for r in rows if r["id"] % 3 == r["nbr"] % 3)
    assert same >= int(0.8 * len(rows)), (same, len(rows))


def test_dictionary_tag_normalizes_phrase_whitespace(spark):
    # a double-spaced / tabbed phrase must match single-space document
    # n-grams: the dictionary is whitespace-normalized before broadcast
    # (raw "a  b" could never equal any concat_ws(' ', ...) gram)
    from etl_excel_to_hyper_tableau_spark.operators.text import dictionary_tag

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "c d e")], "doc_id int, text string")
    out = dictionary_tag(docs, "text", "doc_id",
                         ["a  b", "c\td  e", "a b"])  # dups after norm too
    got = {(r["doc_id"], r["phrase"]): r["n_hits"] for r in out.collect()}
    assert got == {(1, "a b"): 2, (2, "c d e"): 1}


def test_knn_graph_schema_identical_across_branches(spark):
    # the empty-corpus LSH return and the populated path must emit ONE
    # schema (rank was int in the empty branch before round 8)
    from etl_excel_to_hyper_tableau_spark.operators.similarity import knn_graph

    empty = spark.createDataFrame([], "vec_id long, emb array<double>")
    populated = _toy_vectors(spark, n=20)
    s_empty = knn_graph(empty, "emb", "vec_id", k=2, planes=4).schema
    s_lsh = knn_graph(populated, "emb", "vec_id", k=2, planes=4).schema
    s_exact = knn_graph(populated, "emb", "vec_id", k=2, planes=0).schema
    assert s_empty == s_lsh == s_exact


def test_knn_graph_degenerate_corpus_valve(spark):
    # an all-identical-vector corpus lands in ONE sign-LSH bucket at any
    # plane count; the bucket self-join would be occupancy^2 -> refuse
    from etl_excel_to_hyper_tableau_spark.operators.similarity import knn_graph

    df = spark.createDataFrame([(i, [1.0, 2.0, 3.0]) for i in range(40)],
                               "vec_id long, emb array<double>")
    with pytest.raises(ValueError, match="max_bucket"):
        knn_graph(df, "emb", "vec_id", k=2, planes=4, max_bucket=10).collect()
    # and a healthy corpus passes under the same valve
    ok = knn_graph(_toy_vectors(spark, n=40), "emb", "vec_id",
                   k=2, planes=4, max_bucket=10_000)
    assert ok.count() > 0


def test_context_pairs_excludes_null_event_types(spark):
    # nulls are filtered BEFORE the window: collect_list would drop them
    # from contexts while keeping them as targets — an asymmetry (and a
    # divergence from SQL list()); the kernel excludes them from both roles
    from etl_excel_to_hyper_tableau_spark.streaming.events import context_pairs

    ev = spark.createDataFrame(
        [("u1", 1, 10, "a"), ("u1", 2, 20, None), ("u1", 3, 30, "c")],
        "user_id string, event_id int, ts int, event_type string")
    out = {r["event_id"]: (list(r["context"]), r["target"]) for r in
           context_pairs(ev, "user_id", "ts", "event_type",
                         "event_id", k=3).collect()}
    assert 2 not in out                        # null target row gone
    assert out[3] == (["a"], "c")              # null absent from context


def test_table_cache_releases_stopped_sessions():
    # _TABLE_CACHE must key sessions WEAKLY: a strong tuple key pinned
    # every stopped SparkSession (and its cached plans) forever
    import gc
    import __spark_entry__ as e

    class FakeRead:
        def parquet(self, path):
            return object()

    class FakeSession:
        read = FakeRead()

    s = FakeSession()
    e._t(s, "/tmp/x", "nation")
    assert any(k is s for k in e._TABLE_CACHE)
    del s
    gc.collect()
    assert len([k for k in e._TABLE_CACHE
                if type(k).__name__ == "FakeSession"]) == 0


def test_knn_graph_checkpoint_release(spark):
    """The LSH path's localCheckpoint blocks are session-registered:
    the graph's values are unaffected while registered, and
    release_knn_checkpoints frees the persistent blocks afterwards
    (the clearCache-free lifecycle valve)."""
    import random

    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        knn_graph, release_knn_checkpoints,
    )
    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)])
            for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    release_knn_checkpoints(spark)  # clean slate
    jsc = spark.sparkContext._jsc

    def persisted():
        # compare ids, not counts: the ContextCleaner may unpersist
        # RDDs of earlier tests at any moment during this one
        return set(jsc.getPersistentRDDs().keySet())

    before = persisted()
    got = knn_graph(df, "emb", "vec_id", k=3, planes=2,
                    multiprobe=True).collect()
    assert len(got) > 0  # values consumed while registered
    held = persisted() - before
    assert held  # blocks held
    assert release_knn_checkpoints(spark) >= 1
    after = persisted()
    assert not (held & after) and after <= before  # storage freed
    assert release_knn_checkpoints(spark) == 0  # idempotent
