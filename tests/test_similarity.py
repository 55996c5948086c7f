"""Similarity search: exact top-k (single + batch) and the sign-LSH
approximate path."""

import math

import pytest

from etl_excel_to_hyper_tableau_spark.operators.similarity import (
    ann_topk_lsh, topk_cosine_batch,
)


@pytest.fixture(scope="module")
def corpus(spark):
    # 2-D vectors at known angles → cosine to [1, 0] is just cos(theta)
    rows = [(i, [math.cos(math.radians(10 * i)), math.sin(math.radians(10 * i))])
            for i in range(10)]
    return spark.createDataFrame(rows, "id long, emb array<double>")


def test_topk_cosine_exact_order(spark, corpus):
    qs = spark.createDataFrame([(1, [1.0, 0.0])], "qid long, qv array<double>")
    out = sorted(topk_cosine_batch(corpus, qs, "emb", "id", "qv", "qid",
                                   k=3).collect(), key=lambda r: r["rank"])
    assert [r["id"] for r in out] == [0, 1, 2]
    assert out[0]["cosine"] == pytest.approx(1.0)
    assert out[1]["cosine"] == pytest.approx(math.cos(math.radians(10)))


def test_topk_cosine_batch(spark, corpus):
    qs = spark.createDataFrame(
        [(100, [1.0, 0.0]), (200, [0.0, 1.0])],
        "qid long, qv array<double>")
    out = topk_cosine_batch(corpus, qs, "emb", "id", "qv", "qid", k=2)
    got = {(r["query_id"], r["rank"]): r["id"] for r in out.collect()}
    assert got[(100, 1)] == 0 and got[(100, 2)] == 1
    assert got[(200, 1)] == 9 and got[(200, 2)] == 8
    assert len(got) == 4


def test_ann_topk_subset_of_exact(spark, corpus):
    qs = spark.createDataFrame([(1, [1.0, 0.05])], "qid long, qv array<double>")
    ann = ann_topk_lsh(corpus, qs, "emb", "id", "qv", "qid", k=3, planes=4)
    rows = ann.collect()
    assert 0 < len(rows) <= 3
    assert all(r["query_id"] == 1 for r in rows)
    # rank-1 hit must be the true nearest neighbor (id 0 at ~3°)
    top = min(rows, key=lambda r: r["rank"])
    assert top["id"] == 0


# ---------------------------------------------------------------------------
# int8 scalar quantization
# ---------------------------------------------------------------------------

def test_quantize_codes_bounds_and_extremes(spark):
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        quantize_embeddings_int8)

    rows = [(0, [0.0, -1.0, 5.0]),
            (1, [1.0, 1.0, 5.0]),     # dim 2 constant across corpus
            (2, [0.5, 0.0, 5.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["id"]: r for r in
           quantize_embeddings_int8(df, "embedding", "vec_id").collect()}
    # corpus min → 0, corpus max → 255, midpoint → 128 (floor(127.5+0.5))
    assert out[0]["codes"][0] == 0 and out[1]["codes"][0] == 255
    assert out[2]["codes"][0] == 128
    # constant dimension encodes 0 and reconstructs exactly
    assert all(out[i]["codes"][2] == 0 for i in out)
    for r in out.values():
        assert all(0 <= c <= 255 for c in r["codes"])


def test_quantize_mse_is_small_and_exact_at_extremes(spark):
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        quantize_embeddings_int8)

    # two vectors: every dim hits corpus min or max → zero error
    rows = [(0, [0.0, 10.0]), (1, [2.0, -3.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["id"]: r["mse"] for r in
           quantize_embeddings_int8(df, "embedding", "vec_id").collect()}
    assert out[0] == 0.0 and out[1] == 0.0


def test_quantize_reconstruction_error_bound(spark):
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        quantize_embeddings_int8)

    # half-step error bound: per-dim |err| <= span/510 → mse <= (span/510)^2
    rows = [(i, [float(i) * 0.37 % 7.0, float(i * i % 13)]) for i in range(40)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    spans = [max(r[1][d] for r in rows) - min(r[1][d] for r in rows)
             for d in range(2)]
    bound = sum((s / 510.0) ** 2 for s in spans) / 2 * 1.0001
    for r in quantize_embeddings_int8(df, "embedding", "vec_id").collect():
        assert r["mse"] <= bound


def test_semantic_dedup_drops_near_identical(spark):
    from etl_excel_to_hyper_tableau_spark.operators.similarity import semantic_dedup
    rows = [
        (1, [1.0, 0.0]),          # centroid seed / representative
        (2, [0.999, 0.001]),      # near-dup of 1 -> dropped
        (3, [0.0, 1.0]),          # different direction, survives
        (4, [0.001, 0.999]),      # near-dup of 3 -> dropped
        (5, [-1.0, 0.0]),         # opposite, survives
    ]
    df = spark.createDataFrame(rows, "id long, emb array<double>")
    # n_cells=1: everything shares a cell, so the drop rule alone is
    # under test (cell-boundary behavior is covered separately below)
    out = {r["id"]: r["keep"]
           for r in semantic_dedup(df, "emb", "id",
                                   n_cells=1, threshold=0.99).collect()}
    assert out[1] is True and out[3] is True and out[5] is True
    assert out[2] is False and out[4] is False
    # one row per input, smallest id of each chain survives
    assert len(out) == 5


def test_semantic_dedup_cell_locality_limits_pairs(spark):
    """Vectors in different cells are never compared: two identical
    vectors forced into different cells both survive."""
    from etl_excel_to_hyper_tableau_spark.operators.similarity import semantic_dedup
    rows = [(1, [1.0, 0.0]), (2, [0.0, 1.0]),
            (3, [1.0, 0.0])]  # identical to 1 -> same cell -> dropped
    df = spark.createDataFrame(rows, "id long, emb array<double>")
    out = {r["id"]: (r["cell"], r["keep"])
           for r in semantic_dedup(df, "emb", "id",
                                   n_cells=2, threshold=0.999).collect()}
    assert out[1][1] is True and out[2][1] is True
    assert out[3][0] == out[1][0] and out[3][1] is False


def test_hard_negatives_excludes_same_label(spark):
    from etl_excel_to_hyper_tableau_spark.operators.similarity import hard_negatives
    corpus = spark.createDataFrame(
        [(10, 0, [1.0, 0.0]), (11, 1, [0.99, 0.01]), (12, 1, [0.0, 1.0]),
         (13, 0, [0.98, 0.02])],
        "id long, label int, emb array<double>")
    qs = spark.createDataFrame([(1, 0, [1.0, 0.0])],
                               "qid long, qlabel int, qv array<double>")
    out = hard_negatives(corpus, qs, "emb", "id", "label",
                         "qv", "qid", "qlabel", k=2).collect()
    ids = [r["id"] for r in sorted(out, key=lambda r: r["rank"])]
    # only label-1 vectors are candidates; the closest (11) ranks first
    assert ids == [11, 12]
    assert all(r["label"] == 1 for r in out)


def test_semantic_dedup_lsh_subbucket_is_subset(spark):
    """The sub-bucketed scale path drops a SUBSET of what the exact
    within-cell search drops (same-bucket pairs are a subset of
    same-cell pairs), and every survivor set contains the smallest id."""
    import math as m
    from etl_excel_to_hyper_tableau_spark.operators.similarity import semantic_dedup
    rows = [(i, [m.cos(m.radians(3 * i)), m.sin(m.radians(3 * i))])
            for i in range(40)]
    df = spark.createDataFrame(rows, "id long, emb array<double>")
    exact = {r["id"]: r["keep"]
             for r in semantic_dedup(df, "emb", "id", n_cells=4,
                                     threshold=0.999).collect()}
    lsh = {r["id"]: r["keep"]
           for r in semantic_dedup(df, "emb", "id", n_cells=4,
                                   threshold=0.999, lsh_planes=None,
                                   target_bucket=4).collect()}
    assert set(lsh) == set(exact)
    dropped_exact = {i for i, k in exact.items() if not k}
    dropped_lsh = {i for i, k in lsh.items() if not k}
    assert dropped_lsh <= dropped_exact
    assert exact[0] is True and lsh[0] is True


def test_ann_recall_report_bounds_and_perfect_case(spark, corpus):
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        ann_recall_report,
    )
    qs = spark.createDataFrame([(1, [1.0, 0.05]), (2, [0.0, 1.0])],
                               "qid long, qv array<double>")
    out = {r["query_id"]: r
           for r in ann_recall_report(corpus, qs, "emb", "id", "qv", "qid",
                                      k=3, planes=2,
                                      multiprobe=True).collect()}
    assert set(out) == {1, 2}
    for r in out.values():
        assert 0 <= r["n_hits"] <= r["n_ann"] <= 3
        assert r["recall"] == r["n_hits"] / 3.0
    # multiprobe over 2 planes covers 3 of 4 buckets of a 10-vector
    # corpus: the top hit is essentially always retrieved
    assert out[1]["n_hits"] >= 1


def test_pq_encode_codes_select_nearest_centroid(spark):
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        pq_encode, train_pq_codebooks,
    )
    # 4-dim vectors, m=2 subspaces of 2 dims; codebooks seeded from
    # ids 0..1, so every vector's code is its nearest seed per subspace
    rows = [(0, [0.0, 0.0, 10.0, 10.0]),
            (1, [5.0, 5.0, 0.0, 0.0]),
            (2, [0.1, -0.1, 0.2, 0.1]),    # near seed 0 / near seed 1
            (3, [4.9, 5.2, 9.8, 10.1])]    # near seed 1 / near seed 0
    df = spark.createDataFrame(rows, "id long, emb array<double>")
    books = train_pq_codebooks(df, "emb", "id", m=2, k=2)
    assert books[0] == [[0.0, 0.0], [5.0, 5.0]]
    out = {r["id"]: list(r["codes"])
           for r in pq_encode(df, "emb", "id", books).collect()}
    assert out[0] == [0, 0] and out[1] == [1, 1]
    assert out[2] == [0, 1] and out[3] == [1, 0]


def test_pq_encode_tie_breaks_to_smaller_code(spark):
    from etl_excel_to_hyper_tableau_spark.operators.similarity import pq_encode
    df = spark.createDataFrame([(9, [1.0, 1.0])], "id long, emb array<double>")
    # duplicate centroids -> equal distances -> code 0 wins
    books = [[[1.0, 1.0], [1.0, 1.0]]]
    out = pq_encode(df, "emb", "id", books).collect()
    assert list(out[0]["codes"]) == [0]


def test_pq_topk_finds_exact_neighbor_of_a_seed(spark):
    import math as m
    from etl_excel_to_hyper_tableau_spark.operators.similarity import pq_topk
    # corpus on a ring; queries sit exactly on two corpus points, so
    # ADC with codes from nearby seeds must rank those points first
    rows = [(i + 10, [m.cos(m.radians(30 * i)), m.sin(m.radians(30 * i)),
                      m.cos(m.radians(60 * i)), m.sin(m.radians(60 * i))])
            for i in range(12)]
    corpus = spark.createDataFrame(rows, "id long, emb array<double>")
    qs = spark.createDataFrame([(1, rows[0][1]), (2, rows[5][1])],
                               "qid long, qv array<double>")
    out = pq_topk(corpus, qs, "emb", "id", "qv", "qid",
                  k=3, m=2, n_codes=4)
    top = {r["query_id"]: r["id"] for r in out.collect() if r["rank"] == 1}
    # the query IS a corpus point -> its ADC distance equals the
    # quantization distance of that point, minimal among candidates
    assert top[1] == 10 and top[2] == 15


def test_pq_topk_corpus_smaller_than_n_codes(spark):
    """Codebooks shrink to the corpus size; the ADC stride must follow
    or lookups read the wrong subspace / past the LUT end."""
    from etl_excel_to_hyper_tableau_spark.operators.similarity import pq_topk
    rows = [(i, [float(i), float(-i), float(i * 2), 1.0]) for i in range(5)]
    corpus = spark.createDataFrame(rows, "id long, emb array<double>")
    qs = spark.createDataFrame([(1, rows[2][1])], "qid long, qv array<double>")
    out = pq_topk(corpus, qs, "emb", "id", "qv", "qid",
                  k=3, m=2, n_codes=8).collect()
    assert len(out) == 3
    assert all(r["adc_dist"] is not None for r in out)
    # the query IS corpus point 2 -> its quantization cell ranks first
    top = min(out, key=lambda r: r["rank"])
    assert top["adc_dist"] == min(r["adc_dist"] for r in out)


def test_ann_mrr_report_reciprocal_ranks(spark, corpus):
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        ann_mrr_report,
    )
    qs = spark.createDataFrame([(1, [1.0, 0.05]), (2, [0.0, 1.0])],
                               "qid long, qv array<double>")
    out = {r["query_id"]: r
           for r in ann_mrr_report(corpus, qs, "emb", "id", "qv", "qid",
                                   k=3, planes=2,
                                   multiprobe=True).collect()}
    assert set(out) == {1, 2}
    for r in out.values():
        assert (r["found"] and 1 / 3 <= r["rr"] <= 1.0) or \
               (not r["found"] and r["rr"] == 0.0)
    # query 1's true top-1 (id 0 at ~3 deg) is essentially always
    # retrieved at rank 1 under multiprobe
    assert out[1]["true_top1"] == 0 and out[1]["rr"] == 1.0


def test_semantic_dedup_empty_corpus_schema_matches_normal_path(spark):
    """The empty-corpus early return must have the SAME schema as the
    normal path (cell long) so results union across runs."""
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        semantic_dedup,
    )
    full = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "id long, emb array<double>")
    empty = full.limit(0)
    s_full = semantic_dedup(full, "emb", "id", n_cells=2).schema
    s_empty = semantic_dedup(empty, "emb", "id", n_cells=2).schema
    assert [(f.name, f.dataType) for f in s_empty] == \
           [(f.name, f.dataType) for f in s_full]


def test_label_noise_audit_flags_the_planted_mislabel(spark):
    """Two tight clusters; one vector carries the wrong label and must
    be the (only) flagged row, with the numpy-model margin."""
    import numpy as np
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        label_noise_audit,
    )
    a = [[1.0, 0.0], [0.9, 0.1], [1.1, -0.1]]       # class 0
    b = [[0.0, 1.0], [0.1, 0.9], [-0.1, 1.1]]       # class 1
    rows = ([(i, v, 0) for i, v in enumerate(a)]
            + [(10 + i, v, 1) for i, v in enumerate(b[:2])]
            + [(99, b[2], 0)])                       # planted noise
    df = spark.createDataFrame(
        rows, "id long, emb array<double>, label int")
    out = label_noise_audit(df, "emb", "id", "label").collect()
    assert [r["id"] for r in out] == [99]
    r = out[0]
    assert r["label"] == 0 and r["nearest_label"] == 1
    # numpy model: centroids include the mislabeled point (as the
    # operator's do), rounded to 9 like the implementation
    pts = {i: np.array(v) for i, v, _ in rows}
    lab = {i: l for i, _, l in rows}
    cents = {l: np.round(np.mean([pts[i] for i in pts if lab[i] == l],
                                 axis=0), 9) for l in (0, 1)}
    own = float(((pts[99] - cents[0]) ** 2).sum())
    oth = float(((pts[99] - cents[1]) ** 2).sum())
    assert abs(r["margin"] - round(own - oth, 6)) <= 1e-6
    assert r["own_d2"] > r["other_d2"]


def test_label_noise_audit_single_label_is_empty(spark):
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        label_noise_audit,
    )
    df = spark.createDataFrame([(1, [1.0], 0), (2, [2.0], 0)],
                               "id long, emb array<double>, label int")
    assert label_noise_audit(df, "emb", "id", "label").count() == 0


def test_label_noise_audit_distance_pass_is_map_only(spark):
    """After the centroid collect, the scoring pass must not shuffle
    the corpus: no Exchange in the plan."""
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        label_noise_audit,
    )
    df = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5)], i % 2) for i in range(40)],
        "id long, emb array<double>, label int")
    out = label_noise_audit(df, "emb", "id", "label")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the only exchange allowed is the final suspect-sized sort's
    # range partitioning; the corpus-side pass joins nothing
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_maxsim_topk_matches_numpy_brute_force(spark):
    """round 9: late-interaction MaxSim vs a literal numpy replay —
    Σ_q max_d cos over token-level vectors, rounded-9 rank, id ties."""
    import numpy as np

    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        maxsim_topk,
    )

    rng = np.random.default_rng(7)
    docs = [(i, [[float(x) for x in rng.integers(-3, 4, 4)]
                 for _ in range(3)]) for i in range(12)]
    qs = [(100 + j, [[float(x) for x in rng.integers(-3, 4, 4)]
                     for _ in range(2)]) for j in range(2)]
    # avoid zero-norm tokens (NULL-poisoning is a documented non-goal)
    fix = lambda t: t if any(t) else [1.0, 0.0, 0.0, 0.0]
    docs = [(i, [fix(t) for t in ts]) for i, ts in docs]
    qs = [(j, [fix(t) for t in ts]) for j, ts in qs]
    cdf = spark.createDataFrame(docs, "id long, toks array<array<double>>")
    qdf = spark.createDataFrame(qs, "qid long, toks array<array<double>>")
    out = maxsim_topk(cdf, qdf, "toks", "id", "toks", "qid", k=4).collect()

    def cos(a, b):
        a, b = np.array(a), np.array(b)
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    for qid, qtoks in qs:
        want = sorted(
            ((round(sum(max(cos(dt, qt) for dt in ts) for qt in qtoks), 9),
              i) for i, ts in docs),
            key=lambda t: (-t[0], t[1]))[:4]
        got = sorted([r for r in out if r["query_id"] == qid],
                     key=lambda r: r["rank"])
        assert [(r["maxsim"], r["id"]) for r in got] \
            == [(pytest.approx(s, abs=2e-9), i) for s, i in want]


def test_maxsim_prefers_token_match_over_pooled_average(spark):
    """The point of late interaction: a doc with ONE exactly-matching
    token per query token outranks a doc whose pooled average is close
    but whose individual tokens all differ."""
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        maxsim_topk,
    )

    q = [(1, [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]])]
    docs = [
        # doc 10: each query token has an exact counterpart (+ noise tok)
        (10, [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]),
        # doc 20: every token a diluted mixture — pooled mean similar,
        # but no token matches either query token exactly
        (20, [[0.6, 0.55, 0.0], [0.55, 0.6, 0.0], [0.5, 0.5, 0.1]]),
    ]
    cdf = spark.createDataFrame(docs, "id long, toks array<array<double>>")
    qdf = spark.createDataFrame(q, "qid long, toks array<array<double>>")
    out = {r["rank"]: r["id"] for r in
           maxsim_topk(cdf, qdf, "toks", "id", "toks", "qid",
                       k=2).collect()}
    assert out[1] == 10 and out[2] == 20


def test_rrf_fuse_matches_hand_computation(spark):
    """round 9: RRF = sum over systems of 1/(c+rank), absent items
    contribute nothing, exact pico-unit integer sum, id ties."""
    a = spark.createDataFrame(
        [(1, 10, 1), (1, 20, 2), (1, 30, 3)],
        "query_id long, id long, rank long")
    b = spark.createDataFrame(
        [(1, 20, 1), (1, 40, 2)],
        "query_id long, id long, rank long")
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        rrf_fuse,
    )
    out = {r["id"]: (r["rrf_score"], r["rank"]) for r in
           rrf_fuse([a, b], k=4, c=60).collect()}
    pico = lambda r: round(1e12 / (60 + r))
    want = {20: (pico(2) + pico(1)) / 1e12,   # in both systems -> wins
            10: pico(1) / 1e12,
            40: pico(2) / 1e12,
            30: pico(3) / 1e12}
    assert {i: s for i, (s, _) in out.items()} == want
    assert [i for i, (_, r) in sorted(out.items(), key=lambda t: t[1][1])] \
        == [20, 10, 40, 30]


def test_rrf_fuse_validates(spark):
    import pytest

    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        rrf_fuse,
    )
    with pytest.raises(ValueError, match="non-empty"):
        rrf_fuse([], k=3)
    df = spark.createDataFrame([(1, 1, 1)],
                               "query_id long, id long, rank long")
    with pytest.raises(ValueError, match="c must"):
        rrf_fuse([df], c=0)
