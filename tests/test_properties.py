"""Property tests (SURVEY §5.2-5): random small frames → stage →
identity query round-trips; pivot/concat row-count invariants;
hashing-function portability invariants."""

import hashlib
import re

from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F

from etl_excel_to_hyper_tableau_spark.operators.combinators import (
    horizontal_concat, pivot_union,
)
from etl_excel_to_hyper_tableau_spark.functions.hashing import (
    md5_int64, perm_constants,
)

_SETTINGS = dict(max_examples=10, deadline=None,
                 suppress_health_check=[HealthCheck.function_scoped_fixture])

_int_cell = st.one_of(st.none(), st.integers(-10**6, 10**6))
_str_cell = st.one_of(st.none(), st.text(alphabet="abcXYZ 'é", max_size=8))
_rows = st.lists(st.tuples(_int_cell, _str_cell), min_size=1, max_size=20)

# Edge corpus for the text-kernel models: NULL, empty and short text,
# exactly-k text, non-ASCII, U+00A0 (not whitespace to Java's ``\s``,
# so it stays inside a token), tabs/newlines/space runs and repeats.
EDGE_TEXTS = [
    None, "", "short", "exactly8", "exactly8plus",
    "the quick brown fox jumps over the lazy dog the quick brown fox",
    "tabs\tand\nnewlines  and   runs of spaces",
    "café naïve résumé café münchen straße",
    "nbsp\u00a0joined tokens stay\u00a0glued here",
    "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa",
    "hash join table scan hash join sort merge fast merge batch "
    "slow filter batch vector",
    " leading and trailing whitespace   ",
]
# 1/2/3-token phrases, a whitespace-padded duplicate, a non-ASCII one and
# one that only a U+00A0-splitting tokenizer would find
PHRASES = ["batch", "vector", "hash join", "table scan", "sort merge",
           "fast merge batch", "  hash   join  ", "café naïve", "glued here"]


def _java_tokens(text):
    """The engine's ``tokens()``: a Java ``\\s+`` split (``\\s`` is
    ASCII-only) with empty tokens dropped; NULL has none."""
    return re.findall(r"[^ \t\n\x0b\f\r]+", text or "")


def _md5_60(s: str) -> int:
    """Python replay of ``functions.hashing.md5_int64``."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


@settings(**_SETTINGS)
@given(rows=_rows)
def test_stage_identity_roundtrip(spark, rows):
    df = spark.createDataFrame(rows, "a long, b string")
    df.createOrReplaceTempView("prop_t")
    back = spark.sql("SELECT * FROM prop_t")
    assert sorted(map(repr, back.collect())) == sorted(map(repr, df.collect()))
    spark.catalog.dropTempView("prop_t")


@settings(**_SETTINGS)
@given(sizes=st.lists(st.integers(0, 12), min_size=1, max_size=4))
def test_pivot_union_row_count_adds(spark, sizes):
    frames = [(f"f{i}.xlsx", spark.range(n).select(F.col("id").cast("long")))
              for i, n in enumerate(sizes)]
    assert pivot_union(frames).count() == sum(sizes)


@settings(**_SETTINGS)
@given(sizes=st.lists(st.integers(1, 12), min_size=2, max_size=3))
def test_horizontal_concat_invariants(spark, sizes):
    frames = [spark.range(n).select(F.col("id").alias(f"c{i}"))
              for i, n in enumerate(sizes)]
    out = horizontal_concat(frames)
    assert out.count() == max(sizes)            # rows = longest input
    assert len(out.columns) == len(sizes)        # columns add


@settings(**_SETTINGS)
@given(texts=st.lists(st.text(max_size=20), min_size=1, max_size=10, unique=True))
def test_md5_int64_range_and_injectivity_sample(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    vals = [r["h"] for r in df.select(md5_int64(F.col("t")).alias("h")).collect()]
    assert all(0 <= v < (1 << 60) for v in vals)
    assert len(set(vals)) == len(texts)  # no collisions on tiny samples


def test_perm_constants_shape():
    consts = perm_constants(64)
    assert len(consts) == 64 and len(set(consts)) == 64
    assert all(a % 2 == 1 and 0 < a < (1 << 31) and 0 <= b < (1 << 31)
               for a, b in consts)


def _groups_frame_reference(rows, preceding, following):
    """Brute-force GROUPS frame + EXCLUDE on (id, p, k) tuples."""
    out = {}
    by_p = {}
    for rid, p, k in rows:
        by_p.setdefault(p, []).append((rid, k))
    for p, items in by_p.items():
        ks = sorted({k for _, k in items})
        grp_of = {k: i + 1 for i, k in enumerate(ks)}
        for rid, k in items:
            g = grp_of[k]
            frame = [(r2, k2) for r2, k2 in items
                     if g - preceding <= grp_of[k2] <= g + following]
            peers = [(r2, k2) for r2, k2 in items if k2 == k]
            s = sum(k2 for _, k2 in frame)
            excl_cur = [x for x in frame if x[0] != rid]
            excl_grp = [x for x in frame if x[1] != k]
            out[rid] = (
                g, float(s), len(frame),
                float(sum(k2 for _, k2 in excl_cur)) if excl_cur else None,
                float(sum(k2 for _, k2 in excl_grp)) if excl_grp else None,
                float(s - sum(k2 for _, k2 in peers) + k),
            )
    return out


@settings(**_SETTINGS)
@given(rows=st.lists(
    st.tuples(st.sampled_from("ab"), st.integers(0, 6)),
    min_size=1, max_size=15))
def test_groups_frame_matches_bruteforce(spark, rows):
    from etl_excel_to_hyper_tableau_spark.plans.groups_frames import (
        with_groups_frame,
    )
    data = [(i, p, k) for i, (p, k) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, p string, k long")
    got = {r["id"]: (r["grp"],
                     None if r["s_frame"] is None else float(r["s_frame"]),
                     r["n_frame"],
                     None if r["s_excl_current"] is None else float(r["s_excl_current"]),
                     None if r["s_excl_group"] is None else float(r["s_excl_group"]),
                     None if r["s_excl_ties"] is None else float(r["s_excl_ties"]))
           for r in with_groups_frame(df, ["p"], "k", "k", 1, 1).collect()}
    assert got == _groups_frame_reference(data, 1, 1)


# ---------------------------------------------------------------------------
# empty-input robustness: every core operator must return an empty,
# correctly-typed result on an empty frame — not raise
# ---------------------------------------------------------------------------

def test_operators_on_empty_input(spark):
    from etl_excel_to_hyper_tableau_spark.operators import (
        cdc, dedup as dd, sampling as sp, text as tx,
    )
    from etl_excel_to_hyper_tableau_spark.operators.graph import (
        connected_components,
    )
    docs = spark.createDataFrame([], "doc_id long, text string")
    assert dd.exact_dedup(docs, ["text"], "doc_id").count() == 0
    assert dd.ngram_jaccard_pairs(docs, "text", "doc_id").count() == 0
    assert dd.minhash_lsh_candidates(docs, "text", "doc_id",
                                     k=16, bands=2).count() == 0
    assert dd.simhash_pairs(docs, "text", "doc_id").count() == 0
    assert tx.bm25_scores(docs, "text", "doc_id", ["x"]).count() == 0
    assert tx.vocab_topk(docs, "text", "doc_id").count() == 0
    assert tx.clean_corpus(docs, "text", "doc_id").count() == 0
    assert tx.compression_ratio(docs, "text", "doc_id").count() == 0
    assert sp.negative_pairs(docs, "doc_id", k=2).count() == 0
    ev = spark.createDataFrame([], "event_id long, ts long, key string, v double")
    assert cdc.latest_snapshot(ev, "key", "ts", "event_id").count() == 0
    assert cdc.scd2_intervals(ev, "key", "ts", ["v"], "event_id").count() == 0
    edges = spark.createDataFrame([], "src long, dst long")
    assert connected_components(edges).count() == 0


# ---------------------------------------------------------------------------
# CDC operators vs brute-force Python models on random change logs
# ---------------------------------------------------------------------------

_log_rows = st.lists(
    st.tuples(st.integers(1, 6),                       # key
              st.integers(0, 8),                       # ts (ties likely)
              st.one_of(st.none(), st.sampled_from(["a", "b", "c"]))),
    min_size=1, max_size=25)


@settings(**_SETTINGS)
@given(rows=_log_rows)
def test_latest_snapshot_matches_python_argmax(spark, rows):
    from etl_excel_to_hyper_tableau_spark.operators.cdc import latest_snapshot
    log = [(i, k, t, v) for i, (k, t, v) in enumerate(rows)]
    df = spark.createDataFrame(log, "event_id long, key long, ts long, v string")
    got = {r["key"]: (r["ts"], r["event_id"], r["v"])
           for r in latest_snapshot(df, "key", "ts",
                                    tiebreak="event_id").collect()}
    want = {}
    for i, k, t, v in log:
        if k not in want or (t, i) > (want[k][0], want[k][1]):
            want[k] = (t, i, v)
    assert got == want


@settings(**_SETTINGS)
@given(rows=_log_rows)
def test_scd2_intervals_match_python_model(spark, rows):
    from etl_excel_to_hyper_tableau_spark.operators.cdc import scd2_intervals
    log = [(i, k, t, v) for i, (k, t, v) in enumerate(rows)]
    df = spark.createDataFrame(log, "event_id long, key long, ts long, v string")
    def _k(t):  # None-safe tuple sort
        return tuple((v is None, v) for v in t)

    got = sorted(((r["key"], r["v"], r["valid_from"], r["valid_to"])
                  for r in scd2_intervals(df, "key", "ts", attrs=["v"],
                                          tiebreak="event_id").collect()),
                 key=_k)
    # model: per key, order by (ts, event_id); keep change-points; lead()
    want = []
    bykey: dict = {}
    for i, k, t, v in sorted(log, key=lambda r: (r[1], r[2], r[0])):
        bykey.setdefault(k, []).append((t, v))
    for k, seq in bykey.items():
        pts = [seq[0]] + [s for prev, s in zip(seq, seq[1:]) if s[1] != prev[1]]
        for j, (t, v) in enumerate(pts):
            vt = pts[j + 1][0] if j + 1 < len(pts) else None
            want.append((k, v, t, vt))
    assert got == sorted(want, key=_k)


@settings(**_SETTINGS)
@given(edges=st.lists(st.tuples(st.integers(1, 12), st.integers(1, 12)),
                      min_size=1, max_size=30))
def test_connected_components_match_union_find(spark, edges):
    from etl_excel_to_hyper_tableau_spark.operators.graph import (
        connected_components,
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["component"]
           for r in connected_components(df, max_iterations=60).collect()}
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    want = {}
    for node in parent:
        want.setdefault(find(node), []).append(node)
    expected = {n: min(group) for group in want.values() for n in group}
    assert got == expected


@settings(**_SETTINGS)
@given(docs=st.lists(
    st.text(alphabet="ab x", max_size=24), min_size=1, max_size=8))
def test_doc_novelty_matches_python_model(spark, docs):
    from etl_excel_to_hyper_tableau_spark.operators.text import doc_novelty
    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: r for r in doc_novelty(df, "text", "id").collect()}
    seen: set[str] = set()
    for i, t in rows:
        toks = [w for w in t.split() if w]
        bgs = {f"{a} {b}" for a, b in zip(toks, toks[1:])}
        novel = {b for b in bgs if b not in seen}
        seen |= bgs
        assert got[i]["n_bigrams"] == len(bgs)
        assert got[i]["n_novel"] == len(novel)
        expect = 1.0 if not bgs else len(novel) / len(bgs)
        assert got[i]["novelty"] == expect


@settings(**_SETTINGS)
@given(lengths=st.lists(st.integers(0, 40), min_size=1, max_size=8),
       window=st.integers(1, 16))
def test_pack_and_window_map_consistent(spark, lengths, window):
    """pack_sequences offsets are a prefix sum of token counts in id
    order, and window_doc_map emits exactly each doc's window span."""
    from etl_excel_to_hyper_tableau_spark.operators.packing import (
        pack_sequences, window_doc_map,
    )
    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate(lengths)]
    df = spark.createDataFrame(rows, "id long, text string")
    packed = {r["id"]: r for r in
              pack_sequences(df, "text", "id",
                             window_tokens=window).collect()}
    acc = 0
    for i, n in enumerate(lengths):
        p = packed[i]
        assert p["n_tokens"] == n
        assert p["start_offset"] == acc
        assert p["start_window"] == acc // window
        assert p["offset_in_window"] == acc % window
        if n > 0:
            assert p["end_window"] == (acc + n - 1) // window
            assert p["n_windows"] == p["end_window"] - p["start_window"] + 1
        else:
            assert p["n_windows"] == 0
        acc += n
    mapped = window_doc_map(df, "text", "id", window_tokens=window).collect()
    span = {(r["window_id"], r["id"]) for r in mapped}
    expect = {(w, i) for i, n in enumerate(lengths) if n > 0
              for w in range(packed[i]["start_window"],
                             packed[i]["end_window"] + 1)}
    assert span == expect


@settings(**_SETTINGS)
@given(words=st.lists(
    st.text(alphabet="abc", min_size=1, max_size=6), min_size=1, max_size=12))
def test_bpe_pair_counts_match_python_model(spark, words):
    from collections import Counter
    from etl_excel_to_hyper_tableau_spark.operators.text import bpe_pair_counts
    df = spark.createDataFrame([(0, " ".join(words))], "id long, text string")
    got = {r["pair"]: r["cnt"]
           for r in bpe_pair_counts(df, "text", "id", topk=1000).collect()}
    model: Counter = Counter()
    for w in words:
        for i in range(len(w) - 1):
            model[w[i:i + 2]] += 1
    assert got == dict(model)


@settings(**_SETTINGS)
@given(seqs=st.lists(
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=6),
    min_size=1, max_size=5))
def test_event_transitions_match_python_model(spark, seqs):
    import datetime
    from collections import Counter
    from etl_excel_to_hyper_tableau_spark.streaming.events import (
        event_transitions,
    )
    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u, seq in enumerate(seqs):
        for j, et in enumerate(seq):
            rows.append((eid, t0 + datetime.timedelta(minutes=j), u, et))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, "
                                     "user_id long, event_type string")
    got = {(r["prev_type"], r["next_type"]): (r["cnt"], r["prev_total"])
           for r in event_transitions(df, topk=100).collect()}
    model = Counter()
    for seq in seqs:
        for a, b in zip(seq, seq[1:]):
            model[(a, b)] += 1
    totals = Counter()
    for (a, _b), c in model.items():
        totals[a] += c
    assert {k: v[0] for k, v in got.items()} == dict(model)
    for (a, _b), (_c, tot) in got.items():
        assert tot == totals[a]


@settings(**_SETTINGS)
@given(rows=st.lists(
    st.tuples(st.sampled_from(["x", "y"]),
              st.floats(0, 10, allow_nan=False),
              st.integers(1, 50)),
    min_size=1, max_size=15),
    budget=st.integers(10, 200))
def test_budget_select_matches_python_model(spark, rows, budget):
    from pyspark.sql import functions as F
    from etl_excel_to_hyper_tableau_spark.operators.sampling import (
        budget_select,
    )
    data = [(i, s, q, n) for i, (s, q, n) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, src string, q double, n long")
    got = {r["id"]: r["cum_size"]
           for r in budget_select(df, "src", F.col("q"), F.col("n"),
                                  "id", budget=budget).collect()}
    model = {}
    for src in {s for _i, s, _q, _n in data}:
        acc = 0
        for i, s, q, n in sorted(
                (r for r in data if r[1] == src),
                key=lambda r: (-r[2], r[0])):
            acc += n
            if acc <= budget:
                model[i] = acc
    assert got == model


@settings(**_SETTINGS)
@given(lengths=st.lists(st.integers(0, 30), min_size=1, max_size=25),
       n_shards=st.integers(1, 6))
def test_balanced_shards_matches_python_model(spark, lengths, n_shards):
    """Distributed LPT serpentine == the trivially-correct Python model
    (sort by (-size, id), deal serpentine)."""
    from etl_excel_to_hyper_tableau_spark.operators.packing import (
        balanced_shards,
    )
    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate(lengths)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: (r["n_tokens"], r["rank"], r["shard"])
           for r in balanced_shards(df, "text", "doc_id",
                                    n_shards=n_shards,
                                    num_partitions=3).collect()}
    order = sorted(range(len(lengths)), key=lambda i: (-lengths[i], i))
    for rank0, i in enumerate(order):
        pos = rank0 % n_shards
        shard = pos if (rank0 // n_shards) % 2 == 0 else n_shards - 1 - pos
        assert got[i] == (lengths[i], rank0 + 1, shard)


@settings(**_SETTINGS)
@given(texts=st.lists(st.text(alphabet="abcd ", min_size=0, max_size=120),
                      min_size=1, max_size=3),
       k=st.sampled_from([3, 8]), mask_bits=st.integers(2, 5))
@example(texts=EDGE_TEXTS, k=8, mask_bits=6)
@example(texts=EDGE_TEXTS, k=3, mask_bits=2)
def test_content_chunks_match_python_model(spark, texts, k, mask_bits):
    """Chunk boundaries and hashes == a direct Python replay of the
    rolling-hash rule; chunks always tile the document exactly;
    NULL/empty documents emit no rows."""
    from etl_excel_to_hyper_tableau_spark.operators.text import (
        content_chunks,
    )
    m = 1 << mask_bits
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = sorted(tuple(r) for r in content_chunks(
        df, "text", "doc_id", k=k, mask_bits=mask_bits).collect())
    want = []
    for i, text in enumerate(texts):
        if not text:
            continue
        ends = sorted({j + k - 1 for j in range(1, len(text) - k + 2)
                       if _md5_60(text[j - 1:j - 1 + k]) % m == 0}
                      | {len(text)})
        starts = [1] + [e + 1 for e in ends[:-1]]
        want += [(i, j + 1, s, e - s + 1, _md5_60(text[s - 1:e]))
                 for j, (s, e) in enumerate(zip(starts, ends))]
    assert got == sorted(want)


@settings(**_SETTINGS)
@given(rows=st.lists(st.tuples(st.integers(0, 10**6),
                               st.sampled_from(["a", "b", "c"])),
                     min_size=1, max_size=25, unique_by=lambda t: t[0]),
       e_int=st.integers(0, 3),
       e_frac=st.sampled_from([0.0, 0.25, 0.5, 0.75]))
def test_upsample_epochs_matches_python_model(spark, rows, e_int, e_frac):
    """Replica multiset == the Python model: floor(e) copies plus one
    iff the row's hash bucket clears the fractional threshold."""
    import hashlib
    from etl_excel_to_hyper_tableau_spark.operators.sampling import (
        BUCKETS, upsample_epochs,
    )
    e = e_int + e_frac
    df = spark.createDataFrame(rows, "id long, src string")
    got = sorted((r["id"], r["epoch"]) for r in
                 upsample_epochs(df, "id", "src", {"a": e, "b": e},
                                 default=e).collect())

    def bucket(i):
        h = hashlib.md5(f"epoch:{i}".encode()).hexdigest()
        return int(h[:15], 16) % BUCKETS

    frac_buckets = int(round(e_frac * BUCKETS))
    want = sorted(
        (i, k)
        for i, _ in rows
        for k in range(e_int + (1 if bucket(i) < frac_buckets else 0)))
    assert got == want


@settings(**_SETTINGS)
@given(ids=st.lists(st.integers(0, 10**9), min_size=1, max_size=30,
                    unique=True),
       n_shards=st.integers(1, 5))
def test_training_order_matches_python_model(spark, ids, n_shards):
    """The distributed two-phase rank reproduces the plain sorted-by-
    md5 permutation, shard striping included."""
    import hashlib
    from etl_excel_to_hyper_tableau_spark.operators.packing import (
        training_order,
    )
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = sorted((r["id"], r["rank"], r["shard"], r["pos"]) for r in
                 training_order(df, "id", n_shards=n_shards).collect())

    def h(i):
        return int(hashlib.md5(f"shuffle:{i}".encode())
                   .hexdigest()[:15], 16)

    order = sorted(ids, key=lambda i: (h(i), i))
    want = sorted((i, r + 1, r % n_shards, r // n_shards)
                  for r, i in enumerate(order))
    assert got == want


# ---------------------------------------------------------------------------
# round-5 operators: unigram losslessness, exact-Jaccard vs brute force,
# WARC codec round-trip — over hypothesis-random inputs
# ---------------------------------------------------------------------------

_word = st.text(alphabet="abcdxyz", min_size=1, max_size=6)
_doc = st.lists(_word, min_size=0, max_size=12).map(" ".join)


@settings(**_SETTINGS)
@given(texts=st.lists(_doc, min_size=1, max_size=8))
def test_unigram_segmentation_lossless(spark, texts):
    from etl_excel_to_hyper_tableau_spark.operators.text import (
        unigram_apply, unigram_train,
    )
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    vocab = unigram_train(df, "text", vocab_size=16, max_piece_len=3,
                          iters=1)
    for r in unigram_apply(df, "text", "doc_id", vocab).collect():
        assert "".join(r["tokens"]) == "".join(texts[r["id"]].split())


@settings(**_SETTINGS)
@given(texts=st.lists(_doc, min_size=2, max_size=8),
       t=st.sampled_from([0.34, 0.5, 0.75, 1.0]))
def test_jaccard_join_equals_brute(spark, texts, t):
    import itertools

    from etl_excel_to_hyper_tableau_spark.operators.dedup import (
        jaccard_join,
    )
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): round(r["jaccard"], 9)
           for r in jaccard_join(df, "text", "doc_id", t).collect()}
    sets = [set(x.split()) for x in texts]
    want = {}
    for a, b in itertools.combinations(range(len(texts)), 2):
        if not sets[a] or not sets[b]:
            continue
        inter = len(sets[a] & sets[b])
        jac = inter / len(sets[a] | sets[b])
        if jac >= t:
            want[(a, b)] = round(jac, 9)
    assert got == want


@settings(**_SETTINGS)
@given(bodies=st.lists(st.binary(max_size=64), min_size=1, max_size=5),
       gz=st.booleans())
def test_warc_codec_roundtrip(bodies, gz):
    from etl_excel_to_hyper_tableau_spark.functions import warc as w
    recs = [("response", {"WARC-Target-URI": f"http://x/{i}"},
             w.build_http_response(b)) for i, b in enumerate(bodies)]
    out = w.parse_warc(w.build_warc(recs, per_record_gzip=gz))
    assert len(out) == len(bodies)
    for (hdr, payload), body in zip(out, bodies):
        st_, _, got = w.parse_http_response(payload)
        assert st_ == 200 and got == body


# ---------------------------------------------------------------------------
# Round-8 surfaces: context_pairs / dictionary_tag vs brute-force models
# ---------------------------------------------------------------------------

_event_rows = st.lists(
    st.tuples(st.integers(1, 3),            # user
              st.integers(0, 20),           # ts (ties exercised)
              st.one_of(st.none(), st.sampled_from("abcd"))),  # event type
    min_size=1, max_size=25)


@settings(**_SETTINGS)
@given(rows=_event_rows, k=st.integers(1, 4))
def test_context_pairs_matches_python_model(spark, rows, k):
    from etl_excel_to_hyper_tableau_spark.streaming.events import (
        context_pairs,
    )

    data = [(f"u{u}", i, ts, et) for i, (u, ts, et) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "user_id string, event_id int, ts int, event_type string")
    got = {r["event_id"]: (list(r["context"]), r["target"]) for r in
           context_pairs(df, "user_id", "ts", "event_type",
                         "event_id", k=k).collect()}
    # brute force: nulls excluded from both roles, (ts, id) order,
    # up-to-k preceding same-user events, first event dropped
    want = {}
    by_user: dict = {}
    for uid, eid, ts, et in sorted(data, key=lambda t: (t[2], t[1])):
        if et is None:
            continue
        hist = by_user.setdefault(uid, [])
        if hist:
            want[eid] = (hist[-k:], et)
        hist.append(et)
    assert got == want


_dict_docs = st.lists(
    st.text(alphabet="ab \t", max_size=16), min_size=1, max_size=8)
_dict_phrases = st.lists(
    st.text(alphabet="ab \t", min_size=1, max_size=8).filter(str.strip),
    min_size=1, max_size=6)


@settings(**_SETTINGS)
@given(docs=_dict_docs, phrases=_dict_phrases)
@example(docs=EDGE_TEXTS, phrases=PHRASES)
def test_dictionary_tag_matches_python_model(spark, docs, phrases):
    from etl_excel_to_hyper_tableau_spark.operators.text import (
        dictionary_tag,
    )

    df = spark.createDataFrame(list(enumerate(docs)),
                               "doc_id int, text string")
    got = {(r["doc_id"], r["phrase"]): r["n_hits"] for r in
           dictionary_tag(df, "text", "doc_id", phrases).collect()}
    # brute force over the normalized dictionary: every alignment of
    # the phrase's token sequence inside the doc's token sequence
    norm = sorted({" ".join(p.split()) for p in phrases if p.strip()})
    want = {}
    for i, doc in enumerate(docs):
        toks = _java_tokens(doc)
        for p in norm:
            pt = p.split()
            hits = sum(1 for s in range(len(toks) - len(pt) + 1)
                       if toks[s:s + len(pt)] == pt)
            if hits:
                want[(i, p)] = hits
    assert got == want


def _morton_py(vals, bits):
    z = 0
    for b in range(bits):
        for j, v in enumerate(vals):
            z |= ((v >> b) & 1) << (b * len(vals) + j)
    return z


@settings(**_SETTINGS)
@given(pts=st.lists(st.tuples(st.integers(0, (1 << 16) - 1),
                              st.integers(0, (1 << 16) - 1),
                              st.integers(0, (1 << 16) - 1)),
                    min_size=1, max_size=12))
def test_zvalue_matches_reference_and_is_monotone(spark, pts):
    from etl_excel_to_hyper_tableau_spark.plans.zorder import zvalue

    df = spark.createDataFrame(pts, "x long, y long, w long")
    cols = [F.col("x"), F.col("y"), F.col("w")]
    got = {(r["x"], r["y"], r["w"]): r["z"]
           for r in df.withColumn("z", zvalue(cols, 16)).collect()}
    for p in pts:
        assert got[p] == _morton_py(p, 16)
        # coordinate-wise monotone: clearing any set bit lowers z
        for j, v in enumerate(p):
            if v:
                lower = list(p)
                lower[j] = v >> 1
                assert _morton_py(lower, 16) < got[p]


@settings(**_SETTINGS)
@given(seed=st.integers(0, 10**6),
       dims=st.tuples(st.integers(1, 12), st.integers(1, 6)))
def test_jl_matrix_portable_and_balanced(seed, dims):
    import math

    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        jl_matrix,
    )

    d, k = dims
    a = jl_matrix(d, k, seed)
    # deterministic (hash-derived, no RNG state) and exactly ±1/√k
    assert a == jl_matrix(d, k, seed)
    s = 1.0 / math.sqrt(float(k))
    assert all(abs(v) == s for row in a for v in row)
    # E[R_ik R_jk] = 0 sanity on a bigger draw: signs are not constant
    flat = [v for row in jl_matrix(64, 8, seed) for v in row]
    pos = sum(1 for v in flat if v > 0)
    assert 0 < pos < len(flat)


@settings(**_SETTINGS)
@given(edges=st.lists(st.tuples(st.integers(0, 15), st.integers(0, 15)),
                      min_size=1, max_size=30))
def test_connected_components_match_bruteforce(spark, edges):
    from etl_excel_to_hyper_tableau_spark.operators.graph import (
        connected_components,
    )

    # brute-force union-find reference
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    ref = {}
    for n in parent:
        ref[n] = min(m for m in parent if find(m) == find(n))

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["component"]
           for r in connected_components(df).collect()}
    assert got == ref


@settings(**_SETTINGS)
@given(keys=st.lists(st.integers(0, 5), min_size=0, max_size=25),
       factor=st.integers(1, 5))
def test_salted_join_equals_plain_join(spark, keys, factor):
    from etl_excel_to_hyper_tableau_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [(k, i) for i, k in enumerate(keys)] or [(None, None)],
        "k long, lv long").filter(F.col("k").isNotNull())
    right = spark.createDataFrame(
        [(k, k * 10) for k in range(6)], "k long, rv long")
    plain = sorted(map(tuple, left.join(right, "k").collect()))
    salted = sorted(map(tuple,
                        salted_join(left, right, "k",
                                    salt_factor=factor).collect()))
    assert salted == plain


@settings(**_SETTINGS)
@given(vals=st.lists(st.integers(-10**6, 10**6), min_size=1,
                     max_size=60))
def test_exact_quantiles_match_rank_definition(spark, vals):
    import math

    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        exact_quantiles,
    )

    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    got = {r["q"]: r["value"]
           for r in exact_quantiles(df, "v", qs=(0.25, 0.5, 0.9)).collect()}
    s = sorted(float(v) for v in vals)
    for q in (0.25, 0.5, 0.9):
        ref = s[max(1, math.ceil(q * len(s))) - 1]   # 1-based ceil rank
        assert got[q] == ref


@settings(**_SETTINGS)
@given(keys=st.lists(st.sampled_from("abcdef"), min_size=1,
                     max_size=50))
def test_count_min_never_undercounts(spark, keys):
    from collections import Counter

    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        count_min_build, count_min_estimate,
    )

    df = spark.createDataFrame([(k,) for k in keys], "k string")
    sk = count_min_build(df, "k", depth=3, width=16)
    qdf = spark.createDataFrame([(k,) for k in set(keys)], "k string")
    est = {r["key"]: r["est"]
           for r in count_min_estimate(sk, qdf, "k",
                                       depth=3, width=16).collect()}
    truth = Counter(keys)
    for k, n in truth.items():
        assert est[k] >= n          # one-sided error guarantee


_doc_text = st.text(alphabet="ab c.x\n", min_size=0, max_size=120)


@settings(**_SETTINGS)
@given(texts=st.lists(_doc_text, min_size=1, max_size=8))
def test_content_chunks_reconstruct_documents(spark, texts):
    """Chunk spans must tile each document exactly: contiguous,
    1-based, in order, covering every char — the invariant block-level
    dedup relies on."""
    from etl_excel_to_hyper_tableau_spark.operators.text import (
        content_chunks,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = content_chunks(df, "text", "doc_id", k=4, mask_bits=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["id"], []).append(r)
    for i, t in rows:
        chunks = sorted(by_doc.get(i, []), key=lambda r: r["chunk_idx"])
        if not t:
            assert chunks == []
            continue
        assert [c["chunk_idx"] for c in chunks] == list(
            range(1, len(chunks) + 1))
        pos = 1
        for c in chunks:
            assert c["start_char"] == pos
            pos += c["length"]
        assert pos - 1 == len(t)


@settings(**_SETTINGS)
@given(texts=st.lists(st.text(alphabet="ab  c", min_size=0, max_size=30),
                      min_size=1, max_size=10),
       window=st.integers(1, 7))
def test_pack_sequences_tile_the_token_stream(spark, texts, window):
    """Laid end-to-end in id order, every document's window span must
    match the running token offsets — no token lost or double-packed."""
    from etl_excel_to_hyper_tableau_spark.operators.packing import (
        pack_sequences,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r for r in
           pack_sequences(df, "text", "id",
                          window_tokens=window).collect()}
    offset = 0
    for i, t in rows:
        n = len(t.split())
        r = out[i]
        assert r["n_tokens"] == n
        assert r["start_offset"] == offset
        assert r["start_window"] == offset // window
        assert r["offset_in_window"] == offset % window
        if n:
            assert r["end_window"] == (offset + n - 1) // window
        offset += n


@settings(**_SETTINGS)
@given(pairs=st.lists(st.tuples(st.sampled_from(["a.com", "b.org", "c.io"]),
                                st.integers(0, 10**6)),
                      min_size=1, max_size=40, unique_by=lambda p: p[1]),
       cap=st.integers(1, 6))
def test_domain_cap_never_exceeds_cap_and_keeps_under_cap_domains_whole(
        spark, pairs, cap):
    from collections import Counter

    from etl_excel_to_hyper_tableau_spark.operators.web import domain_cap

    df = spark.createDataFrame(pairs, "domain string, id long")
    kept = domain_cap(df, "domain", "id", cap=cap).collect()
    truth = Counter(d for d, _ in pairs)
    got = Counter(r["domain"] for r in kept)
    for d, n in truth.items():
        assert got[d] == min(n, cap)
    for r in kept:
        assert 1 <= r["domain_rank"] <= cap


@settings(**_SETTINGS)
@given(texts=st.lists(st.text(alphabet="abcab", min_size=0, max_size=80),
                      min_size=1, max_size=3),
       k=st.sampled_from([3, 4, 8]), w=st.sampled_from([2, 3, 6, 9]))
@example(texts=EDGE_TEXTS, k=8, w=6)
@example(texts=EDGE_TEXTS, k=3, w=2)
@example(texts=EDGE_TEXTS, k=4, w=9)
def test_winnow_guarantee_one_fingerprint_per_window(spark, texts, k, w):
    """Winnowing's defining guarantee (SIGMOD'03): every window of w
    consecutive k-gram hashes contributes its minimum.  The fingerprints
    are exactly the sorted distinct window minima of a brute-force
    rolling min (one window when a document has at most w grams, none
    when it has no gram), and every document emits one row."""
    from etl_excel_to_hyper_tableau_spark.operators.text import (
        winnow_fingerprints,
    )

    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = {r["id"]: (r["n_grams"], r["n_fps"], list(r["fingerprints"]))
           for r in winnow_fingerprints(df, "text", "doc_id",
                                        k=k, w=w).collect()}
    want = {}
    for i, text in enumerate(texts):
        hashes = [_md5_60(text[j:j + k])
                  for j in range(len(text or "") - k + 1)]
        windows = [hashes[j:j + w]
                   for j in range(max(1, len(hashes) - w + 1))]
        fps = sorted({min(win) for win in windows if win})
        want[i] = (len(hashes), len(fps), fps)
    assert got == want


@settings(**_SETTINGS)
@given(groups=st.lists(st.integers(0, 9), min_size=1, max_size=40))
def test_group_split_is_leakage_free_and_total(spark, groups):
    from etl_excel_to_hyper_tableau_spark.operators.sampling import (
        group_split,
    )

    rows = [(i, g) for i, g in enumerate(groups)]
    df = spark.createDataFrame(rows, "id long, grp long")
    out = group_split(df, F.col("grp"),
                      {"train": 0.8, "eval": 0.2}).collect()
    assert len(out) == len(rows)                      # total
    by_group = {}
    for r in out:
        assert r["split"] in ("train", "eval")
        by_group.setdefault(r["group_key"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_group.values())  # leakage-free


@settings(**_SETTINGS)
@given(log=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50),
                              st.sampled_from("xyz")),
                    min_size=1, max_size=30,
                    unique_by=lambda r: (r[0], r[1])))
def test_scd2_intervals_tile_each_key_history(spark, log):
    """Per key: intervals are change-points only, contiguous
    (valid_to == next valid_from), exactly one current row, and the
    attribute actually changed at every boundary."""
    from etl_excel_to_hyper_tableau_spark.operators.cdc import (
        scd2_intervals,
    )

    df = spark.createDataFrame(log, "k long, ts long, attr string")
    out = scd2_intervals(df, "k", "ts", ["attr"]).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r["k"], []).append(r)
    keys = {k for k, _, _ in log}
    assert set(by_key) == keys
    for k in keys:
        hist = sorted(by_key[k], key=lambda r: r["valid_from"])
        # reference: change points of the ts-ordered log
        versions = sorted(((t, a) for kk, t, a in log if kk == k))
        ref = [(t, a) for i, (t, a) in enumerate(versions)
               if i == 0 or a != versions[i - 1][1]]
        assert [(r["valid_from"], r["attr"]) for r in hist] == ref
        for prev, nxt in zip(hist, hist[1:]):
            assert prev["valid_to"] == nxt["valid_from"]
        assert hist[-1]["valid_to"] is None and hist[-1]["is_current"]
        assert all(not r["is_current"] for r in hist[:-1])


@settings(**_SETTINGS)
@given(ev=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 10**5)),
                   min_size=1, max_size=40,
                   unique_by=lambda e: (e[0], e[1])))
def test_sessionize_matches_gap_rule_bruteforce(spark, ev):
    import datetime

    from etl_excel_to_hyper_tableau_spark.streaming.events import (
        sessionize_batch,
    )

    gap_min = 30
    rows = [(u, datetime.datetime(2024, 1, 1)
             + datetime.timedelta(seconds=s)) for u, s in ev]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = sorted((r["user_id"], r["n_events"],
                  r["session_start"], r["session_end"])
                 for r in sessionize_batch(df, gap_minutes=gap_min)
                 .collect())
    # brute force: sort each user's events, split on gap > 30 min
    ref = []
    by_user = {}
    for u, t in rows:
        by_user.setdefault(u, []).append(t)
    for u, ts in by_user.items():
        ts.sort()
        sess = [[ts[0]]]
        for a, b in zip(ts, ts[1:]):
            if (b - a).total_seconds() > gap_min * 60:
                sess.append([b])
            else:
                sess[-1].append(b)
        ref.extend((u, len(s), s[0], s[-1]) for s in sess)
    assert got == sorted(ref)


@settings(**_SETTINGS)
@given(obs=st.lists(st.tuples(st.integers(0, 1), st.integers(0, 72),
                              st.integers(-100, 100)),
                    min_size=1, max_size=25,
                    unique_by=lambda o: (o[0], o[1])))
def test_resample_ffill_matches_bruteforce_grid(spark, obs):
    import datetime

    from etl_excel_to_hyper_tableau_spark.operators.timeseries import (
        resample_ffill,
    )

    base = datetime.datetime(2024, 3, 1)
    rows = [(k, base + datetime.timedelta(minutes=17 * m), float(v))
            for k, m, v in obs]
    df = spark.createDataFrame(rows, "k long, t timestamp, v double")
    got = {(r["k"], r["grid_ts"]): r["v"]
           for r in resample_ffill(df, "k", "t", "v",
                                   step="1 hour").collect()}
    by_key = {}
    for k, t, v in rows:
        by_key.setdefault(k, []).append((t, v))
    ref = {}
    for k, pts in by_key.items():
        pts.sort()
        lo = pts[0][0].replace(minute=0, second=0, microsecond=0)
        g = lo
        while g <= pts[-1][0]:
            last = None
            for t, v in pts:
                if t <= g:
                    last = v
            ref[(k, g)] = last
            g += datetime.timedelta(hours=1)
    assert got == ref


_span_word = st.sampled_from(["a", "b", "c", "d"])


@settings(**_SETTINGS)
@given(docs=st.lists(st.lists(_span_word, min_size=0, max_size=14),
                     min_size=1, max_size=5),
       span=st.integers(2, 4))
def test_dup_span_removal_matches_bruteforce_excision(spark, docs, span):
    """ExactSubstr reference semantics: every L-token window duplicated
    anywhere in the corpus is excised from all occurrences except the
    corpus-wide first (smallest (doc_id, start)); docs rebuild from
    surviving tokens."""
    from etl_excel_to_hyper_tableau_spark.operators.dedup import (
        dup_span_removal,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["n_removed"], r["cleaned_text"])
           for r in dup_span_removal(df, "text", "doc_id",
                                     span_tokens=span).collect()}

    # brute force
    occ = {}   # span text -> list[(doc, start)]
    for i, toks in enumerate(docs):
        for s in range(max(0, len(toks) - span + 1)):
            occ.setdefault(" ".join(toks[s:s + span]),
                           []).append((i, s))
    removed = {i: set() for i in range(len(docs))}
    for _, places in occ.items():
        if len(places) > 1:
            places.sort()
            for d, s in places[1:]:            # losers only
                removed[d].update(range(s, s + span))
    for i, toks in enumerate(docs):
        keep = [t for p, t in enumerate(toks) if p not in removed[i]]
        assert got[i] == (len(toks), len(removed[i]), " ".join(keep)), \
            (i, docs, span)


@settings(**_SETTINGS)
@given(text=st.text(alphabet="abcd", min_size=0, max_size=40))
def test_minhash_and_simhash_match_python_replay(spark, text):
    """Signature arithmetic replayed bit-for-bit in Python: distinct
    3-gram md5s reduced to 31 bits, k permutation mins mod M61; simhash
    as the 60-bit majority vote."""
    import hashlib

    from etl_excel_to_hyper_tableau_spark.functions.hashing import (
        MERSENNE61, md5_int64, minhash_signature, perm_constants,
        simhash_from_hashes,
    )

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    df = spark.createDataFrame([(text,)], "t string")
    row = df.select(
        minhash_signature(F.col("t"), k=4, n=3).alias("mh"),
        simhash_from_hashes(
            F.transform(F.split(F.col("t"), " "),
                        lambda w: md5_int64(w))).alias("sh")).collect()[0]

    grams = []
    for i in range(max(0, len(text) - 2)):
        g = text[i:i + 3]
        if g not in grams:
            grams.append(g)
    hs = [h60(g) % (1 << 31) for g in grams]
    if hs:
        ref_mh = [min((h * a + b) % MERSENNE61 for h in hs)
                  for a, b in perm_constants(4)]
        assert list(row["mh"]) == ref_mh
    else:
        assert row["mh"] is None or all(v is None for v in row["mh"])

    toks = text.split(" ")
    th = [h60(t) for t in toks]
    ref_sh = 0
    for j in range(60):
        votes = sum(1 if (x >> j) & 1 else -1 for x in th)
        if votes > 0:
            ref_sh |= 1 << j
    assert row["sh"] == ref_sh


@settings(**_SETTINGS)
@given(docs=st.lists(st.lists(st.sampled_from(["nav", "body1", "body2",
                                               "footer", "x"]),
                              min_size=0, max_size=6),
                     min_size=1, max_size=8))
def test_boilerplate_removal_matches_df_threshold(spark, docs):
    import math

    from etl_excel_to_hyper_tableau_spark.operators.text import (
        remove_boilerplate_lines,
    )

    rows = [(i, "\n".join(lines)) for i, lines in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r["clean_text"] for r in
           remove_boilerplate_lines(df, "text", "doc_id",
                                    min_frac=0.5).collect()}
    thr = math.ceil(0.5 * len(docs))
    docfreq = {}
    for i, lines in enumerate(docs):
        for ln in set(lines):
            docfreq[ln] = docfreq.get(ln, 0) + 1
    boiler = {ln for ln, n in docfreq.items() if n >= thr}
    for i, lines in enumerate(docs):
        ref = "\n".join(ln for ln in lines if ln not in boiler)
        assert got[i] == ref, (docs, boiler)


@settings(**_SETTINGS)
@given(sizes=st.lists(st.integers(0, 30), min_size=1, max_size=30),
       n_shards=st.integers(1, 5))
def test_balanced_shards_serpentine_assignment(spark, sizes, n_shards):
    from etl_excel_to_hyper_tableau_spark.operators.packing import (
        balanced_shards,
    )

    rows = [(i, " ".join(["t"] * n)) for i, n in enumerate(sizes)]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: (r["n_tokens"], r["rank"], r["shard"]) for r in
           balanced_shards(df, "text", "id", n_shards=n_shards).collect()}
    # reference: rank by (n_tokens desc, id asc), serpentine deal
    order = sorted(range(len(sizes)), key=lambda i: (-sizes[i], i))
    for pos, i in enumerate(order):
        rank = pos + 1
        rnd, off = divmod(pos, n_shards)
        shard = off if rnd % 2 == 0 else n_shards - 1 - off
        assert out[i] == (sizes[i], rank, shard), (sizes, n_shards, i)


@settings(**_SETTINGS)
@given(ev=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 40),
                             st.sampled_from("pqr")),
                   min_size=2, max_size=40,
                   unique_by=lambda e: (e[0], e[1])))
def test_event_transitions_match_bigram_counts(spark, ev):
    from collections import Counter

    from etl_excel_to_hyper_tableau_spark.streaming.events import (
        event_transitions,
    )

    rows = [(u, t, typ, 1000 * u + t) for u, t, typ in ev]
    df = spark.createDataFrame(
        rows, "user_id long, ts long, event_type string, event_id long")
    got = {(r["prev_type"], r["next_type"]): (r["cnt"], r["prev_total"])
           for r in event_transitions(df, topk=3).collect()}
    ref = Counter()
    by_user = {}
    for u, t, typ, _ in rows:
        by_user.setdefault(u, []).append((t, typ))
    for u, seq in by_user.items():
        seq.sort()
        for (_, a), (_, b) in zip(seq, seq[1:]):
            ref[(a, b)] += 1
    totals = Counter()
    for (a, _), n in ref.items():
        totals[a] += n
    for (a, b), n in ref.items():
        # the operator keeps topk per prev; verify any returned pair
        if (a, b) in got:
            assert got[(a, b)] == (n, totals[a])
    # and the top-1 next per prev must always be present
    for a in totals:
        best = max(((n, b) for (x, b), n in ref.items() if x == a),
                   key=lambda t: (t[0], [-ord(c) for c in t[1]]))
        assert any(k[0] == a for k in got)


@settings(**_SETTINGS)
@given(ev=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 500),
                             st.sampled_from(["view", "click", "buy"])),
                   min_size=1, max_size=40,
                   unique_by=lambda e: (e[0], e[1])))
def test_funnel_matches_earliest_chain_bruteforce(spark, ev):
    import datetime

    from etl_excel_to_hyper_tableau_spark.streaming.events import funnel

    base = datetime.datetime(2024, 1, 1)
    rows = [(u, base + datetime.timedelta(minutes=m), typ, 10 * u + i)
            for i, (u, m, typ) in enumerate(ev)]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, "
              "event_id long")
    steps = ["view", "click", "buy"]
    within = 60
    got = {r["user_id"]: (r["t1"], r["t2"], r["t3"],
                          r["steps_completed"])
           for r in funnel(df, steps, within_minutes=within).collect()}

    by_user = {}
    for u, t, typ, _ in rows:
        by_user.setdefault(u, []).append((t, typ))
    ref = {}
    for u, seq in by_user.items():
        views = sorted(t for t, typ in seq if typ == "view")
        if not views:
            continue
        t1 = views[0]
        deadline = t1 + datetime.timedelta(minutes=within)
        chain = [t1]
        cur = t1
        for s in steps[1:]:
            nxt = sorted(t for t, typ in seq
                         if typ == s and t > cur and t <= deadline)
            if not nxt:
                break
            cur = nxt[0]
            chain.append(cur)
        ref[u] = (chain[0],
                  chain[1] if len(chain) > 1 else None,
                  chain[2] if len(chain) > 2 else None,
                  len(chain))
    assert got == ref


@settings(**_SETTINGS)
@given(docs=st.lists(st.lists(st.sampled_from("uvwxy"),
                              min_size=1, max_size=10),
                     min_size=1, max_size=6))
def test_tfidf_matches_formula_bruteforce(spark, docs):
    import math
    from collections import Counter

    from etl_excel_to_hyper_tableau_spark.operators.text import tfidf_topk

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # k >= vocab so every (doc, term) row comes back and the ranking
    # can be verified against the full candidate set
    out = tfidf_topk(df, "text", "doc_id", k=10).collect()
    n = len(docs)
    dfreq = Counter()
    for toks in docs:
        for t in set(toks):
            dfreq[t] += 1
    by_doc = {}
    for r in out:
        toks = docs[r["id"]]
        tf = Counter(toks)[r["term"]]
        assert r["tf"] == tf and r["df"] == dfreq[r["term"]]
        # JVM Math.log and glibc log can differ in the last ulp —
        # tolerance compare (the oracle contract rounds to 6)
        ref = tf * math.log((n + 1) / (dfreq[r["term"]] + 1))
        assert abs(r["score"] - ref) < 1e-9
        by_doc.setdefault(r["id"], []).append(r)
    for i, toks in enumerate(docs):
        rs = sorted(by_doc[i], key=lambda r: r["rank"])
        assert {r["term"] for r in rs} == set(toks)   # all terms ranked
        # ranks ordered by (score desc, term asc) over the OPERATOR's
        # own scores (ULP-exact internal consistency)
        ordered = sorted(rs, key=lambda r: (-r["score"], r["term"]))
        assert [r["term"] for r in ordered] == [r["term"] for r in rs]


@settings(**_SETTINGS)
@given(rows=st.lists(st.tuples(st.sampled_from("ab"), st.integers(0, 2)),
                     min_size=1, max_size=30),
       k=st.integers(2, 5))
def test_k_anonymity_report_flags_exactly_the_small_groups(spark, rows,
                                                           k):
    from collections import Counter

    from etl_excel_to_hyper_tableau_spark.operators.quality import (
        k_anonymity_report,
    )

    df = spark.createDataFrame(rows, "zip string, age long")
    got = {(r["zip"], r["age"]): r["group_size"]
           for r in k_anonymity_report(df, ["zip", "age"], k=k).collect()}
    truth = Counter(rows)
    ref = {g: n for g, n in truth.items() if n < k}
    assert got == ref


@settings(**_SETTINGS)
@given(vals=st.lists(st.sampled_from("pqrs"), min_size=1, max_size=40))
def test_key_skew_report_matches_counter(spark, vals):
    from collections import Counter

    from etl_excel_to_hyper_tableau_spark.operators.skew import (
        key_skew_report,
    )

    df = spark.createDataFrame([(v,) for v in vals], "k string")
    out = key_skew_report(df, "k", topk=2).collect()
    truth = Counter(vals)
    total, nkeys = len(vals), len(truth)
    ref = sorted(truth.items(), key=lambda t: (-t[1], t[0]))[:2]
    assert [(r["key_value"], r["n_rows"]) for r in
            sorted(out, key=lambda r: r["rank"])] == ref
    for r in out:
        n = truth[r["key_value"]]
        assert abs(r["share"] - n / total) < 1e-12
        assert abs(r["hot_factor"] - n * nkeys / total) < 1e-12


@settings(**_SETTINGS)
@given(ev=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 40)),
                   min_size=1, max_size=40,
                   unique_by=lambda e: (e[0], e[1])))
def test_cohort_retention_matches_bruteforce(spark, ev):
    import datetime
    from collections import Counter

    from etl_excel_to_hyper_tableau_spark.streaming.events import (
        cohort_retention,
    )

    base = datetime.datetime(2024, 1, 1)   # a Monday
    rows = [(u, base + datetime.timedelta(days=d)) for u, d in ev]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {(r["cohort_week"], r["week_offset"]): r["n_users"]
           for r in cohort_retention(df).collect()}

    def week(t):
        return (t - datetime.timedelta(days=t.weekday())) \
            .replace(hour=0, minute=0, second=0, microsecond=0)

    first = {}
    for u, t in rows:
        first[u] = min(first.get(u, t), t)
    active = {(u, week(t)) for u, t in rows}
    ref = Counter()
    for u, w in active:
        cw = week(first[u])
        ref[(cw, (w - cw).days // 7)] += 1
    assert got == dict(ref)


_pii_atom = st.sampled_from([
    "hello", "a.b@x.io", "JOHN_99@mail-srv.co.uk", "555-123-4567",
    "+1 555 123 4567", "123456789", "12345678901", "12.5", "x@y",
    "call 303.555.0100 now", "id:987654321x", "a@b.c", "...",
])


@settings(**_SETTINGS)
@given(parts=st.lists(_pii_atom, min_size=0, max_size=6))
def test_pii_redact_matches_python_re_replay(spark, parts):
    """Same pattern list replayed through Python `re` in the same
    order — guards the Java-regex vs PCRE divergence class (\\b, {m,},
    character-class subtleties) on realistic composites."""
    import re

    from etl_excel_to_hyper_tableau_spark.operators.text import (
        PII_PATTERNS, pii_redact,
    )

    text = " ".join(parts)
    df = spark.createDataFrame([(text,)], "t string")
    got = df.select(pii_redact(F.col("t")).alias("r")).collect()[0]["r"]
    ref = text
    for _, pat, token in PII_PATTERNS:
        ref = re.sub(pat, token, ref)
    assert got == ref, (text,)


def _bucket_py(salt, rid):
    import hashlib

    h = int(hashlib.md5(f"{salt}:{rid}".encode()).hexdigest()[:15], 16)
    return h % 10000


@settings(**_SETTINGS)
@given(ids=st.lists(st.integers(0, 10**6), min_size=1, max_size=40,
                    unique=True),
       w=st.integers(1, 99))
def test_split_assignment_matches_bucket_replay_and_is_stable(spark, ids,
                                                              w):
    from etl_excel_to_hyper_tableau_spark.operators.sampling import (
        hash_split,
    )

    splits = {"train": w / 100.0, "test": 1.0 - w / 100.0}
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = {r["id"]: r["split"]
           for r in hash_split(df, "id", splits).collect()}
    edge = round(splits["train"] * 10000)
    for i in ids:
        ref = "train" if _bucket_py("split", i) < edge else "test"
        assert got[i] == ref
    # stability: a second run (different partitioning) agrees exactly
    got2 = {r["id"]: r["split"]
            for r in hash_split(df.repartition(7), "id",
                                splits).collect()}
    assert got2 == got


@settings(**_SETTINGS)
@given(rows=st.lists(st.tuples(st.integers(0, 10**6),
                               st.sampled_from("AB")),
                     min_size=1, max_size=40,
                     unique_by=lambda r: r[0]),
       fa=st.integers(0, 100))
def test_stratified_sample_membership_replay(spark, rows, fa):
    from etl_excel_to_hyper_tableau_spark.operators.sampling import (
        stratified_sample,
    )

    fractions = {"A": fa / 100.0}          # B uses default 0.0
    df = spark.createDataFrame(rows, "id long, s string")
    kept = {r["id"] for r in
            stratified_sample(df, "id", "s", fractions).collect()}
    thr = round(fractions["A"] * 10000)
    ref = {i for i, s in rows
           if s == "A" and _bucket_py("sample", i) < thr}
    assert kept == ref


@settings(**_SETTINGS)
@given(rows=st.lists(st.tuples(st.integers(0, 10**6),
                               st.sampled_from("AB")),
                     min_size=1, max_size=30,
                     unique_by=lambda r: r[0]),
       tenths=st.integers(0, 34))
def test_upsample_epochs_copy_counts_replay(spark, rows, tenths):
    from etl_excel_to_hyper_tableau_spark.operators.sampling import (
        upsample_epochs,
    )

    e = tenths / 10.0                        # epochs for stratum A
    df = spark.createDataFrame(rows, "id long, s string")
    out = upsample_epochs(df, "id", "s", {"A": e},
                          default=1.0).collect()
    got = {}
    for r in out:
        got.setdefault(r["id"], []).append(r["epoch"])
    full, frac_buckets = int(e), int(round((e - int(e)) * 10000))
    for i, s in rows:
        if s == "B":
            expect = 1
        else:
            expect = full + (1 if _bucket_py("epoch", i) < frac_buckets
                             else 0)
        copies = sorted(got.get(i, []))
        assert len(copies) == expect, (i, s, e)
        assert copies == list(range(expect))   # 0-based epoch index


@settings(**_SETTINGS)
@given(docs=st.lists(st.lists(st.sampled_from("mnop"),
                              min_size=0, max_size=8),
                     min_size=1, max_size=6))
def test_bigram_lm_matches_bruteforce_counts(spark, docs):
    from collections import Counter

    from etl_excel_to_hyper_tableau_spark.operators.text import (
        bigram_lm_topk,
    )

    rows = [(i, " ".join(t)) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = bigram_lm_topk(df, "text", "doc_id", topk=10).collect()
    ref = Counter()
    for toks in docs:
        for a, b in zip(toks, toks[1:]):
            ref[(a, b)] += 1
    totals = Counter()
    for (a, _), n in ref.items():
        totals[a] += n
    got = {(r["w1"], r["w2"]): (r["cnt"], r["w1_total"]) for r in out}
    assert got == {k: (n, totals[k[0]]) for k, n in ref.items()}
    for r in out:
        assert abs(r["p"] - r["cnt"] / r["w1_total"]) < 1e-12


@settings(**_SETTINGS)
@given(docs=st.lists(st.lists(st.sampled_from("gh"),
                              min_size=0, max_size=12),
                     min_size=1, max_size=6))
def test_repetition_profile_matches_bruteforce_ratios(spark, docs):
    from collections import Counter

    from etl_excel_to_hyper_tableau_spark.operators.text import (
        repetition_profile,
    )

    rows = [(i, " ".join(t)) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r for r in
           repetition_profile(df, "text", "doc_id").collect()}
    for i, toks in enumerate(docs):
        n = len(toks)
        if n == 0:
            # contract: zero-token docs emit no row (see docstring)
            assert i not in got
            continue
        r = got[i]
        cnt = Counter(toks)
        assert r["dup_token_frac"] == 1.0 - len(cnt) / n
        assert r["top_token_frac"] == max(cnt.values()) / n
        bigrams = list(zip(toks, toks[1:]))
        if len(toks) < 2:
            assert r["dup_bigram_frac"] == 0.0
        else:
            assert r["dup_bigram_frac"] == \
                1.0 - len(set(bigrams)) / len(bigrams)


@settings(**_SETTINGS)
@given(rows=st.lists(st.tuples(st.sampled_from("AB"),
                               st.integers(-50, 50)),
                     min_size=1, max_size=30))
def test_robust_anomalies_match_median_mad_bruteforce(spark, rows):
    import math

    from etl_excel_to_hyper_tableau_spark.streaming.events import (
        robust_value_anomalies,
    )

    data = [(k, i, float(v)) for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "key string, id long, v double")
    got = {(r["key"], r["id"]): (r["med"], r["mad"], r["rscore"])
           for r in robust_value_anomalies(df, "key", "v", "id",
                                           z=1.0).collect()}

    def disc_median(xs):  # rank-ceil(n/2) over (value, id) order
        xs = sorted(xs)
        return xs[math.ceil(len(xs) / 2) - 1]

    ref = {}
    by_key = {}
    for k, i, v in data:
        by_key.setdefault(k, []).append((i, v))
    for k, pts in by_key.items():
        med = disc_median([(v, i) for i, v in pts])[0]
        mad = disc_median([(abs(v - med), i) for i, v in pts])[0]
        if mad <= 0:
            continue   # constant-majority keys flag nothing
        for i, v in pts:
            sc = 0.6745 * (v - med) / mad
            if abs(sc) > 1.0:
                ref[(k, i)] = (med, mad, sc)
    assert set(got) == set(ref)
    for k in got:
        assert got[k][0] == ref[k][0] and got[k][1] == ref[k][1]
        assert abs(got[k][2] - ref[k][2]) < 1e-12


@settings(**_SETTINGS)
@given(vals=st.lists(st.integers(-100, 100), min_size=0, max_size=40),
       bins=st.integers(2, 8))
def test_histogram_sketch_cells_match_bruteforce(spark, vals, bins):
    import math

    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        histogram_sketch,
    )

    df = spark.createDataFrame([(float(v),) for v in vals] or
                               [(None,)], "v double")
    cells = histogram_sketch(df.where(F.col("v").isNotNull()),
                             "v", bins=bins).collect()
    if not vals:
        assert cells == []
        return
    lo, hi, n = min(vals), max(vals), len(vals)
    ref = {}
    for v in vals:
        if hi > lo:
            b = min(bins - 1, int(math.floor((v - lo) / (hi - lo) * bins)))
        else:
            b = 0
        ref[b] = ref.get(b, 0) + 1
    got = {r["bin"]: r["cnt"] for r in cells}
    assert got == ref
    for r in cells:
        assert (r["lo"], r["hi"], r["n"]) == (float(lo), float(hi), n)


@settings(**_SETTINGS)
@given(rows=st.lists(st.tuples(st.sampled_from("AB"),
                               st.integers(0, 9),      # quality
                               st.integers(1, 20)),    # size
                     min_size=1, max_size=30),
       budget=st.integers(1, 60))
def test_budget_select_matches_greedy_prefix(spark, rows, budget):
    from etl_excel_to_hyper_tableau_spark.operators.sampling import (
        budget_select,
    )

    data = [(i, s, float(q), n) for i, (s, q, n) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, s string, q double, n long")
    got = {r["id"]: r["cum_size"]
           for r in budget_select(df, "s", "q", "n", "id",
                                  budget=budget).collect()}
    ref = {}
    for stratum in {s for _, s, _, _ in data}:
        items = sorted(((q, i, n) for i, s, q, n in data if s == stratum),
                       key=lambda t: (-t[0], t[1]))
        cum = 0
        for q, i, n in items:
            cum += n
            if cum > budget:
                break
            ref[i] = cum
    assert got == ref


@settings(**_SETTINGS)
@given(ids=st.lists(st.integers(0, 10**6), min_size=1, max_size=40,
                    unique=True),
       n_shards=st.integers(1, 4))
def test_training_order_is_the_hash_permutation(spark, ids, n_shards):
    import hashlib

    from etl_excel_to_hyper_tableau_spark.operators.packing import (
        training_order,
    )

    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = {r["id"]: (r["rank"], r["shard"], r["pos"]) for r in
           training_order(df, "id", n_shards=n_shards).collect()}

    def h(i):
        return int(hashlib.md5(f"shuffle:{i}".encode())
                   .hexdigest()[:15], 16)

    order = sorted(ids, key=lambda i: (h(i), i))
    for pos, i in enumerate(order):
        rank = pos + 1
        assert got[i] == (rank, pos % n_shards, pos // n_shards), \
            (ids, n_shards)


_url_parts = st.tuples(
    st.sampled_from(["http", "https", "HTTP", "HtTpS"]),
    st.sampled_from(["Example.COM", "a.b.io", "X-1.net"]),
    st.sampled_from(["", ":80", ":443", ":8080"]),
    st.sampled_from(["", "/", "/Path/One", "/p"]),
    st.sampled_from(["", "?a=1", "?utm_source=x", "?a=1&utm_medium=y",
                     "?utm_campaign=z&b=2", "?gclid=g&a=1&fbclid=f"]),
    st.sampled_from(["", "#frag", "#a/b?c"]))


@settings(**_SETTINGS)
@given(parts=_url_parts)
def test_canonicalize_url_matches_python_reference(spark, parts):
    """RFC 3986 §6 normalization replayed in plain Python — guards the
    regexp-chain semantics (fragment strip, case, default ports,
    tracking-param strip with separator repair, bare-slash drop)."""
    import re

    from etl_excel_to_hyper_tableau_spark.operators.web import (
        canonicalize_url,
    )

    scheme, host, port, path, query, frag = parts
    url = f"{scheme}://{host}{port}{path}{query}{frag}"
    df = spark.createDataFrame([(url,)], "u string")
    got = df.select(canonicalize_url(F.col("u")).alias("c")) \
        .collect()[0]["c"]

    # reference
    u = url.split("#", 1)[0]
    sch = scheme.lower()
    h = host.lower()
    p = port
    if (sch == "http" and p == ":80") or (sch == "https" and p == ":443"):
        p = ""
    rest = path
    q = query
    if q:
        params = q[1:].split("&")
        keep = [x for x in params
                if not re.match(r"^(utm_[a-z]+|gclid|fbclid)=", x)]
        q = ("?" + "&".join(keep)) if keep else ""
    ref = f"{sch}://{h}{p}{rest}{q}"
    if rest == "/" and not q:
        ref = f"{sch}://{h}{p}"
    assert got == ref, (url,)


@settings(**_SETTINGS)
@given(rows=st.lists(st.tuples(st.sampled_from("ABC"),
                               st.integers(1, 100)),
                     min_size=1, max_size=25))
def test_mixture_weights_alpha_half_formula(spark, rows):
    import math

    from etl_excel_to_hyper_tableau_spark.operators.sampling import (
        mixture_weights,
    )

    df = spark.createDataFrame(rows, "s string, n long")
    out = {r["stratum"]: r for r in
           mixture_weights(df, "s", F.col("n")).collect()}
    totals = {}
    for s, n in rows:
        totals[s] = totals.get(s, 0) + n
    tot = sum(totals.values())
    tot_a = sum(math.sqrt(float(n)) for n in totals.values())
    for s, n in totals.items():
        r = out[s]
        assert r["n_items"] == n
        assert abs(r["share"] - n / tot) < 1e-12
        assert abs(r["weight"] - math.sqrt(float(n)) / tot_a) < 1e-12
        assert abs(r["boost"] - r["weight"] / r["share"]) < 1e-12
    # weights are a distribution
    assert abs(sum(r["weight"] for r in out.values()) - 1.0) < 1e-9


@settings(**_SETTINGS)
@given(corpus=st.lists(st.tuples(st.integers(1, 9), st.integers(1, 9),
                                 st.integers(0, 1)),
                       min_size=2, max_size=20),
       q=st.tuples(st.integers(1, 9), st.integers(1, 9),
                   st.integers(0, 1)))
def test_hard_negatives_are_nearest_other_label(spark, corpus, q):
    import numpy as np

    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        hard_negatives,
    )

    crows = [(i, [float(x), float(y)], lbl)
             for i, (x, y, lbl) in enumerate(corpus)]
    cdf = spark.createDataFrame(
        crows, "id long, vec array<double>, label long")
    qdf = spark.createDataFrame(
        [(100, [float(q[0]), float(q[1])], q[2])],
        "qid long, qvec array<double>, qlabel long")
    out = sorted(hard_negatives(cdf, qdf, "vec", "id", "label",
                                "qvec", "qid", "qlabel", k=3).collect(),
                 key=lambda r: r["rank"])
    qv = np.array([float(q[0]), float(q[1])])
    cands = []
    for i, v, lbl in crows:
        if lbl == q[2]:
            continue
        v = np.array(v)
        cos = float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v)))
        # 9 dp — the operator's documented rounding contract (raw
        # doubles let 1-ulp fold noise outrank the id tiebreak on
        # query-parallel vectors; this test found that bug in round 9)
        cands.append((round(cos, 9), i))
    cands.sort(key=lambda t: (-t[0], t[1]))
    assert [r["id"] for r in out] == [i for _, i in cands[:3]]
    assert all(r["label"] != q[2] for r in out)
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))


@settings(**_SETTINGS)
@given(cdocs=st.lists(st.text(alphabet="abc ", min_size=0, max_size=30),
                      min_size=1, max_size=6),
       bdocs=st.lists(st.text(alphabet="abc ", min_size=0, max_size=30),
                      min_size=1, max_size=3))
def test_contamination_pairs_match_shingle_intersection(spark, cdocs,
                                                        bdocs):
    from etl_excel_to_hyper_tableau_spark.operators.dedup import (
        contamination_pairs,
    )

    n, min_common = 5, 2
    cdf = spark.createDataFrame(list(enumerate(cdocs)),
                                "doc_id long, text string")
    bdf = spark.createDataFrame(list(enumerate(bdocs)),
                                "doc_id long, text string")
    got = {(r["corpus_id"], r["bench_id"]): r["n_common"] for r in
           contamination_pairs(cdf, bdf, "text", "doc_id",
                               n=n, min_common=min_common).collect()}

    def grams(t):
        return {t[i:i + n] for i in range(max(0, len(t) - n + 1))}

    ref = {}
    for ci, ct in enumerate(cdocs):
        for bi, bt in enumerate(bdocs):
            common = len(grams(ct) & grams(bt))
            if common >= min_common:
                ref[(ci, bi)] = common
    assert got == ref, (cdocs, bdocs)


@settings(**_SETTINGS)
@given(base=st.text(alphabet="abcd", min_size=6, max_size=20),
       n_dups=st.integers(2, 4),
       n_unique=st.integers(0, 3))
def test_soft_dedup_weights_sum_to_effective_docs(spark, base, n_dups,
                                                  n_unique):
    """A cluster of near-identical docs carries total weight ~1; every
    unclustered doc weighs exactly 1 — so Σ weights ≈ effective
    document count (the SoftDedup invariant)."""
    from etl_excel_to_hyper_tableau_spark.operators.dedup import (
        soft_dedup_weights,
    )

    rows = [(i, base) for i in range(n_dups)]
    rows += [(100 + j, f"zz{j}qq{j}xx{j}ww") for j in range(n_unique)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["weight"] for r in
           soft_dedup_weights(df, "text", "doc_id",
                              threshold=0.5).collect()}
    assert set(out) == {i for i, _ in rows}       # every doc keeps a row
    # identical docs form one cluster: each weighs 1/n_dups
    for i in range(n_dups):
        assert abs(out[i] - 1.0 / n_dups) < 1e-12
    for j in range(n_unique):
        assert out[100 + j] == 1.0


@settings(**_SETTINGS)
@given(docs=st.lists(st.lists(st.sampled_from("de"),
                              min_size=0, max_size=8),
                     min_size=1, max_size=6))
def test_doc_novelty_matches_prefix_bruteforce(spark, docs):
    from etl_excel_to_hyper_tableau_spark.operators.text import (
        doc_novelty,
    )

    rows = [(i, " ".join(t)) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: (r["n_bigrams"], r["n_novel"], r["novelty"])
           for r in doc_novelty(df, "text", "doc_id").collect()}
    seen_first = {}
    for i, toks in enumerate(docs):
        for a, b in zip(toks, toks[1:]):
            seen_first.setdefault(f"{a} {b}", i)
    for i, toks in enumerate(docs):
        bgs = {f"{a} {b}" for a, b in zip(toks, toks[1:])}
        if not bgs:
            assert got[i] == (0, 0, 1.0)
            continue
        novel = sum(1 for g in bgs if seen_first[g] == i)
        assert got[i] == (len(bgs), novel, novel / len(bgs)), (docs, i)


@settings(**_SETTINGS)
@given(ids=st.lists(st.integers(1, 50), min_size=1, max_size=25,
                    unique=True),
       k=st.integers(1, 4))
def test_negative_pairs_match_hash_candidates(spark, ids, k):
    import hashlib

    from etl_excel_to_hyper_tableau_spark.operators.sampling import (
        negative_pairs,
    )

    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = {(r["id"], r["r"]): r["neg_id"]
           for r in negative_pairs(df, "id", k=k).collect()}
    mx = max(ids)
    idset = set(ids)
    ref = {}
    for i in ids:
        for r in range(k):                     # r is 0-based
            cand = 1 + int(hashlib.md5(f"neg:{i}:{r}".encode())
                           .hexdigest()[:15], 16) % mx
            if cand != i and cand in idset:
                ref[(i, r)] = cand
    assert got == ref, (ids, k)


@settings(**_SETTINGS)
@given(lrows=st.lists(st.tuples(st.integers(0, 1), st.integers(0, 30)),
                      min_size=1, max_size=20),
       rrows=st.lists(st.tuples(st.integers(0, 1), st.integers(0, 30),
                                st.integers(0, 99)),
                      min_size=1, max_size=20,
                      unique_by=lambda r: (r[0], r[1])),
       direction=st.sampled_from(["backward", "forward"]))
def test_asof_join_matches_bruteforce(spark, lrows, rrows, direction):
    from etl_excel_to_hyper_tableau_spark.operators.interval import (
        asof_join,
    )

    ldf = spark.createDataFrame([(k, t, 1000 + i)
                                 for i, (k, t) in enumerate(lrows)],
                                "k long, ts long, lv long")
    rdf = spark.createDataFrame(rrows, "k long, ts long, rv long")
    got = sorted((r["k"], r["ts"], r["lv"], r["r_ts"], r["r_rv"])
                 for r in asof_join(ldf, rdf, "k", "ts",
                                    direction=direction).collect())
    ref = []
    for i, (k, t) in enumerate(lrows):
        if direction == "backward":
            cands = [(rt, rv) for rk, rt, rv in rrows
                     if rk == k and rt <= t]
            best = max(cands) if cands else None
        else:
            cands = [(rt, rv) for rk, rt, rv in rrows
                     if rk == k and rt >= t]
            best = min(cands) if cands else None
        if best is not None:
            ref.append((k, t, 1000 + i, best[0], best[1]))
    assert got == sorted(ref), (lrows, rrows, direction)


@settings(**_SETTINGS)
@given(points=st.lists(st.integers(-40, 40), min_size=1, max_size=20),
       ranges=st.lists(st.tuples(st.integers(-40, 40),
                                 st.integers(0, 20)),
                       min_size=1, max_size=15),
       width=st.sampled_from([1.0, 2.5, 7.0]))
def test_range_join_binned_matches_theta_semantics(spark, points,
                                                   ranges, width):
    from etl_excel_to_hyper_tableau_spark.operators.interval import (
        range_join_binned,
    )

    pdf = spark.createDataFrame([(i, float(p))
                                 for i, p in enumerate(points)],
                                "pid long, x double")
    rdf = spark.createDataFrame([(j, float(lo), float(lo + ln))
                                 for j, (lo, ln) in enumerate(ranges)],
                                "rid long, lo double, hi double")
    got = sorted((r["pid"], r["rid"]) for r in
                 range_join_binned(pdf, rdf, "x", "lo", "hi",
                                   bin_width=width).collect())
    ref = sorted((i, j)
                 for i, p in enumerate(points)
                 for j, (lo, ln) in enumerate(ranges)
                 if lo <= p <= lo + ln)
    assert got == ref, (points, ranges, width)


_BM25_TERMS = ["the", "hash", "batch", "absentterm"]


@settings(**_SETTINGS)
@given(docs=st.lists(st.lists(st.sampled_from(["cat", "dog", "fox"]),
                              min_size=1, max_size=8).map(" ".join),
                     min_size=1, max_size=6),
       terms=st.lists(st.sampled_from(["cat", "FOX", "owl"]),
                      min_size=1, max_size=3),
       corpus_stats=st.none())
@example(docs=EDGE_TEXTS, terms=_BM25_TERMS, corpus_stats=None)
@example(docs=EDGE_TEXTS, terms=_BM25_TERMS, corpus_stats=(12, 400))
@example(docs=["cat dog"], terms=[], corpus_stats=None)
def test_bm25_scores_match_formula(spark, docs, terms, corpus_stats):
    """Scores, hit counts and the set of scored documents == the BM25
    formula evaluated in Python (NULL text is an empty document; no
    query terms gives no rows, with the same columns)."""
    import math
    from collections import Counter

    from etl_excel_to_hyper_tableau_spark.operators.text import (
        bm25_scores,
    )

    k1, b = 1.2, 0.75
    df = spark.createDataFrame(list(enumerate(docs)),
                               "doc_id long, text string")
    out = bm25_scores(df, "text", "doc_id", terms,
                      corpus_stats=corpus_stats)
    assert out.dtypes == [("id", "bigint"), ("n_terms_hit", "bigint"),
                          ("score", "double")]
    got = {r["id"]: (r["n_terms_hit"], r["score"]) for r in out.collect()}
    toks = [[t.lower() for t in _java_tokens(d)] for d in docs]
    q = sorted({t.lower() for t in terms})
    n, sum_dl = corpus_stats or (len(docs), sum(map(len, toks)))
    avgdl = sum_dl / n
    dfreq = {t: sum(1 for d in toks if t in d) for t in q}
    want = {}
    for i, d in enumerate(toks):
        cnt = Counter(d)
        hit = [t for t in q if cnt[t]]      # sorted-token fold order
        if not hit:
            continue
        ref = 0.0
        for t in hit:
            idf = math.log(1.0 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            ref += idf * cnt[t] * (k1 + 1) / (cnt[t] + k1 * (
                1 - b + b * len(d) / avgdl))
        want[i] = (len(hit), ref)
    assert got.keys() == want.keys(), (docs, terms)
    for i, (n_hit, ref) in want.items():
        assert got[i][0] == n_hit
        assert abs(got[i][1] - ref) < 1e-9, (docs, i)


@settings(**_SETTINGS)
@given(texts=st.lists(st.text(alphabet="aB é́ .http://x.co m@y.de ",
                              min_size=0, max_size=40),
                      min_size=1, max_size=6))
def test_normalize_text_is_idempotent(spark, texts):
    """normalize(normalize(x)) == normalize(x): NFC, lowering, URL and
    email strips, and whitespace collapse must all be fixpoints on
    their own output."""
    from etl_excel_to_hyper_tableau_spark.operators.text import (
        normalize_text,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    once = normalize_text(df, "text", "doc_id") \
        .select(F.col("id").alias("doc_id"), "text")
    twice = normalize_text(once, "text", "doc_id") \
        .select("id", "text")
    a = {r["doc_id"]: r["text"] for r in once.collect()}
    b = {r["id"]: r["text"] for r in twice.collect()}
    assert a == b, (texts,)


# ---------------------------------------------------------------------------
# round-10 property campaign: rrf_fuse / maxsim_topk / auto_salted_join
# ---------------------------------------------------------------------------

def _rrf_python_model(rankings, k, c):
    """Driver replay of rrf_fuse's exact arithmetic: pico terms are
    HALF-UP-rounded doubles (floor(x+0.5) ≡ Spark's F.round for
    positive x), absent documents contribute nothing, final score is
    the exact integer sum / 1e12."""
    import math

    pico: dict = {}
    for system in rankings:
        for qid, did, rank in system:
            key = (qid, did)
            pico[key] = pico.get(key, 0) + int(
                math.floor(1e12 / (c + rank) + 0.5))
    per_q: dict = {}
    for (qid, did), p in pico.items():
        per_q.setdefault(qid, []).append((p / 1e12, did))
    out = {}
    for qid, lst in per_q.items():
        lst.sort(key=lambda t: (-t[0], t[1]))
        out[qid] = lst[:k]
    return out


_ranking = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 9)),
    min_size=1, max_size=12, unique=True)


@settings(**_SETTINGS)
@given(sys_a=_ranking, sys_b=_ranking, k=st.integers(1, 4))
def test_rrf_fuse_matches_python_model(spark, sys_a, sys_b, k):
    """Fused top-k equals the exact-integer Python replay for random
    rankings — including documents absent from one system (they score
    only the present system's reciprocal)."""
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        rrf_fuse,
    )

    def ranked(pairs):
        # per-query dense ranks in list order (unique (qid,id) pairs)
        seen: dict = {}
        out = []
        for qid, did in pairs:
            seen[qid] = seen.get(qid, 0) + 1
            out.append((qid, did, seen[qid]))
        return out

    ra, rb = ranked(sys_a), ranked(sys_b)
    dfa = spark.createDataFrame(ra, "query_id long, id long, rank long")
    dfb = spark.createDataFrame(rb, "query_id long, id long, rank long")
    got: dict = {}
    for r in rrf_fuse([dfa, dfb], k=k, c=60).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rrf_score"], r["id"], r["rank"]))
    model = _rrf_python_model([ra, rb], k, 60)
    assert set(got) == set(model)
    for qid in model:
        got[qid].sort(key=lambda t: t[2])
        assert [(s, i) for s, i, _ in got[qid]] == model[qid]


@settings(**_SETTINGS)
@given(sys_a=_ranking, sys_b=_ranking)
def test_rrf_fuse_system_order_invariant(spark, sys_a, sys_b):
    """RRF is a sum over systems: fusing [A, B] must equal [B, A]
    exactly (the pico-integer quantization makes the sum
    order-independent — the property a double sum would not have)."""
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        rrf_fuse,
    )

    def _dense_ranks(pairs):
        seen: dict = {}
        out = []
        for q, _ in pairs:
            seen[q] = seen.get(q, 0) + 1
            out.append(seen[q])
        return out

    ra = [(q, d, r) for (q, d), r in zip(sys_a, _dense_ranks(sys_a))]
    rb = [(q, d, r) for (q, d), r in zip(sys_b, _dense_ranks(sys_b))]
    dfa = spark.createDataFrame(ra, "query_id long, id long, rank long")
    dfb = spark.createDataFrame(rb, "query_id long, id long, rank long")
    ab = sorted(map(tuple, rrf_fuse([dfa, dfb], k=5).collect()))
    ba = sorted(map(tuple, rrf_fuse([dfb, dfa], k=5).collect()))
    assert ab == ba


def _maxsim_python_model(corpus, queries, k):
    """Sequential-left-fold replay of maxsim_topk: cos as dot/(na·nb)
    with 0.0-seeded folds (the engine's _cosine order), per-query sum
    over tokens in order, round half-up at 9, NULL (zero-norm / empty
    doc) dropped before the rank."""
    import math

    def cos(a, b):
        dot = 0.0
        for x, y in zip(a, b):
            dot += x * y
        na = nb = 0.0
        for x in a:
            na += x * x
        for y in b:
            nb += y * y
        den = math.sqrt(na) * math.sqrt(nb)
        if den == 0.0:
            return None
        return dot / den

    out = {}
    for qid, qtoks in queries:
        scored = []
        for did, dtoks in corpus:
            acc = 0.0
            dead = False
            for qt in qtoks:
                best = None
                for dt in dtoks:
                    cv = cos(qt, dt)
                    if cv is not None and (best is None or cv > best):
                        best = cv
                if best is None:
                    dead = True
                    break
                acc += best
            if dead:
                continue
            q = math.floor(abs(acc) * 1e9 + 0.5) / 1e9
            scored.append((math.copysign(q, acc), did))
        scored.sort(key=lambda t: (-t[0], t[1]))
        out[qid] = scored[:k]
    return out


_tok_vec = st.lists(st.floats(-2, 2, allow_nan=False, width=32),
                    min_size=3, max_size=3)
_toks = st.lists(_tok_vec, min_size=1, max_size=3)


@settings(**_SETTINGS)
@given(corpus=st.lists(_toks, min_size=1, max_size=5),
       queries=st.lists(_toks, min_size=1, max_size=2))
def test_maxsim_matches_python_model(spark, corpus, queries):
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        maxsim_topk,
    )
    crows = [(i, t) for i, t in enumerate(corpus)]
    qrows = [(100 + i, t) for i, t in enumerate(queries)]
    cdf = spark.createDataFrame(
        crows, "id long, toks array<array<double>>")
    qdf = spark.createDataFrame(
        qrows, "qid long, qtoks array<array<double>>")
    got: dict = {}
    for r in maxsim_topk(cdf, qdf, "toks", "id", "qtoks", "qid",
                         k=3).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["maxsim"], r["id"]))
    model = _maxsim_python_model(crows, qrows, 3)
    for qid, lst in model.items():
        mine = sorted(got.get(qid, []))
        assert [(s, i) for _, s, i in mine] == lst, (qid, mine, lst)


def test_maxsim_zero_norm_and_empty_doc_drop(spark):
    """A zero-norm QUERY token nulls every doc's score (no rows for
    that query); an empty / all-zero doc token array drops only that
    doc — never a NULL maxsim in the top-k (the round-10 fix)."""
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        maxsim_topk,
    )
    cdf = spark.createDataFrame(
        [(1, [[1.0, 0.0]]), (2, []), (3, [[0.0, 0.0]])],
        "id long, toks array<array<double>>")
    qdf = spark.createDataFrame(
        [(10, [[1.0, 1.0]]), (11, [[0.0, 0.0]])],
        "qid long, qtoks array<array<double>>")
    rows = maxsim_topk(cdf, qdf, "toks", "id", "qtoks", "qid",
                       k=3).collect()
    assert all(r["maxsim"] is not None for r in rows)
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], set()).add(r["id"])
    assert by_q.get(10) == {1}      # empty + zero-norm docs dropped
    assert 11 not in by_q           # zero-norm query token nulls all


@settings(**_SETTINGS)
@given(hot=st.integers(0, 5), n_hot=st.integers(6, 40),
       tail=st.lists(st.integers(0, 5), max_size=15))
def test_auto_salted_join_equals_plain_join(spark, hot, n_hot, tail):
    """auto_salted_join values == the plain equi-join for random skews
    (extends the static salted property to the histogram-derived
    form): one measured-hot key, an unsalted cold tail."""
    from etl_excel_to_hyper_tableau_spark.operators.skew import (
        auto_salted_join,
    )
    keys = [hot] * n_hot + tail
    left = spark.createDataFrame(
        [(k, i) for i, k in enumerate(keys)], "k long, lv long")
    right = spark.createDataFrame(
        [(k, k * 10) for k in range(6)], "k long, rv long")
    plain = sorted(map(tuple, left.join(right, "k").collect()))
    auto = sorted(map(tuple,
                      auto_salted_join(left, right, "k",
                                       hot_threshold=2.0,
                                       topk=8).collect()))
    assert auto == plain


@settings(**_SETTINGS)
@given(keys=st.lists(st.integers(0, 8), min_size=1, max_size=30))
def test_auto_salted_left_join_preserves_unmatched(spark, keys):
    """how='left' keeps every left row exactly once when unmatched —
    salting must not duplicate or drop the NULL-extended rows."""
    from etl_excel_to_hyper_tableau_spark.operators.skew import (
        auto_salted_join,
    )
    left = spark.createDataFrame(
        [(k, i) for i, k in enumerate(keys)], "k long, lv long")
    right = spark.createDataFrame(
        [(k, k * 10) for k in range(4)], "k long, rv long")  # 5-8 unmatched
    plain = sorted(map(tuple,
                       left.join(right, "k", "left").collect()))
    auto = sorted(map(tuple,
                      auto_salted_join(left, right, "k", how="left",
                                       hot_threshold=1.5,
                                       topk=4).collect()))
    assert auto == plain


@settings(**_SETTINGS)
@given(vals=st.lists(st.floats(0, 1000, allow_nan=False, width=32),
                     min_size=1, max_size=60),
       width=st.sampled_from([5.0, 20.0, 125.0]))
def test_fixed_histogram_quantile_within_width(spark, vals, width):
    """Every fixed-grid quantile estimate lands within one bin width
    of an exact order statistic of the input (the sketch's absolute
    error contract), for random values and widths."""
    from etl_excel_to_hyper_tableau_spark.operators.sketches import (
        fixed_histogram_cells, fixed_histogram_quantiles_py,
    )
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    cells = [(r["bin"], r["cnt"])
             for r in fixed_histogram_cells(df, "v", width).collect()]
    est = fixed_histogram_quantiles_py(cells, width, qs=(0.5, 0.9))
    srt = sorted(vals)
    for q in (0.5, 0.9):
        lo = srt[max(0, int(q * len(srt)) - 1)]
        hi = srt[min(len(srt) - 1, int(q * len(srt)))]
        assert lo - width <= est[q] <= hi + width, (q, est[q], lo, hi)


_vec4 = st.lists(st.floats(-1, 1, allow_nan=False, width=16),
                 min_size=4, max_size=4)

# Non-degenerate variant BY CONSTRUCTION (a near-zero vector is patched,
# not rejected): an `assume` over every vector of a 10-22 vector sample
# rejects most shrunk examples (hypothesis shrinks floats toward 0) and
# trips the filter_too_much health check.
_vec4_nz = _vec4.map(
    lambda v: v if any(abs(x) > 1e-6 for x in v) else [0.25] + v[1:])


@settings(**_SETTINGS)
@given(corpus=st.lists(_vec4_nz, min_size=9, max_size=20),
       queries=st.lists(_vec4_nz, min_size=1, max_size=2))
def test_ivfpq_full_probe_full_refine_equals_exact_property(
        spark, corpus, queries):
    """For ANY corpus/query set: probing every cell with a full-corpus
    refine shortlist reproduces the exact cosine top-k — the ADC stage
    may reorder the shortlist but can never drop a true neighbor.

    Zero vectors yield NULL cosines on both paths; the property is
    about ranking, not NULL semantics (covered elsewhere), so the
    strategy patches degenerate vectors instead of assume()-rejecting
    the whole multi-vector sample (which filtered >85% of examples)."""
    from etl_excel_to_hyper_tableau_spark.operators.similarity import (
        ivfpq_topk, topk_cosine_batch,
    )
    cdf = spark.createDataFrame([(i, v) for i, v in enumerate(corpus)],
                                "id long, emb array<double>")
    qdf = spark.createDataFrame(
        [(100 + i, v) for i, v in enumerate(queries)],
        "qid long, emb array<double>")
    exact = {(r["query_id"], r["id"])
             for r in topk_cosine_batch(cdf, qdf, "emb", "id", "emb",
                                        "qid", k=3,
                                        rank_round=9).collect()}
    got = {(r["query_id"], r["id"])
           for r in ivfpq_topk(cdf, qdf, "emb", "id", "emb", "qid",
                               k=3, n_cells=3, nprobe=3, m=2,
                               n_codes=4, refine=len(corpus)).collect()}
    assert got == exact
