"""Deduplication operators for training-data pipelines.

All variants are pure DataFrame ops (JVM-side expressions, no Python in
the hot path) and scale by construction:

* :func:`exact_dedup` — hash-groupBy on content digest; one shuffle on
  a high-entropy key (md5), so no skew; at 100 TB this is the classic
  map-side-combine + exchange plan.
* :func:`ngram_jaccard_pairs` — exact Jaccard via shingle inverted
  index: explode distinct shingles → equi-join on shingle → count
  common shingles per pair.  Never compares documents that share no
  shingle — the join *is* the candidate filter.  Shuffle key = shingle
  hash; hot shingles (stopword-grams) are capped via document-frequency
  pruning (``max_df``) exactly like a real dedup pipeline drops
  too-common shingles.
* :func:`minhash_lsh_candidates` / :func:`minhash_dedup` — MinHash
  signatures banded into LSH buckets; candidates only join within a
  bucket.  Signature arithmetic is engine-portable
  (:mod:`..functions.hashing`), so an external SQL oracle can verify
  values bit-for-bit.
* :func:`simhash_pairs` — 60-bit SimHash with pigeonhole banding:
  pairs within Hamming distance *d* share at least one of *d+1* bit
  chunks, so bucketing on chunks finds all of them without O(n²).
* :func:`embedding_cosine_pairs` — near-duplicate detection on an
  embedding column; exact all-pairs within blocks for small/verified
  runs, random-hyperplane (sign-LSH) bucketing for the scale path.

Pair conventions: output pairs always have ``id_a < id_b``; dedup
variants keep the smallest id of each duplicate group (standard
"first-writer-wins" semantics).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .parallelism import spread
from ..functions.hashing import MERSENNE61, char_ngrams, perm_constants


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Keep one row (smallest ``id_col``) per distinct content.

    Digest = md5 over the concatenated content columns (null-safe with
    unit separators).  GroupBy the digest → min id → semi-join back.
    Two shuffles total, both on high-entropy keys; the semi-join
    broadcasts when the survivor set is small.
    """
    digest = F.md5(F.concat_ws("\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                                         for c in content_cols]))
    with_digest = df.withColumn("__digest__", digest)
    survivors = (with_digest.groupBy("__digest__")
                 .agg(F.min(id_col).alias(id_col)))
    return (with_digest.join(survivors, [id_col, "__digest__"], "left_semi")
            .drop("__digest__"))


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, inverted-index join)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        n: int = 3, threshold: float = 0.5,
                        max_df: int | None = None) -> DataFrame:
    """All pairs with character-n-gram Jaccard ≥ threshold.

    Plan: distinct shingles per doc → explode → (optional) drop
    shingles appearing in more than ``max_df`` docs (stopword-shingle
    skew guard — at 100 TB a shingle like ``'the'`` would otherwise
    create a quadratic bucket; with it, per-shingle join fan-out is
    bounded by ``max_df²``) → self-equi-join on shingle → count common
    shingles per (a, b) → Jaccard from inclusion–exclusion.  The
    document-frequency prune is a partial-aggregatable groupBy + keep-set
    join (broadcast when small), never a window over the exploded rows.

    With ``max_df`` set, the result is Jaccard **over the pruned
    shingle space**: document sizes are recomputed after pruning, so
    identical documents still score exactly 1.0 and the measure stays a
    true Jaccard (of the informative, non-stopword shingles).

    Output: ``id_a, id_b, jaccard`` with ``id_a < id_b``.
    """
    shingled = (spread(df).select(
                    F.col(id_col).alias("id"),
                    F.array_distinct(char_ngrams(F.col(text_col), n)).alias("sh"))
                .withColumn("sz", F.size("sh")))
    exploded = shingled.select("id", "sz", F.explode("sh").alias("g"))
    if max_df is not None:
        # document frequency via groupBy, not a window: the aggregate
        # gets a map-side partial combine, so the shuffle moves one row
        # per (partition, shingle) instead of every exploded row — with
        # shingle cardinality ≪ row count (always true for char n-grams:
        # ≤ alphabet^n) that is orders of magnitude less traffic.  The
        # keep-set joins back as a broadcast when small (AQE decides);
        # per-doc sizes are recomputed post-prune the same way.
        # persist: the exploded shingle table feeds both the DF count
        # and the prune join (Catalyst does not CSE across DataFrame
        # references — unpersisted, the substring/explode subtree would
        # re-run per branch); MEMORY_AND_DISK, so at scale it spills
        # rather than re-reading the corpus.
        exploded = exploded.persist()
        dfq = exploded.groupBy("g").agg(F.count("*").alias("__df__"))
        keep = dfq.filter(F.col("__df__") <= max_df).select("g")
        pruned = exploded.drop("sz").join(keep, "g")
        sizes = pruned.groupBy("id").agg(F.count("*").alias("sz"))
        exploded = pruned.join(sizes, "id")
    # both self-join sides read this — persist for the same reason
    exploded = exploded.persist()
    a = exploded.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"), "g")
    b = exploded.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"), "g")
    common = (a.join(b, "g")
              .filter(F.col("id_a") < F.col("id_b"))
              .groupBy("id_a", "id_b", "sz_a", "sz_b")
              .agg(F.count("*").alias("common")))
    jac = F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common"))
    return (common.withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def jaccard_join(df: DataFrame, text_col: str, id_col: str,
                 threshold: float = 0.9,
                 ngrams: int | None = None) -> DataFrame:
    """EXACT set-similarity self-join with prefix + length filtering
    (AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al.
    WWW'08): all pairs whose word-token sets have Jaccard ≥
    ``threshold``, with zero false negatives — the exact companion to
    the MinHash path (:func:`minhash_candidates` trades recall for a
    bounded candidate set; this trades a verify join for exactness).

    The candidate generator is the prefix-filter theorem: under ONE
    global token order, if ``|x∩y| ≥ α`` then the first
    ``|x|−α+1`` tokens of x and of y intersect — so with tokens
    ordered rarest-first (df asc, token asc) each document emits only
    its ``|s| − ⌈t·|s|⌉ + 1`` RAREST tokens into the self-join.  At
    100 TB this is the standard exact-join scale story: hot tokens
    (the quadratic buckets) sit at the ORDER'S TAIL and never generate
    candidates unless a document consists almost entirely of them,
    and the length filter ``t·|a| ≤ |b| ≤ |a|/t`` prunes
    cross-size candidates before the verify shuffle.  Compare
    :func:`ngram_jaccard_pairs`, whose ``max_df`` guard buys the same
    bound by DROPPING hot shingles (changing the measure); the prefix
    filter keeps the measure exact.

    Plan: distinct tokens per doc → token df groupBy (partial agg) →
    rarest-first per-doc sort (doc-bounded collect_list) → prefix
    explode self-join (candidates) → verify join computing exact
    Jaccard from ``array_intersect`` on the full sorted sets.
    Output: ``id_a, id_b, jaccard`` (``id_a < id_b``).

    ``ngrams``: set-unit switch — ``None`` = whitespace word tokens;
    an int = character n-gram shingles, the
    :func:`ngram_jaccard_pairs` measure.  The two implementations are
    INDEPENDENT (prefix-filtered vs inverted-index) and must agree
    exactly on shared inputs — pinned by
    tests/test_jaccard_join.py::test_agrees_with_ngram_jaccard_pairs.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    from .text import tokens as _tokens

    units = (_tokens(F.col(text_col)) if ngrams is None
             else char_ngrams(F.col(text_col), ngrams))
    toks = (spread(df)
            .select(F.col(id_col).alias("id"),
                    F.explode(F.array_distinct(units)).alias("g")))
    dfreq = toks.groupBy("g").agg(F.count(F.lit(1)).alias("__df__"))
    ordered = (toks.join(dfreq, "g")
               .groupBy("id")
               .agg(F.sort_array(F.collect_list(
                   F.struct(F.col("__df__").alias("c"),
                            F.col("g").alias("g")))).alias("o"))
               .select("id",
                       F.col("o.g").alias("set"),
                       F.size("o").cast("long").alias("sz")))
    # metadata-sized per doc; three consumers (prefix + both verify
    # sides) — persist, then eager-checkpoint the result and release
    # (the hash63_pairs boundary doctrine)
    sets = ordered.persist()
    # 1e-9 guard: binary-float t·sz can land a hair ABOVE the exact
    # product (e.g. 0.95·20), and ceil would then shorten the prefix by
    # one — a recall bug.  The guard only ever LENGTHENS the prefix.
    p = F.greatest(
        F.col("sz")
        - F.ceil(F.lit(float(threshold)) * F.col("sz") - F.lit(1e-9)) + 1,
        F.lit(1))
    prefix = sets.select("id", "sz",
                         F.explode(F.slice("set", 1, p)).alias("g"))
    a = prefix.select(F.col("id").alias("id_a"),
                      F.col("sz").alias("pa"), "g")
    b = prefix.select(F.col("id").alias("id_b"),
                      F.col("sz").alias("pb"), "g")
    t = F.lit(float(threshold))
    cand = (a.join(b, "g")
            .filter((F.col("id_a") < F.col("id_b"))
                    & (F.col("pb") >= t * F.col("pa") - F.lit(1e-9))
                    & (F.col("pa") >= t * F.col("pb") - F.lit(1e-9)))
            .select("id_a", "id_b").distinct())
    sa = sets.select(F.col("id").alias("id_a"),
                     F.col("set").alias("ta"), F.col("sz").alias("sz_a"))
    sb = sets.select(F.col("id").alias("id_b"),
                     F.col("set").alias("tb"), F.col("sz").alias("sz_b"))
    inter = F.size(F.array_intersect("ta", "tb")).cast("long")
    jac = inter / (F.col("sz_a") + F.col("sz_b") - inter)
    out = (cand.join(sa, "id_a").join(sb, "id_b")
           .withColumn("jaccard", jac)
           .filter(F.col("jaccard") >= t)
           .select("id_a", "id_b", "jaccard")
           .localCheckpoint(eager=True))
    sets.unpersist()
    return out


def sorted_neighborhood_pairs(df: DataFrame, key_col: str, id_col: str,
                              window: int = 4) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD'95 —
    the THIRD classic candidate generator next to LSH banding and
    prefix filtering): sort the corpus by a blocking key and emit
    every pair within ``window`` positions.  Catches near-duplicates
    whose keys are lexicographically adjacent but not equal (typos,
    prefixes) — the case equi-blocking misses and token-set methods
    pay a verify join for.

    Scale shape — the distributed two-phase rank (the
    ``exact_quantiles`` machinery), NEVER a single-reducer global
    window: range-repartition on (key, id), per-partition local
    ``row_number`` plus the partition's global offset (metadata-sized
    count collect), then neighbors come from an equi-join on rank
    (each row emits its ``window`` successor ranks — corpus·window
    rows, the method's defined output size).  Output: ``id_a, id_b,
    key_a, key_b, dist`` (rank distance 1..window; ``id_a`` is the
    rank-earlier row).
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    from pyspark.sql import Window as W

    vals = (spread(df)
            .select(F.col(key_col).alias("k"), F.col(id_col).alias("id"))
            .repartitionByRange(F.col("k").asc(), F.col("id").asc())
            .sortWithinPartitions(F.col("k").asc(), F.col("id").asc())
            .withColumn("__pid__", F.spark_partition_id())
            .localCheckpoint(eager=True))
    part_counts = (vals.groupBy("__pid__")
                   .agg(F.count(F.lit(1)).alias("c"))
                   .orderBy("__pid__").collect())
    offsets, acc = {}, 0
    for r in part_counts:
        offsets[r["__pid__"]] = acc
        acc += r["c"]
    if acc == 0:
        schema = df.select(F.col(id_col).alias("id_a"),
                           F.col(id_col).alias("id_b"),
                           F.col(key_col).alias("key_a"),
                           F.col(key_col).alias("key_b")).schema
        empty = df.sparkSession.createDataFrame([], schema)
        return empty.withColumn("dist", F.lit(0).cast("long")).limit(0)
    off_map = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv])
    w = W.partitionBy("__pid__").orderBy(F.col("k").asc(),
                                         F.col("id").asc())
    ranked = (vals.withColumn(
        "rank", (off_map[F.col("__pid__")]
                 + F.row_number().over(w)).cast("long"))
        .drop("__pid__"))
    left = ranked.select(
        F.col("id").alias("id_a"), F.col("k").alias("key_a"), "rank",
        F.explode(F.sequence(
            F.col("rank") + 1,
            F.col("rank") + window)).alias("rank2"))
    right = ranked.select(F.col("rank").alias("rank2"),
                          F.col("id").alias("id_b"),
                          F.col("k").alias("key_b"))
    return (left.join(right, "rank2")
            .select("id_a", "id_b", "key_a", "key_b",
                    (F.col("rank2") - F.col("rank")).cast("long")
                    .alias("dist")))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MD5_INT64_SQL = "cast(conv(substr(md5({x}), 1, 15), 16, 10) as bigint)"


def with_minhash(df: DataFrame, text_col: str, id_col: str,
                 k: int = 32, n: int = 3) -> DataFrame:
    """Attach a k-wide MinHash signature column ``sig`` (array<bigint>).

    Relational formulation: explode the distinct shingle set, hash each
    shingle once (codegen'd md5 + modular arithmetic), and take the k
    permutation minima as a single groupBy aggregation.  Spark's
    higher-order functions (``transform``/``aggregate``) are evaluated
    interpreted, per element — expressing the permutation scans as
    ordinary aggregates keeps the whole pipeline inside whole-stage
    codegen with map-side partial mins, and the one shuffle moves only
    (id, k minima).  Values are bit-identical to the expression form
    (:func:`...functions.hashing.minhash_signature`).

    The k-min aggregate is assembled as **one SQL expression string**
    (single ``F.expr``), not k Column objects: per-Column Py4J
    round-trips dominate wall time for wide expression trees (measured
    ~1-2 s of pure driver-side plan construction for the 60-term
    simhash build at any data size — a per-query constant that matters
    at bench scale and wastes driver time at 100 TB scale too).

    Docs whose text yields no shingles (length < n) produce no rows
    (the expression form yields an empty-array signature; every caller
    filters those out anyway).
    """
    grams = spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(char_ngrams(F.col(text_col), n))).alias("g"))
    hashed = grams.selectExpr(
        "id", f"{_MD5_INT64_SQL.format(x='g')} % {1 << 31} as h")
    mins = ", ".join(
        f"min((h * {a_i} + {b_i}) % {MERSENNE61})"
        for a_i, b_i in perm_constants(k))
    return hashed.groupBy("id").agg(F.expr(f"array({mins})").alias("sig"))


def _check_bands(k: int, bands: int) -> None:
    """Banding only covers the whole signature when ``bands`` divides
    ``k`` — a remainder would silently leave the trailing ``k % bands``
    signature positions out of every digest while ``est_jaccard`` still
    divides by ``k``.  Shared by every banding entry point."""
    if k % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide the signature width k ({k}); "
            f"a k % bands remainder would drop {k % bands} signature "
            "positions from the band digests")


def _band_inline_sql(bands: int, r: int) -> str:
    """``inline(array(struct(band, bh), ...))`` SQL arm splitting a
    k-wide ``sig`` array into ``bands`` md5 band digests — one
    expression string for the same Py4J-cost reason as the signature
    aggregates."""
    arms = ", ".join(
        "struct({i} as band, md5(concat_ws(',', {cols})) as bh)".format(
            i=i,
            cols=", ".join(f"cast(sig[{i * r + j}] as string)" for j in range(r)))
        for i in range(bands))
    return f"inline(array({arms}))"


def minhash_lsh_candidates(df: DataFrame, text_col: str, id_col: str,
                           k: int = 32, n: int = 3, bands: int = 8) -> DataFrame:
    """Candidate pairs via LSH banding: signature split into ``bands``
    bands of ``k//bands`` rows; docs sharing any band hash are
    candidates.  Shuffle key = (band index, band digest) — uniformly
    distributed, so bucket skew only appears where true near-duplicate
    clusters exist (which is exactly the data you must look at anyway).

    Output: ``id_a, id_b, est_jaccard`` (estimate = fraction of equal
    signature positions), deduped across bands.
    """
    _check_bands(k, bands)
    r = k // bands
    # persist: the signature table is referenced four times below (both
    # join sides + both sig lookups); without it Catalyst re-evaluates
    # the md5-per-shingle subtree once per reference.  Size is
    # id + k×8 bytes per doc — negligible next to the text it summarizes
    sigs = (with_minhash(df, text_col, id_col, k=k, n=n)
            .filter(F.size("sig") > 0).persist())
    # the self-join and the distinct move only (id, band, bh) — never the
    # k-wide signature arrays: inside a true-duplicate cluster of size m
    # the join emits m² rows per band, and shuffling m²·k sig values is
    # what dominates; the two sig lookups afterwards touch just the
    # deduped pair set against the linear-size signature table
    buckets = sigs.selectExpr("id", _band_inline_sql(bands, r))
    a = buckets.select(F.col("id").alias("id_a"), "band", "bh")
    b = buckets.select(F.col("id").alias("id_b"), "band", "bh")
    pairs = (a.join(b, ["band", "bh"])
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b")
             .distinct())
    pairs = (pairs
             .join(sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a")
             .join(sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b"))
    # estimated Jaccard = fraction of equal signature positions
    eq = F.expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), b -> b))")
    return pairs.select("id_a", "id_b",
                        (eq.cast("double") / F.lit(k)).alias("est_jaccard"))


def minhash_dedup(df: DataFrame, text_col: str, id_col: str,
                  k: int = 32, n: int = 3, bands: int = 8,
                  threshold: float | None = 0.7) -> DataFrame:
    """Drop every doc that has a candidate near-duplicate with a smaller
    id (single-linkage by transitivity is deliberately NOT computed —
    one LSH round removes the overwhelming mass of duplicates and keeps
    the operator a bounded number of shuffles; iterate to a fixpoint for
    full connected components).

    ``threshold=None`` selects the **linear scale path**: a doc is
    dropped iff it shares any LSH bucket with a smaller id — computed as
    ``min(id) over (band, bh)`` with no pairwise join, so a duplicate
    cluster of size m costs O(m·bands) instead of O(m²).  The similarity
    cutoff then lives entirely in the (k, bands) S-curve, which is how
    production minhash dedup is tuned.  With a float threshold, bucket
    collisions are verified against the signature estimate (quadratic in
    cluster size — the verification-grade variant).
    """
    _check_bands(k, bands)
    if threshold is None:
        sigs = with_minhash(df, text_col, id_col, k=k, n=n).filter(F.size("sig") > 0)
        r = k // bands
        buckets = sigs.selectExpr("id", _band_inline_sql(bands, r))
        # min-per-bucket as a window, not groupBy+self-join: one shuffle
        # on (band, bh), and the signature subtree is evaluated once
        w = Window.partitionBy("band", "bh")
        losers = (buckets.withColumn("min_id", F.min("id").over(w))
                  .filter(F.col("id") > F.col("min_id"))
                  .select(F.col("id").alias(id_col)).distinct())
    else:
        cand = (minhash_lsh_candidates(df, text_col, id_col, k=k, n=n, bands=bands)
                .filter(F.col("est_jaccard") >= threshold))
        losers = cand.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def minhash_band_table(df: DataFrame, text_col: str, id_col: str,
                       k: int = 32, n: int = 3,
                       bands: int = 8) -> DataFrame:
    """The stageable dedup index: one row per (doc, band) with the band
    digest and the full signature attached — ``id, band, bh, sig``.
    Write this partitioned/bucketed by ``(band, bh)`` once per corpus
    snapshot (or append per accepted batch) and every future
    incremental dedup joins against it without touching corpus text.
    Size: docs × bands rows of (2 longs + digest + k longs)."""
    _check_bands(k, bands)
    r = k // bands
    sigs = (with_minhash(df, text_col, id_col, k=k, n=n)
            .filter(F.size("sig") > 0))
    return sigs.selectExpr("id", _band_inline_sql(bands, r), "sig")


def minhash_incremental_candidates(new_df: DataFrame | None,
                                   corpus_df: DataFrame | None,
                                   text_col: str, id_col: str,
                                   k: int = 32, n: int = 3,
                                   bands: int = 8,
                                   corpus_bands: DataFrame | None = None,
                                   new_bands: DataFrame | None = None,
                                   ) -> DataFrame:
    """Incremental-ingestion dedup: near-duplicate candidates between a
    NEW batch and the already-ingested corpus — the daily shape of a
    production pipeline, where re-running the full self-join over the
    whole corpus per batch would be O(corpus) instead of O(batch).

    Only cross-side pairs are generated: the corpus is never paired
    against itself, so per-batch cost is the batch's band table joined
    against the corpus band table (equi-join on (band, digest)).  Pass
    ``corpus_bands`` — a staged :func:`minhash_band_table` — instead of
    ``corpus_df`` to skip re-hashing corpus text entirely: at 100 TB
    the band table is built once (appended per accepted batch) and the
    per-batch cost no longer touches the corpus at all.  Ids may
    overlap between the two sides (a re-ingested doc); identical ids
    are not reported as pairs.

    Output: ``new_id, corpus_id, est_jaccard``.

    Caching contract: when this call derives a band table itself (a
    ``new_df``/``corpus_df`` argument), that table is persisted for the
    duration of the call (each side is referenced twice — bucket join +
    signature lookup), the **result is eagerly materialized**
    (``localCheckpoint`` — the candidate-pair set is three narrow
    columns, orders of magnitude smaller than the corpus), and the band
    caches are **unpersisted before returning** — repeated one-shot
    calls leave no cached band tables behind.  Loop callers (streaming
    ingest) pass precomputed ``*_bands``, keep the fully lazy plan, and
    own persist/unpersist per micro-batch, as
    :func:`...streaming.ingest.curated_ingest` does.
    """
    _check_bands(k, bands)
    if (corpus_df is None) == (corpus_bands is None):
        raise ValueError("pass exactly one of corpus_df / corpus_bands")
    if (new_df is None) == (new_bands is None):
        raise ValueError("pass exactly one of new_df / new_bands")
    derived = []
    if new_bands is not None:
        nbt = new_bands
    else:
        nbt = minhash_band_table(new_df, text_col, id_col,
                                 k=k, n=n, bands=bands).persist()
        derived.append(nbt)
    if corpus_bands is not None:
        cbt = corpus_bands
    else:
        cbt = minhash_band_table(corpus_df, text_col, id_col,
                                 k=k, n=n, bands=bands).persist()
        derived.append(cbt)
    nb = nbt.select(F.col("id").alias("new_id"), "band", "bh")
    cb = cbt.select(F.col("id").alias("corpus_id"), "band", "bh")
    pairs = (nb.join(cb, ["band", "bh"])
             .filter(F.col("new_id") != F.col("corpus_id"))
             .select("new_id", "corpus_id")
             .distinct())
    ns = nbt.select(F.col("id").alias("new_id"),
                    F.col("sig").alias("sig_a")).distinct()
    cs = cbt.select(F.col("id").alias("corpus_id"),
                    F.col("sig").alias("sig_b")).distinct()
    pairs = pairs.join(ns, "new_id").join(cs, "corpus_id")
    eq = F.expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), b -> b))")
    out = pairs.select("new_id", "corpus_id",
                       (eq.cast("double") / F.lit(k)).alias("est_jaccard"))
    if derived:
        # eager boundary: materialize the (small) result so the band
        # caches can be released deterministically, not left to LRU
        out = out.localCheckpoint(eager=True)
        for t in derived:
            t.unpersist()
    return out


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def with_simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Attach a 60-bit SimHash over whitespace tokens.

    Map-only formulation: hash the token array in one projection
    (codegen'd md5, evaluated once per token), then fold it into a
    60-element vote vector with a single ``aggregate`` lambda and
    recombine the majority bits — three narrow projections, **zero
    shuffle** (the explode→groupBy alternative pays an Exchange keyed
    on id; this never leaves the input partition, so at 100 TB the
    signature stage is pure map work stacked on the scan).  The single
    small lambda also parses ~4× faster than a 60-term aggregate
    expression, which matters because the plan is rebuilt per query.
    Duplicate tokens vote once per occurrence.  Bit-identical to the
    per-bit vote-sum form (cross-checked in tests)."""
    votes = ("aggregate(hs, array_repeat(0L, 60), (acc, h) -> "
             "zip_with(acc, transform(sequence(0, 59), "
             "j -> case when (h & shiftleft(1L, j)) <> 0 then 1L else -1L end), "
             "(a, b) -> a + b))")
    recomb = ("aggregate(zip_with(v, sequence(0, 59), "
              "(vv, j) -> case when vv > 0 then shiftleft(1L, j) else 0L end), "
              "0L, (a, b) -> a + b)")
    return (spread(df)
            .selectExpr(f"{id_col} as id",
                        "transform(split({t}, '\\\\s+'), t -> {h}) as hs"
                        .format(t=text_col, h=_MD5_INT64_SQL.format(x="t")))
            .selectExpr("id", f"{votes} as v")
            .selectExpr("id", f"{recomb} as simhash")
            # NULL-text docs fold to a NULL signature; the reference
            # explode/groupBy formulation emitted no row for them, so
            # drop the NULLs to stay row-for-row equivalent (map-only —
            # the filter fuses into the same projection stage)
            .filter(F.col("simhash").isNotNull()))


def simhash_pairs(df: DataFrame, text_col: str, id_col: str,
                  max_hamming: int = 3) -> DataFrame:
    """Pairs within Hamming distance ``max_hamming`` of each other.

    Pigeonhole banding: split the 60-bit hash into ``max_hamming + 1``
    chunks; any pair within distance d ≤ max_hamming agrees exactly on
    at least one chunk, so an equi-join per chunk finds all true pairs
    without O(n²).  Output: ``id_a, id_b, hamming``.
    """
    chunks = max_hamming + 1
    width = 60 // chunks
    # persist: referenced by both sides of the chunk join (see the
    # matching note in minhash_lsh_candidates)
    sh = with_simhash(df, text_col, id_col).persist()
    arms = ", ".join(
        f"struct({i} as chunk, "
        f"(shiftright(simhash, {i * width}) & {(1 << width) - 1}) as ck)"
        for i in range(chunks))
    buck = sh.selectExpr("id", f"inline(array({arms}))")
    a = buck.select(F.col("id").alias("id_a"), "chunk", "ck")
    b = buck.select(F.col("id").alias("id_b"), "chunk", "ck")
    # distinct on the bare pair, then re-join the 64-bit hashes from the
    # persisted signature table: inside a duplicate cluster of size m the
    # chunk join emits m²·chunks rows, and shuffling two longs per row
    # through the dedup exchange is the dominant cost — the hash lookups
    # afterwards touch only the deduped pair set (same trick, and the
    # rationale, as minhash_lsh_candidates above)
    pairs = (a.join(b, ["chunk", "ck"])
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b")
             .distinct())
    pairs = (pairs
             .join(sh.select(F.col("id").alias("id_a"), F.col("simhash").alias("h_a")), "id_a")
             .join(sh.select(F.col("id").alias("id_b"), F.col("simhash").alias("h_b")), "id_b"))
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (pairs.withColumn("hamming", ham)
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

def _dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product — deterministic order, so an
    external oracle reproducing the same fold gets the identical double.

    Measured note: unrolling the fold into a fixed-width ``getItem``
    expression chain is ~2× *slower* here — the 64-term chain exceeds
    what whole-stage codegen will compile and falls back to interpreted
    per-term evaluation, while the fold runs one tight specialized loop
    with sequential array access.  Keep the fold."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def embedding_cosine_pairs(df: DataFrame, vec_col: str, id_col: str,
                           threshold: float = 0.95,
                           use_lsh: bool = False, planes: int | None = None,
                           max_exact: int = 100_000,
                           target_bucket: int = 64,
                           dim: int | None = None) -> DataFrame:
    """Near-duplicate pairs by cosine similarity ≥ threshold.

    ``use_lsh=False``: exact all-pairs (cross join pruned by id<id) —
    the verification baseline; quadratic, fine up to ~10⁵ vectors.
    ``use_lsh=True``: random-hyperplane sign-LSH — vectors bucketed by
    the sign pattern of ``planes`` deterministic integer hyperplanes
    (components derived from md5, so portable); only intra-bucket pairs
    are compared.  Recall < 1 by design; raise ``planes`` banding or
    run multiple tables for higher recall.

    ``planes=None`` (default) **auto-scales with the corpus**:
    ``max(4, ceil(log2(n / target_bucket)))``, keeping expected bucket
    occupancy ≈ ``target_bucket`` so intra-bucket pair generation stays
    ~linear in n.  A FIXED plane count is quadratic at scale — 2^planes
    buckets over a growing corpus means occupancy ∝ n and pairs ∝ n²
    (measured: 10x corpus → 88x wall with planes=4, → ~linear with
    auto).  Pin ``planes`` only when an external oracle must reproduce
    the exact bucketing.

    ``max_exact`` guards the exact path: its GEMM prefilter collects
    the corpus to the driver (by contract of a verification baseline),
    so a corpus above ``max_exact`` vectors **degrades to the LSH scale
    path** instead of attempting a driver-side materialization — the
    default path can never driver-collect an unbounded corpus.
    """
    import math

    v = df.select(F.col(id_col).alias("id"),
                  F.col(vec_col).cast("array<double>").alias("vec"))
    v = v.withColumn("nrm", _norm(F.col("vec")))
    # NOT persisted: the projection is one cast+norm over the scan —
    # cheaper to recompute per consumer than to pay the memory-store
    # write and the InMemoryTableScan barrier (which blocks codegen
    # fusion with the joins; measured +0.4 s at sf0.1)
    a = v.select(F.col("id").alias("id_a"), F.col("vec").alias("va"), F.col("nrm").alias("na"))
    b = v.select(F.col("id").alias("id_b"), F.col("vec").alias("vb"), F.col("nrm").alias("nb"))
    if not use_lsh and v.limit(max_exact + 1).count() > max_exact:
        use_lsh = True
    if use_lsh:
        if planes is None:
            n = v.count()
            planes = max(4, math.ceil(math.log2(max(n, 1) / target_bucket))
                         if n > target_bucket else 4)
        if dim is None:
            # dim probe is a one-row job over the projection; pass
            # ``dim`` when the embedding width is known (a fixed-width
            # training corpus) to keep the pinned-planes path at
            # exactly one Spark job
            first = v.select("vec").first()
            if first is None:
                return (v.select(F.col("id").alias("id_a"))
                        .limit(0)
                        .select("id_a", F.col("id_a").alias("id_b"),
                                F.lit(0.0).alias("cosine")))
            dim = len(first["vec"])
        sig = _sign_lsh_signature("vec", planes, dim)
        vb_ = v.withColumn("bucket", sig)
        cand = _bucket_gemm_prefilter(vb_, threshold)
        if cand is not None:
            # prefilter emits a superset of qualifying pairs; the exact
            # fold below decides membership, so results are bit-identical
            # to the plain bucket join — just ~pairs-that-qualify folds
            # instead of all intra-bucket pairs through the interpreted
            # higher-order-function evaluator
            joined = cand.join(a, "id_a").join(b, "id_b")
        else:
            joined = (vb_.select(F.col("id").alias("id_a"), F.col("vec").alias("va"),
                                 F.col("nrm").alias("na"), "bucket")
                      .join(vb_.select(F.col("id").alias("id_b"), F.col("vec").alias("vb"),
                                       F.col("nrm").alias("nb"), "bucket"), "bucket")
                      .filter(F.col("id_a") < F.col("id_b")))
    else:
        cand = _gemm_candidate_pairs(v, threshold)
        if cand is not None:
            joined = cand.join(a, "id_a").join(b, "id_b")
        else:
            joined = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (joined.withColumn("cosine", cos)
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


def _gemm_candidate_pairs(v: DataFrame, threshold: float,
                          margin: float = 1e-9):
    """Vectorized prefilter for the exact all-pairs path: one BLAS
    matmul of each partition's block against the broadcast corpus
    matrix finds every pair whose (numpy-order) cosine clears
    ``threshold - margin``; the caller then re-scores survivors with
    the sequential-fold expression, so final values stay bit-identical
    to the oracle while the interpreted fold runs on ~candidates
    instead of all n²/2 pairs.  The margin (generous next to the
    ~1e-13 relative gap between summation orders at these dims) makes
    the prefilter a superset of the exact answer.

    The corpus matrix is broadcast — the exact all-pairs operator is
    the ≤~10⁵-vector verification baseline by contract (n·dim·8 bytes
    ≈ 50 MB there); the scale path is ``use_lsh=True``, and
    :func:`embedding_cosine_pairs` counts the corpus against
    ``max_exact`` before ever entering this function, so the
    ``toPandas`` below is size-bounded by construction.  Returns None
    (caller falls back to the plain cross join) for non-integral ids
    or ragged vectors, which the matrix form can't represent.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if not isinstance(v.schema["id"].dataType,
                      (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return None
    pdf = v.select("id", "vec").toPandas()
    if len(pdf) == 0 or pdf["vec"].isna().any():
        return None
    dims = {len(x) for x in pdf["vec"]}
    if len(dims) != 1:
        return None
    ids = pdf["id"].to_numpy(dtype=np.int64)
    mat = np.array(pdf["vec"].tolist(), dtype=np.float64)
    norms = np.sqrt((mat * mat).sum(axis=1))
    norms[norms == 0] = np.nan  # zero vectors never qualify, as in the fold path
    spark = v.sparkSession
    bc = spark.sparkContext.broadcast((ids, mat, norms))
    cutoff = threshold - margin

    def gen(batches):
        c_ids, c_mat, c_norms = bc.value
        for block in batches:
            if len(block) == 0:
                continue
            b_ids = block["id"].to_numpy(dtype=np.int64)
            b_mat = np.array(block["vec"].tolist(), dtype=np.float64)
            b_norms = np.sqrt((b_mat * b_mat).sum(axis=1))
            b_norms[b_norms == 0] = np.nan
            sims = (b_mat @ c_mat.T) / np.outer(b_norms, c_norms)
            bi, cj = np.nonzero(sims >= cutoff)
            keep = b_ids[bi] < c_ids[cj]  # dedupe: emit each pair from its smaller id
            yield pd.DataFrame({"id_a": b_ids[bi][keep], "id_b": c_ids[cj][keep]})

    return spread(v.select("id", "vec")).mapInPandas(gen, "id_a long, id_b long")


def _bucket_gemm_prefilter(vb_: DataFrame, threshold: float,
                           margin: float = 1e-9):
    """Distributed per-bucket candidate generation for the LSH path:
    ``applyInPandas`` over the bucket groups, one BLAS matmul per bucket
    (Arrow-batched — no driver collect, no broadcast matrix; state per
    task is one bucket, which auto-planes keeps at ~target_bucket rows).
    Emits every intra-bucket pair whose numpy-order cosine clears
    ``threshold - margin`` — a superset of the exact answer (same margin
    argument as :func:`_gemm_candidate_pairs`); the caller re-scores
    with the sequential fold, so final values are oracle-bit-identical.
    Returns None for non-integral ids (the matrix form can't represent
    them); ragged/null vectors degrade to all-pairs within the bucket
    (still a superset — the exact fold decides)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if not isinstance(vb_.schema["id"].dataType,
                      (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return None
    cutoff = threshold - margin

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf[pdf["vec"].notna()]
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        ids = pdf["id"].to_numpy(dtype=np.int64)
        try:
            mat = np.array(pdf["vec"].tolist(), dtype=np.float64)
        except ValueError:  # ragged — emit all pairs, exact fold decides
            i, j = np.triu_indices(len(ids), k=1)
            return pd.DataFrame({"id_a": np.minimum(ids[i], ids[j]),
                                 "id_b": np.maximum(ids[i], ids[j])})
        norms = np.sqrt((mat * mat).sum(axis=1))
        norms[norms == 0] = np.nan  # zero vectors never qualify (fold: null)
        sims = (mat @ mat.T) / np.outer(norms, norms)
        bi, bj = np.nonzero(sims >= cutoff)
        keep = ids[bi] < ids[bj]
        return pd.DataFrame({"id_a": ids[bi][keep], "id_b": ids[bj][keep]})

    return (vb_.select("bucket", "id", "vec")
            .groupBy("bucket")
            .applyInPandas(per_bucket, "id_a long, id_b long"))


def plane_component(p: int, j: int) -> int:
    """Deterministic hyperplane component in [-1000, 1000]: first 15 hex
    digits of ``md5('p{p}_d{j}')`` as int, ``% 2001 - 1000`` — the exact
    driver-side mirror of :func:`...functions.hashing.md5_int64`, so any
    engine with md5 (or any Python process) reproduces the planes."""
    import hashlib

    h = int(hashlib.md5(f"p{p}_d{j}".encode()).hexdigest()[:15], 16)
    return h % 2001 - 1000


def _sign_lsh_signature(vec_name: str, planes: int, dim: int) -> Column:
    """Sign pattern of ``planes`` deterministic hyperplanes as a string.

    The hyperplane matrix depends only on (planes, dim), so it is
    computed driver-side (:func:`plane_component`) and embedded as
    literals: each plane's dot product is a flat arithmetic chain over
    ``vec[j]`` terms, assembled as ONE ``F.expr`` string (a per-term
    Column build costs planes×dim Py4J round-trips — ~1 s of driver
    time at 16×64 before Spark sees the plan).  An earlier formulation
    derived the components inside nested higher-order lambdas
    (transform ∘ zip_with ∘ aggregate per plane); beyond being slower,
    nested-lambda trees of that shape evaluated *nondeterministically
    across otherwise-equal plans* in Spark 4.1 local testing —
    constants-as-literals removes the lambda nesting entirely and pins
    the semantics.  The fold order (0.0 + t0 + t1 + …, left-assoc)
    matches the oracle's ``_lsh_bucket_sql`` exactly."""
    parts = []
    for p in range(planes):
        dot = " + ".join(
            f"{vec_name}[{j}] * cast({plane_component(p, j)} as double)"
            for j in range(dim))
        parts.append(f"(case when (cast(0.0 as double) + {dot}) >= 0 "
                     f"then '1' else '0' end)")
    return F.expr("concat(" + ", ".join(parts) + ")")


def contamination_pairs(corpus: DataFrame, benchmark: DataFrame,
                        text_col: str, id_col: str,
                        n: int = 8, min_common: int = 3) -> DataFrame:
    """Train/test decontamination: every (corpus doc, benchmark doc)
    pair sharing ≥ ``min_common`` distinct character ``n``-grams — the
    overlap check training pipelines run against eval sets before a
    corpus ships (flagged corpus docs get dropped or quarantined).

    Plan: distinct-shingle inverted index on both sides, equi-join on
    the shingle with the benchmark side broadcast (eval sets are small
    by definition), count per pair.  Long shingles (default n=8) are
    high-entropy, so per-shingle fan-out stays tiny; the benchmark side
    bounds join fan-out regardless — each corpus shingle row meets at
    most |benchmark docs containing that shingle| rows.  At 100 TB the
    corpus side streams map-only through the broadcast join; the only
    shuffle is the pair-count aggregate, keyed on (corpus_id, bench_id).

    Output: ``corpus_id, bench_id, n_common``.
    """
    c = spread(corpus).select(
        F.col(id_col).alias("corpus_id"),
        F.explode(F.array_distinct(char_ngrams(F.col(text_col), n))).alias("g"))
    b = benchmark.select(
        F.col(id_col).alias("bench_id"),
        F.explode(F.array_distinct(char_ngrams(F.col(text_col), n))).alias("g"))
    return (c.join(F.broadcast(b), "g")
            .groupBy("corpus_id", "bench_id")
            .agg(F.count("*").alias("n_common"))
            .filter(F.col("n_common") >= min_common))


def duplicate_clusters(df: DataFrame, text_col: str, id_col: str,
                       n: int = 3, threshold: float = 0.5,
                       max_df: int | None = 100,
                       max_iterations: int = 50) -> DataFrame:
    """Connected components over the near-duplicate pair graph: every
    document in a duplicate cluster labeled with the cluster's minimum
    doc id.  This is the step production dedup pipelines run *after*
    pair generation — "keep one per cluster" is only sound once
    transitive duplicates (A≈B, B≈C but A̸≈C) share a label.

    Pairs come from :func:`ngram_jaccard_pairs`; ``max_df`` defaults to
    100 (not None) because pair generation over a corpus with one giant
    exact-duplicate clique is quadratic in the clique without a
    document-frequency cap — an unbounded default would hide a 100 TB
    scale hazard behind an optional knob.

    The closure is :func:`..graph.connected_components` — min-label
    propagation with one label per node per round: each round joins the
    current (node → label) relation — one row per node, never the
    O(|component|²) reachability set — against the symmetric edge list
    and keeps the minimum of own and neighbor-propagated labels.  Rounds needed = graph diameter, tiny
    for near-dup clusters (duplicates of one source document form
    near-cliques — diameter 1-2; a long chain cannot arise when edges
    require ≥threshold Jaccard overlap with transitively-decaying
    similarity).  At 100 TB the same plan holds: edges ≪ corpus (pairs
    are duplicate-rate bounded), every round shuffles on the
    high-entropy id key, ``localCheckpoint`` truncates lineage so the
    plan stays flat across rounds, and the edge cache is released once
    the fixpoint is reached.

    Output: ``doc_id, cluster_id`` for documents appearing in ≥1 pair
    (singletons are their own implicit cluster and are omitted, as in
    the SQL ``WITH RECURSIVE`` formulation the oracle runs).
    """
    from .graph import connected_components

    pairs = (ngram_jaccard_pairs(df, text_col, id_col, n=n,
                                 threshold=threshold, max_df=max_df)
             .select("id_a", "id_b"))
    return (connected_components(pairs, "id_a", "id_b",
                                 max_iterations=max_iterations)
            .select(F.col("id").alias("doc_id"),
                    F.col("component").alias("cluster_id"))
            .orderBy("doc_id"))


def cluster_representatives(df: DataFrame, text_col: str, id_col: str,
                            quality: Column | None = None,
                            n: int = 3, threshold: float = 0.5,
                            max_df: int | None = 100) -> DataFrame:
    """Canonical-document election: for every near-duplicate cluster
    (:func:`duplicate_clusters`), keep the HIGHEST-quality member —
    the "which copy survives dedup" policy real pipelines use instead
    of arbitrary-smallest-id (the boilerplate-stripped mirror of a page
    should beat the ad-ridden one).

    ``quality`` defaults to :func:`..text.quality_score` over
    ``text_col``; ties break toward the smaller doc id.  The election
    is one ``max(struct(quality, -id))`` aggregate per cluster —
    partial-agg combinable, shuffle bounded by |clustered docs| (≪
    corpus: only documents appearing in ≥1 near-dup pair have a
    cluster row).

    Output: ``cluster_id, n_docs, rep_doc_id, rep_quality`` (one row
    per cluster; ``rep_quality`` rounded to 9 decimals at the boundary
    — same FP doctrine as the quality-gate entries).
    """
    from .text import quality_score

    clusters = duplicate_clusters(df, text_col, id_col, n=n,
                                  threshold=threshold, max_df=max_df)
    q = quality if quality is not None else quality_score(F.col(text_col))
    scored = (spread(df).select(F.col(id_col).alias("doc_id"),
                                q.alias("__q__"))
              .join(clusters, "doc_id"))
    best = F.max(F.struct(F.col("__q__").alias("q"),
                          (-F.col("doc_id")).alias("negid")))
    return (scored.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("n_docs"), best.alias("__b__"))
            .select("cluster_id", F.col("n_docs").cast("long").alias("n_docs"),
                    (-F.col("__b__.negid")).cast("long").alias("rep_doc_id"),
                    F.round(F.col("__b__.q"), 9).alias("rep_quality"))
            .orderBy("cluster_id"))


# ---------------------------------------------------------------------------
# segment-level exact-substring dedup (cross-document repeated passages)
# ---------------------------------------------------------------------------

def _segment_windows(seg_tokens: int):
    """Window builder: cut a LAMBDA-BOUND token array into
    consecutive ``seg_tokens``-sized segment strings.

    The token array must be a materialized higher-order-function
    variable, so each ``slice(ts, ...)`` is O(seg_tokens) on the
    evaluated array.  Slicing the raw tokenization expression from
    inside the lambda instead re-runs the tokenization (a full split of
    the document) once per segment — O(n²/seg_tokens) per document.
    """
    def _segments(ts):
        return F.transform(
            F.sequence(F.lit(0),
                       F.greatest((F.size(ts) - 1) / F.lit(seg_tokens),
                                  F.lit(0)).cast("int"),
                       F.lit(1)),
            lambda b: F.concat_ws(
                " ", F.slice(ts, b * seg_tokens + 1, seg_tokens)))
    return _segments


def segment_dedup(df: DataFrame, text_col: str, id_col: str,
                  seg_tokens: int = 10) -> DataFrame:
    """Remove passages repeated across the corpus, keeping the first
    occurrence — the chunk-approximated form of exact-substring
    deduplication (Lee et al., "Deduplicating Training Data Makes
    Language Models Better"), the standard pass that strips licence
    boilerplate / templated passages from a pre-training corpus.

    Each document is cut into consecutive non-overlapping windows of
    ``seg_tokens`` whitespace tokens (final partial window kept).  For
    every distinct segment text the corpus-wide first occurrence —
    smallest ``(doc_id, seg_idx)`` — survives; later occurrences are
    dropped, and each document is re-assembled from its surviving
    segments in order.

    Election: ``groupBy(md5(segment))`` + ``min(struct)`` — partial
    aggregation combines map-side, so a segment duplicated a million
    times ships ONE row per input partition into the exchange; a window
    ``rank() OVER (PARTITION BY segment)`` formulation would ship all
    copies to one reducer (skew).  The winner struct CARRIES the
    segment text, so the election output is row-for-row the kept set
    with no join back; ``(id, seg_idx)`` is unique per occurrence, so
    appending ``seg`` to the min-struct cannot change the winner.  The
    corpus text crosses two exchanges (election, per-document rebuild).

    A digest-only form (election over ``(id, seg_idx, md5)``, kept
    indices re-attached to the documents with one join and re-sliced
    locally) moves ~``seg_tokens``× fewer exchange bytes but measured
    SLOWER at sf1 on local[32] (round 11, interleaved full entry):
    3.9-4.7 s vs 3.1-3.7 s for this form.  The re-attach join, which
    shuffles the document text, cost +0.7 s, while carrying the text
    through the election cost only ~0.1 s (local shuffles of lz4 text
    are nearly free).  It was deleted; it can come back from history if
    a network-bound cluster ever measures the other way.

    Output: ``doc_id, n_segments, n_kept, cleaned_text`` (one row per
    input document; fully-duplicated documents keep ``n_kept = 0`` and
    an empty string).
    """
    from .parallelism import spread
    from .text import tokens

    toks = tokens(F.col(text_col))
    _segments = _segment_windows(seg_tokens)

    seg_arr = F.element_at(F.transform(F.array(toks), _segments), 1)
    segs = (spread(df).select(
                F.col(id_col),
                F.posexplode(seg_arr).alias("seg_idx", "seg"))
            .where(F.col("seg") != ""))
    segs = segs.withColumn("__dig__", F.md5(F.col("seg")))

    kept = (segs.groupBy("__dig__")
            .agg(F.min(F.struct(F.col(id_col).alias("id"),
                                F.col("seg_idx").alias("seg_idx"),
                                F.col("seg").alias("seg"))).alias("w"))
            .select(F.col("w.id").alias(id_col),
                    F.col("w.seg_idx").alias("seg_idx"),
                    F.col("w.seg").alias("seg")))

    rebuilt = (kept.groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_kept"),
                    F.concat_ws(
                        " ",
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("seg_idx", "seg"))),
                            lambda s: s["seg"])).alias("cleaned_text")))

    totals = (df.select(F.col(id_col),
                        F.greatest(
                            F.ceil(F.size(toks) / F.lit(seg_tokens)),
                            F.lit(1)).cast("long").alias("n_segments")))
    return (totals.join(rebuilt, id_col, "left")
            .select(id_col,
                    "n_segments",
                    F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
                    F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text")))


def minhash_quality_report(df: DataFrame, text_col: str, id_col: str,
                           n: int = 3, threshold: float = 0.7,
                           k: int = 32, bands: int = 8,
                           max_df: int | None = 100) -> DataFrame:
    """Precision/recall of the MinHash-LSH candidate path against exact
    n-gram Jaccard ground truth — the dedup analogue of the ANN
    ``ann_recall_report`` gauge: what you watch while tuning the
    ``(k, bands)`` S-curve (recall lost to banding vs candidate volume
    paid for it).  Run it continuously on a sampled corpus slice, the
    way the ANN gauges are.

    ``truth``: exact pairs at ``threshold`` (:func:`ngram_jaccard_pairs`
    with the ``max_df`` stopword-shingle guard).  ``pred``: LSH
    candidates whose signature estimate clears the same threshold.
    Both sides emit (id_a < id_b) pairs, so the hit join is exact.

    Scale: inherits both operands' bucketed plans (never all-pairs);
    the evaluation join is pair-count-sized, ≪ corpus.  Output: ONE row
    ``n_truth, n_pred, n_hit, precision, recall`` (NULL when the
    denominator is empty — mirrored by the SQL oracle).
    """
    truth = (ngram_jaccard_pairs(df, text_col, id_col, n=n,
                                 threshold=threshold, max_df=max_df)
             .select("id_a", "id_b").withColumn("__t__", F.lit(1)))
    pred = (minhash_lsh_candidates(df, text_col, id_col, k=k, n=n,
                                   bands=bands)
            .filter(F.col("est_jaccard") >= threshold)
            .select("id_a", "id_b").withColumn("__p__", F.lit(1)))
    j = truth.join(pred, ["id_a", "id_b"], "full_outer")
    # outer coalesce: sum over zero rows is NULL, but the contract (and
    # the oracle's count(*)) is 0 on an empty corpus
    n_truth = F.coalesce(F.sum(F.coalesce(F.col("__t__"), F.lit(0))),
                         F.lit(0)).cast("long")
    n_pred = F.coalesce(F.sum(F.coalesce(F.col("__p__"), F.lit(0))),
                        F.lit(0)).cast("long")
    n_hit = F.coalesce(F.sum(F.coalesce(F.col("__t__"), F.lit(0))
                             * F.coalesce(F.col("__p__"), F.lit(0))),
                       F.lit(0)).cast("long")
    agg = j.agg(n_truth.alias("n_truth"), n_pred.alias("n_pred"),
                n_hit.alias("n_hit"))
    return agg.select(
        "n_truth", "n_pred", "n_hit",
        F.when(F.col("n_pred") > 0,
               F.col("n_hit") / F.col("n_pred").cast("double"))
         .alias("precision"),
        F.when(F.col("n_truth") > 0,
               F.col("n_hit") / F.col("n_truth").cast("double"))
         .alias("recall"))


def simhash_quality_report(df: DataFrame, text_col: str, id_col: str,
                           n: int = 3, threshold: float = 0.8,
                           max_hamming: int = 3,
                           max_df: int | None = 100) -> DataFrame:
    """Precision/recall of the SimHash Hamming-ball candidate path
    against exact n-gram Jaccard ground truth — the SimHash twin of
    :func:`minhash_quality_report`, closing the gauge family (MinHash
    S-curve, ANN recall/MRR, and now the Hamming radius dial).  What it
    measures is sharper than the MinHash gauge: SimHash fingerprints
    whitespace TOKENS while the truth is char-n-gram Jaccard, so the
    report quantifies cross-featurization agreement, not just banding
    loss.

    Scale: inherits both operands' bucketed plans (pigeonhole chunk
    join and capped shingle join — never all-pairs); the evaluation
    join is pair-count-sized.  Output: ONE row ``n_truth, n_pred,
    n_hit, precision, recall`` (NULL ratio when its denominator is 0,
    mirrored by the SQL oracle).
    """
    truth = (ngram_jaccard_pairs(df, text_col, id_col, n=n,
                                 threshold=threshold, max_df=max_df)
             .select("id_a", "id_b").withColumn("__t__", F.lit(1)))
    pred = (simhash_pairs(df, text_col, id_col, max_hamming=max_hamming)
            .select("id_a", "id_b").withColumn("__p__", F.lit(1)))
    j = truth.join(pred, ["id_a", "id_b"], "full_outer")
    n_truth = F.coalesce(F.sum(F.coalesce(F.col("__t__"), F.lit(0))),
                         F.lit(0)).cast("long")
    n_pred = F.coalesce(F.sum(F.coalesce(F.col("__p__"), F.lit(0))),
                        F.lit(0)).cast("long")
    n_hit = F.coalesce(F.sum(F.coalesce(F.col("__t__"), F.lit(0))
                             * F.coalesce(F.col("__p__"), F.lit(0))),
                       F.lit(0)).cast("long")
    agg = j.agg(n_truth.alias("n_truth"), n_pred.alias("n_pred"),
                n_hit.alias("n_hit"))
    return agg.select(
        "n_truth", "n_pred", "n_hit",
        F.when(F.col("n_pred") > 0,
               F.col("n_hit") / F.col("n_pred").cast("double"))
         .alias("precision"),
        F.when(F.col("n_truth") > 0,
               F.col("n_hit") / F.col("n_truth").cast("double"))
         .alias("recall"))


def soft_dedup_weights(df: DataFrame, text_col: str, id_col: str,
                       n: int = 3, threshold: float = 0.5,
                       max_df: int | None = 100) -> DataFrame:
    """Soft deduplication (He et al. 2024, "SoftDedup": reweight
    instead of remove): every document KEEPS its row, but members of a
    near-duplicate cluster get sampling weight ``1 / cluster_size`` so
    the cluster contributes one document's worth of gradient signal in
    expectation — the loss-reweighting alternative to hard removal,
    which preserves long-tail phrasing variants hard dedup would
    discard.  Unclustered documents weigh 1.0.

    Plan: :func:`duplicate_clusters` labels (pair-bounded, never
    corpus-quadratic) → per-cluster size via a window over the SAME
    cluster key the labels were grouped by (cluster-bounded partition
    state) → one broadcast-eligible join back to the corpus (the label
    table is duplicate-rate-bounded — a ~1% dup rate at 100 TB keeps
    it far smaller than the corpus; if it outgrows broadcast, AQE falls
    back to a shuffle join on the high-entropy id key).

    Output: ``doc_id, cluster_id (NULL for singletons), cluster_size,
    weight, n_tokens, effective_tokens`` — effective corpus size is
    ``Σ effective_tokens``, the number that replaces raw token count in
    mixture planning once duplicates stop double-counting.
    """
    from pyspark.sql import Window

    from .text import spread, token_count

    labels = duplicate_clusters(df, text_col, id_col, n=n,
                                threshold=threshold, max_df=max_df)
    sized = labels.withColumn(
        "cluster_size",
        F.count(F.lit(1)).over(Window.partitionBy("cluster_id")))
    docs = spread(df).select(
        F.col(id_col).alias("doc_id"),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"))
    out = (docs.join(sized, "doc_id", "left")
           .withColumn("cluster_size",
                       F.coalesce(F.col("cluster_size"), F.lit(1))
                        .cast("long"))
           .withColumn("weight",
                       F.lit(1.0) / F.col("cluster_size").cast("double")))
    return out.select(
        "doc_id", "cluster_id", "cluster_size", "weight", "n_tokens",
        F.round(F.col("n_tokens") * F.col("weight"), 9)
         .alias("effective_tokens"))


def dup_span_removal(df: DataFrame, text_col: str, id_col: str,
                     span_tokens: int = 10) -> DataFrame:
    """Exact-substring deduplication at arbitrary offsets — the sliding-
    window form of Lee et al., "Deduplicating Training Data Makes
    Language Models Better" (ExactSubstr): any ``span_tokens``-token
    window whose text occurs elsewhere in the corpus is excised from
    every occurrence EXCEPT the corpus-wide first one (smallest
    ``(doc_id, start)``), and each document is re-assembled from its
    surviving tokens.  Unlike :func:`segment_dedup` (fixed non-
    overlapping chunks — a duplicate shifted by one token escapes), the
    windows here slide one token at a time, so a repeated passage is
    caught at ANY alignment, which is what makes this the reference
    pass for stripping licence blocks / templated boilerplate that
    starts mid-sentence.

    Scale shape (100 TB):

    * Window explode is map-only and corpus-linear (n − L + 1 rows per
      n-token document; each row carries one L-token string, so the
      exploded payload is ≈ L× the corpus — the same constant the
      suffix-array pipeline pays in its sorted index).
    * First-occurrence election is ``groupBy(digest).agg(min(struct))``
      — partial aggregation, so a boilerplate span duplicated a million
      times ships one row per input partition.
    * Loser detection joins occurrences to winners on the digest — a
      co-partitioned sort-merge join whose build side is one row per
      key; a ``rank() OVER (PARTITION BY digest)`` formulation would
      sort every occurrence of a hot span on one reducer instead.
    * Removed-position explode happens ONLY for loser windows, and the
      reconciliation exchange carries ONLY those positions (one sorted
      per-doc array via collect_set — window overlap absorbed): the
      per-document rebuild is then pure array arithmetic
      (``array_except`` + ``element_at``) on a doc-grain join, so no
      exchange in the plan ever carries the corpus token-by-token.
      (Earlier forms measured: anti-join 1.75 s → token-row union
      ~1.2 s → this shape ~1.1 s at sf0.1.)

    Output: ``doc_id, n_tokens, n_removed, cleaned_text`` — one row per
    input document (documents shorter than ``span_tokens`` pass through
    untouched; fully-duplicated documents come back empty).
    """
    from .text import tokens

    toks = tokens(F.col(text_col))
    base = (spread(df)
            .select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
            .withColumn("n", F.size("toks")))

    # Sliding windows: start positions 0..n-L (0-based), join of the
    # lambda-bound token array — slice() on the materialized variable is
    # O(L) per window (slicing the raw expression would re-tokenize).
    L = int(span_tokens)
    win = F.element_at(
        F.transform(
            F.array(F.col("toks")),
            lambda ts: F.transform(
                F.sequence(F.lit(0), F.size(ts) - F.lit(L)),
                lambda s: F.concat_ws(" ", F.slice(ts, s + 1, F.lit(L))))),
        1)
    # 16-byte BINARY digest (not the 32-char hex string — half the
    # exchange payload for the same full-128-bit equality), and the
    # occurrence table is materialized ONCE: both the election and the
    # loser join consume it, and without the checkpoint the window
    # build + md5 map (the entry's heaviest per-row work) ran twice
    # (measured 6.0 → 4.4 s at 10× data for the two changes together)
    occ = (base.where(F.col("n") >= L)
           .select("doc_id", F.posexplode(win).alias("st", "wtext"))
           .withColumn("__dig__", F.unhex(F.md5(F.col("wtext"))))
           .drop("wtext")
           .localCheckpoint(eager=True))

    winners = (occ.groupBy("__dig__")
               .agg(F.min(F.struct(F.col("doc_id").alias("w_doc"),
                                   F.col("st").alias("w_st"))).alias("w")))
    losers = (occ.join(winners, "__dig__")
              .where((F.col("doc_id") != F.col("w.w_doc"))
                     | (F.col("st") != F.col("w.w_st")))
              .select("doc_id", "st"))

    # Reconstruction: aggregate each document's covered positions into
    # ONE sorted array (collect_set absorbs window overlap; the
    # exchange carries only positions of DUPLICATED text — ≪ corpus at
    # realistic dup rates, ≤ corpus worst case), then rebuild per doc
    # with array ops: array_except(0..n−1, removed) keeps surviving
    # positions in order (hash-set implementation, O(n + r)) and
    # element_at re-reads each surviving token in O(1).  The previous
    # form shuffled EVERY TOKEN of every document as a row through a
    # union + groupBy(doc, pos) + per-doc struct sort — a corpus-sized
    # exchange whose payload this replaces with the loser positions
    # alone (round-6 verdict item 5: the exchange was the 2.4×
    # constant, measured 2.4 s → ~1.1 s at sf0.1).
    removed = (losers.select(
        "doc_id",
        F.explode(F.sequence(
            F.col("st"), F.col("st") + F.lit(L - 1))).alias("pos"))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("pos")).alias("rem_arr")))
    all_pos = F.when(F.col("n") > 0,
                     F.sequence(F.lit(0), F.col("n") - 1)) \
        .otherwise(F.array().cast("array<int>"))
    kept = F.array_except(all_pos,
                          F.coalesce(F.col("rem_arr"),
                                     F.array().cast("array<int>")))
    return (base.join(removed, "doc_id", "left")
            .select("doc_id",
                    F.col("n").cast("long").alias("n_tokens"),
                    (F.col("n") - F.size(kept)).cast("long")
                    .alias("n_removed"),
                    F.concat_ws(
                        " ",
                        F.transform(kept,
                                    lambda p: F.element_at(
                                        F.col("toks"), p + 1)))
                    .alias("cleaned_text")))
