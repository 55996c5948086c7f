"""Similarity search over an embedding column (``array<float>``).

* :func:`topk_cosine_batch` — brute-force exact top-k for many
  queries at once: broadcast the (small) query set, cross join against
  the corpus, window-rank per query.  The corpus never shuffles — only
  the tiny result set does; the correctness baseline at any corpus
  size where a full scan is acceptable.
* :func:`ann_topk_lsh` — the scale path: sign-LSH bucketing (shared
  with :mod:`.dedup`) prunes the corpus to the query's bucket (plus
  multi-probe neighbors at Hamming distance 1), trading recall for a
  ~2^planes search-space reduction — the standard recipe when the
  corpus no longer admits a full scan per query.
* :func:`ivf_topk` — the other standard ANN layout (IVF): a coarse
  quantizer assigns every corpus vector to its nearest centroid cell
  (a narrow map — centroids are driver-collected literals, so the
  corpus never shuffles); queries probe their ``nprobe`` nearest
  cells and scan only those.  Optional Lloyd iterations refine the
  centroids (each iteration: one argmin map + one partial-agg mean).

All math is Catalyst expressions (``zip_with``/``aggregate``): JVM
codegen, no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .dedup import _dot, _norm, _sign_lsh_signature
from .parallelism import spread


def _cosine(vec: Column, qvec: Column) -> Column:
    return _dot(vec, qvec) / (_norm(vec) * _norm(qvec))


def topk_cosine_batch(corpus: DataFrame, queries: DataFrame,
                      vec_col: str, id_col: str,
                      query_vec_col: str, query_id_col: str,
                      k: int = 10,
                      rank_round: int | None = None) -> DataFrame:
    """Exact top-k for a batch of query vectors.

    The query side is broadcast (it is small by assumption); the corpus
    is scanned once with no shuffle; only (num_queries × k) rows leave
    the scan stage via the window rank.

    ``rank_round`` (e.g. 9) ranks on ``round(cosine, n)`` with id
    tiebreak instead of the raw double — the hard_negatives ordering
    contract — so a 1-ulp cross-engine fold difference between two
    near-tied candidates cannot swap ranks (matters when the ranks feed
    a fusion like :func:`rrf_fuse`, where a swap changes the fused
    score).  The emitted ``cosine`` column stays unrounded.
    Output: ``query_id, id, cosine, rank``.
    """
    c = spread(corpus).select(F.col(id_col).alias("id"),
                              F.col(vec_col).cast("array<double>").alias("vec"))
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(query_vec_col).cast("array<double>").alias("qvec"))
    scored = (c.crossJoin(F.broadcast(q))
              .select("query_id", "id", _cosine(F.col("vec"), F.col("qvec")).alias("cosine")))
    rank_key = (F.round(F.col("cosine"), rank_round)
                if rank_round is not None else F.col("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc(rank_key), F.asc("id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def rrf_fuse(rankings: list, k: int = 10, c: int = 60) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR'09) —
    the standard hybrid-retrieval combiner: each input ranking is a
    ``(query_id, id, rank)`` DataFrame (dense ANN, BM25, a re-ranker …)
    and the fused score of a document is ``Σ_systems 1/(c + rank)``,
    with documents absent from a system's list contributing nothing.
    RRF needs no score calibration across systems — only ranks — which
    is why it is the default fusion in production hybrid search.

    Plan: each system maps to its reciprocal term (no join — systems
    are independent lists), one UNION, one partial-agg
    ``groupBy(query_id, id)``, then the per-query window top-k; the
    exchange carries at most Σ |system lists| rows.  The reciprocal is
    quantized to PICO-units (``round(1e12 / (c + rank))`` as bigint —
    the micro-nat convention), so the fused score is an exact integer
    sum: order-independent, hence a plain map-side-combining hash agg
    AND bit-reproducible by any replaying engine (a double sum's value
    would depend on partition arrival order).

    Output: ``query_id, id, rrf_score (= pico sum / 1e12), rank ≤ k``
    (rank ties by id).
    """
    if not rankings:
        raise ValueError("rankings must be non-empty")
    if c < 1:
        raise ValueError(f"c must be >= 1, got {c}")
    parts = [df.select(F.col("query_id"), F.col("id"),
                       F.round(F.lit(1e12) / (F.lit(int(c))
                                              + F.col("rank")))
                       .cast("long").alias("__pico__"))
             for df in rankings]
    u = parts[0]
    for x in parts[1:]:
        u = u.unionByName(x)
    fused = (u.groupBy("query_id", "id")
             .agg((F.sum("__pico__").cast("double") / F.lit(1e12))
                  .alias("rrf_score")))
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_score"),
                                               F.asc("id"))
    return (fused.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "id", "rrf_score",
                    F.col("rank").cast("long").alias("rank")))


def maxsim_topk(corpus: DataFrame, queries: DataFrame,
                vecs_col: str, id_col: str,
                query_vecs_col: str, query_id_col: str,
                k: int = 5) -> DataFrame:
    """Late-interaction MaxSim retrieval (Khattab & Zaharia, SIGIR'20 —
    ColBERT §3.2): documents and queries carry TOKEN-level embedding
    arrays (``array<array<double>>``), and the relevance of doc *d* to
    query *q* is ``Σ_{t∈q} max_{u∈d} cos(t, u)`` — every query token
    matches its best document token, which is what lets one frozen
    document index serve fine-grained term-level matching that a single
    pooled vector flattens away.

    Plan: broadcast the (small) tokenized query side against the corpus
    scan — the corpus never shuffles; the whole MaxSim is ONE nested
    higher-order expression (``aggregate`` over query tokens of
    ``array_max`` over ``transform`` of doc tokens), so token math never
    leaves the row and no explode multiplies the exchange.  Only
    (num_queries × k) rows survive the per-query rank.  At 100 TB the
    standard two-stage deployment applies: an ANN pass over pooled
    vectors (``ann_topk``/``ivf_topk``) shortlists candidates, MaxSim
    re-ranks the shortlist — this operator is that re-ranker run
    exactly.

    Rank runs over the ROUNDED score (9 dp, id tiebreak — the
    hard_negatives/knn_graph ordering contract).  A zero-norm token
    yields a NULL cosine, which nulls the whole score (the _cosine
    convention); an EMPTY doc token array likewise nulls it
    (``array_max`` over an empty array).  NULL-scored docs are dropped
    BEFORE the rank — they are unscoreable, and letting them ride
    NULLS-LAST ranks would surface NULL maxsim in the top-k whenever a
    query has fewer than k scoreable candidates.

    ⚠ Row-count change vs rounds ≤ 9: the NULL-drop means a query may
    return FEWER than k rows when its scoreable-candidate pool is thin
    (previously NULL-maxsim rows padded the tail).  Callers that sized
    buffers on exactly ``num_queries × k`` rows must treat k as an
    upper bound; a per-query scoreable count is
    ``scored.groupBy("query_id").count()`` one select upstream if the
    shortfall needs monitoring.

    Output: ``query_id, id, maxsim, rank`` (rank ≤ k).
    """
    c = spread(corpus).select(
        F.col(id_col).alias("id"),
        F.col(vecs_col).cast("array<array<double>>").alias("toks"))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vecs_col).cast("array<array<double>>").alias("qtoks"))
    score = F.aggregate(
        F.col("qtoks"), F.lit(0.0),
        lambda acc, qt: acc + F.array_max(
            F.transform(F.col("toks"), lambda dt: _cosine(dt, qt))))
    scored = (c.crossJoin(F.broadcast(q))
              .select("query_id", "id",
                      F.round(score, 9).alias("maxsim"))
              .filter(F.col("maxsim").isNotNull()))
    w = Window.partitionBy("query_id").orderBy(F.desc("maxsim"),
                                               F.asc("id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "id", "maxsim",
                    F.col("rank").cast("long").alias("rank")))


def ann_topk_lsh(corpus: DataFrame, queries: DataFrame,
                 vec_col: str, id_col: str,
                 query_vec_col: str, query_id_col: str,
                 k: int = 10, planes: int = 8,
                 multiprobe: bool = True) -> DataFrame:
    """Approximate top-k: compare only within the query's sign-LSH
    bucket (plus, with ``multiprobe``, all buckets at Hamming distance
    1 — flips one plane's sign), so each query touches ~(planes+1)/2^planes
    of the corpus instead of all of it.

    Output: ``query_id, id, cosine, rank`` — rank within retrieved
    candidates; recall vs exact top-k depends on ``planes``.
    """
    c = spread(corpus).select(F.col(id_col).alias("id"),
                              F.col(vec_col).cast("array<double>").alias("vec"))
    first = c.select("vec").first()
    if first is None:
        raise ValueError("ann_topk_lsh on an empty corpus")
    dim = len(first["vec"])
    c = c.withColumn("bucket", _sign_lsh_signature("vec", planes, dim))
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(query_vec_col).cast("array<double>").alias("qvec"))
    q = q.withColumn("bucket", _sign_lsh_signature("qvec", planes, dim))
    if multiprobe:
        # probe the exact bucket and every 1-bit-flip neighbor
        probes = F.array(F.col("bucket"), *[
            F.concat(F.substring("bucket", 1, i),
                     F.when(F.substring("bucket", i + 1, 1) == "1", "0").otherwise("1"),
                     F.substring("bucket", i + 2, planes - i - 1))
            for i in range(planes)
        ])
        q = q.select("query_id", "qvec", F.explode(probes).alias("bucket"))
    joined = c.join(F.broadcast(q), "bucket")
    scored = joined.select("query_id", "id",
                           _cosine(F.col("vec"), F.col("qvec")).alias("cosine")).distinct()
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def _centroid_norm(cvec: list[float]) -> float:
    """Sequential-fold norm, bit-identical to :func:`_norm`'s order."""
    acc = 0.0
    for x in cvec:
        acc += x * x
    import math

    return math.sqrt(acc)


def _nearest_cells(vec_name: str, nrm_name: str,
                   centroids: list[tuple[int, list[float]]],
                   nprobe: int) -> Column:
    """Array of the ``nprobe`` cell ids whose centroid has the highest
    cosine with column ``vec_name``; deterministic tie-break toward the
    smaller cell id via lexicographic struct ordering on (cos, -cell).

    Built as ONE ``F.expr`` string: a per-literal ``F.lit`` construction
    would cost n_cells×dim Py4J round-trips (measured: ~1 s per call
    site at 16×64) before Spark ever sees the plan.  The vector's own
    norm is read from the pre-materialized ``nrm_name`` column and each
    centroid's norm is a driver-computed literal, so per row the work
    is n_cells dot-folds instead of 3×n_cells folds — with cosine
    values bit-identical to the naive form (same fold order, same
    operand order in the divide)."""
    structs = []
    for cid, cvec in centroids:
        arr = "array(" + ",".join(f"{x!r}D" for x in cvec) + ")"
        dot = (f"aggregate(zip_with({vec_name}, {arr}, (x, y) -> x * y), "
               f"cast(0.0 as double), (acc, v) -> acc + v)")
        cos = f"({dot}) / ({nrm_name} * {_centroid_norm(cvec)!r}D)"
        structs.append(f"named_struct('cos', {cos}, 'negcell', {-cid}L)")
    cells = "array(" + ",".join(structs) + ")"
    return F.expr(f"transform(slice(reverse(array_sort({cells})), 1, {nprobe}), "
                  f"s -> -s.negcell)")


def stage_ivf(corpus: DataFrame, vec_col: str, id_col: str, path: str,
              n_cells: int = 16, train_iters: int = 0
              ) -> list[tuple[int, list[float]]]:
    """Stage an IVF index to disk: assign every corpus vector to its
    nearest centroid cell and write parquet **partitioned by cell**.
    Returns the centroids (cell id, vector) for the probe side.

    This is the 100 TB layout the in-memory :func:`ivf_topk` documents:
    with the corpus laid out one directory per cell, a probe touches
    only its ``nprobe`` cells' files — partition pruning at the scan
    (``PartitionFilters`` / dynamic partition pruning), so search cost
    is proportional to cells probed, not corpus size.  Staging is a
    one-time map-only pass (the cell id is a computed column; the
    partitioned write shuffles nothing — each task appends to its
    rows' cell directories).
    """
    c = (spread(corpus).select(F.col(id_col).alias("id"),
                               F.col(vec_col).cast("array<double>").alias("vec"))
         .withColumn("__nrm__", _norm(F.col("vec"))))
    seed = c.orderBy("id").limit(n_cells).collect()
    if not seed:
        raise ValueError("stage_ivf on an empty corpus")
    centroids = [(i, list(r["vec"])) for i, r in enumerate(seed)]
    assigned = c.withColumn(
        "cell", _nearest_cells("vec", "__nrm__", centroids, 1)[0]).drop("__nrm__")
    assigned.write.mode("overwrite").partitionBy("cell").parquet(path)
    return centroids


def ivf_topk_staged(spark, path: str,
                    centroids: list[tuple[int, list[float]]],
                    queries: DataFrame, query_vec_col: str,
                    query_id_col: str, k: int = 10,
                    nprobe: int = 2) -> DataFrame:
    """Probe a staged IVF index (:func:`stage_ivf`): each query scores
    only the vectors in its ``nprobe`` nearest cells.  The probe is a
    broadcast join on the partition column, so Spark's dynamic
    partition pruning restricts the parquet scan to the probed cell
    directories — the plan property that makes IVF sub-linear in
    corpus size (asserted in tests/test_interval_ivf.py).

    Output: ``query_id, id, cosine, rank`` — identical values to
    :func:`ivf_topk` with the same centroids (same fold, same
    tie-break)."""
    c = spark.read.parquet(path)
    q = (queries.select(F.col(query_id_col).alias("query_id"),
                        F.col(query_vec_col).cast("array<double>").alias("qvec"))
         .withColumn("__qnrm__", _norm(F.col("qvec"))))
    q_probes = q.select(
        "query_id", "qvec",
        F.explode(_nearest_cells("qvec", "__qnrm__", centroids, nprobe)).alias("cell"))
    joined = c.join(F.broadcast(q_probes), "cell")
    scored = joined.select("query_id", "id",
                           _cosine(F.col("vec"), F.col("qvec")).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def ivf_topk(corpus: DataFrame, queries: DataFrame,
             vec_col: str, id_col: str,
             query_vec_col: str, query_id_col: str,
             k: int = 10, n_cells: int = 16, nprobe: int = 2,
             train_iters: int = 0) -> DataFrame:
    """IVF approximate top-k by cosine.

    Coarse quantizer: with ``train_iters=0`` the centroids are the
    first ``n_cells`` corpus vectors by id — deterministic and
    reproducible by an external SQL oracle; ``train_iters>0`` refines
    them with Lloyd iterations (assignment is an argmin over literal
    centroids — a narrow map; the mean is a posexplode + partial-agg
    groupBy, collecting only n_cells×dim numbers back).

    Search: each query probes its ``nprobe`` nearest cells; only those
    cells' vectors are scored.  The corpus is never shuffled — the cell
    id is a computed column, the probe join broadcasts the (small)
    query set, and at scale the assigned corpus would be staged to
    parquet partitioned by cell so probes prune at the scan
    (``PartitionFilters``).

    Output: ``query_id, id, cosine, rank`` (rank ≤ k per query).
    """
    if n_cells < 1 or nprobe < 1:
        raise ValueError("n_cells and nprobe must be >= 1")
    c = (spread(corpus).select(F.col(id_col).alias("id"),
                               F.col(vec_col).cast("array<double>").alias("vec"))
         .withColumn("__nrm__", _norm(F.col("vec"))))
    seed = c.orderBy("id").limit(n_cells).collect()
    if not seed:
        raise ValueError("ivf_topk on an empty corpus")
    centroids = [(i, list(r["vec"])) for i, r in enumerate(seed)]
    dim = len(centroids[0][1])

    for _ in range(train_iters):
        assigned = c.withColumn(
            "cell", _nearest_cells("vec", "__nrm__", centroids, 1)[0])
        means = (assigned.select("cell", F.posexplode("vec").alias("pos", "x"))
                 .groupBy("cell", "pos").agg(F.avg("x").alias("m"))
                 .collect())
        by_cell: dict[int, list[float]] = {}
        for r in means:
            by_cell.setdefault(r["cell"], [0.0] * dim)[r["pos"]] = r["m"]
        # cells that lost all members keep their previous centroid
        centroids = [(cid, by_cell.get(cid, cvec)) for cid, cvec in centroids]

    c_cells = c.withColumn("cell",
                           _nearest_cells("vec", "__nrm__", centroids, 1)[0])
    q = (queries.select(F.col(query_id_col).alias("query_id"),
                        F.col(query_vec_col).cast("array<double>").alias("qvec"))
         .withColumn("__qnrm__", _norm(F.col("qvec"))))
    q_probes = q.select(
        "query_id", "qvec",
        F.explode(_nearest_cells("qvec", "__qnrm__", centroids, nprobe)).alias("cell"))
    joined = c_cells.join(F.broadcast(q_probes), "cell")
    scored = joined.select("query_id", "id",
                           _cosine(F.col("vec"), F.col("qvec")).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def quantize_embeddings_int8(df: DataFrame, vec_col: str,
                             id_col: str) -> DataFrame:
    """Scalar int8 quantization of an embedding column with per-
    dimension corpus min/max calibration, plus exact reconstruction
    error — the storage/serving compression pass (4× smaller vectors)
    of a large-scale embedding pipeline.

    Two stages, both corpus-linear:

    1. Calibration: ``posexplode`` → ``groupBy(dim)`` min/max.  Partial
       aggregation means every input partition contributes ``dim`` rows
       to the exchange regardless of corpus size; the stats table is
       ``dim`` rows (metadata-sized).
    2. Apply: the stats collapse to ONE row holding a dim-ordered
       struct array, broadcast-cross-joined to the corpus (a 1-row
       broadcast — no shuffle of the corpus side), then a map-only
       ``transform``: ``q_j = clamp(floor((v_j - lo_j)·255/(hi_j -
       lo_j) + 0.5), 0, 255)``.

    ``floor(x + 0.5)`` (not ``round``) so the oracle reproduces codes
    bit-exactly without matching a rounding-mode; reconstruction
    ``r_j = lo_j + q_j·(hi_j - lo_j)/255`` and the MSE left-fold follow
    the same operation order as the SQL formulation → identical
    doubles.  Constant-width dimensions (hi = lo) encode to 0 and
    reconstruct exactly.

    Output: ``id, codes (array<smallint>), mse (double)``.
    """
    v = F.col(vec_col)
    dims = (df.select(F.posexplode(v).alias("dim", "x"))
            .groupBy("dim")
            .agg(F.min(F.col("x").cast("double")).alias("lo"),
                 F.max(F.col("x").cast("double")).alias("hi")))
    stats_row = dims.agg(
        F.array_sort(F.collect_list(F.struct("dim", "lo", "hi")))
         .alias("__stats__"))

    def q_at(i):
        st = F.element_at(F.col("__stats__"), i + 1)
        x = F.element_at(v, i + 1).cast("double")
        span = st["hi"] - st["lo"]
        raw = F.floor((x - st["lo"]) * F.lit(255.0) / span + F.lit(0.5))
        return F.when(span == 0.0, F.lit(0).cast("long")) \
                .otherwise(F.greatest(F.lit(0).cast("long"),
                                      F.least(F.lit(255).cast("long"), raw)))

    base = df.crossJoin(F.broadcast(stats_row))
    ndim = F.size(F.col("__stats__"))
    idx = F.sequence(F.lit(0), ndim - 1)
    codes = F.transform(idx, lambda i: q_at(i))

    def recon_err(i):
        st = F.element_at(F.col("__stats__"), i + 1)
        x = F.element_at(v, i + 1).cast("double")
        q = F.element_at(F.col("__codes__"), i + 1).cast("double")
        r = st["lo"] + q * (st["hi"] - st["lo"]) / F.lit(255.0)
        return (x - r) * (x - r)

    return (base.withColumn("__codes__", codes)
            .select(F.col(id_col).alias("id"),
                    F.col("__codes__").cast("array<smallint>").alias("codes"),
                    (F.aggregate(idx, F.lit(0.0),
                                 lambda acc, i: acc + recon_err(i))
                     / ndim.cast("double")).alias("mse")))


# ---------------------------------------------------------------------------
# Semantic deduplication (SemDeDup-style: cluster, then dedup within cells)
# ---------------------------------------------------------------------------

def semantic_dedup(df: DataFrame, vec_col: str, id_col: str,
                   n_cells: int = 16, threshold: float = 0.95,
                   lsh_planes: int | None = 0,
                   target_bucket: int = 64,
                   dim: int | None = None) -> DataFrame:
    """Embedding-space semantic deduplication, the SemDeDup recipe
    (Abbas et al., "SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication", 2023 — public paper): cluster the
    corpus with a coarse quantizer, then WITHIN each cluster drop every
    vector that has a near-identical neighbor (cosine ≥ ``threshold``)
    with a smaller id.  The surviving set keeps exactly one
    representative — the smallest id — of every near-duplicate chain
    that shares a cell.

    This is the scale trick that makes embedding dedup tractable: the
    quadratic pair search runs per-cluster, never corpus-wide, so total
    work is Σ|cell|² ≪ N².  With a FIXED cell count, occupancy still
    grows ∝ N and the in-cell search re-becomes quadratic — exactly
    the fixed-plane sign-LSH failure mode SCALING.md measured at 88×.
    ``lsh_planes`` is the scale valve: when non-zero, each cell is
    sub-bucketed by the deterministic sign-LSH signature (map-only,
    O(planes·dim) per row) and pairs are compared only within
    ``(cell, bucket)``; ``lsh_planes=None`` auto-scales the plane
    count to hold expected bucket occupancy ≈ ``target_bucket``, which
    keeps total pair work ~linear in N at any corpus size.  The
    default ``lsh_planes=0`` is the exact-within-cell form — the
    oracle-reproducible configuration for verification-scale corpora
    (recall = 1 within a cell; the sub-bucketed path trades recall the
    same way :func:`~.dedup.embedding_cosine_pairs` documents).

    Coarse quantizer: the first ``n_cells`` corpus vectors by id
    (deterministic, train_iters=0 — same contract as :func:`ivf_topk`,
    reproducible by an external SQL oracle).  Assignment is an argmax
    over literal centroids — a narrow map; the corpus never shuffles
    until the per-cell pair exchange, whose key (cell id) carries only
    the cluster's own vectors.

    Output: ``id, cell, keep`` — one row per input vector, ``keep``
    false iff a same-cell neighbor with smaller id has cosine ≥
    ``threshold``.
    """
    if n_cells < 1:
        raise ValueError("n_cells must be >= 1")
    c = (spread(df).select(F.col(id_col).alias("id"),
                           F.col(vec_col).cast("array<double>").alias("vec"))
         .withColumn("__nrm__", _norm(F.col("vec"))))
    seed = c.orderBy("id").limit(n_cells).collect()  # n_cells×dim — metadata-sized
    if not seed:
        # cast to long so the empty-corpus branch has the SAME schema
        # as the normal path (cell is long there) — unions/appends of
        # results across runs must not diverge on emptiness
        return c.select("id", F.lit(0).cast("long").alias("cell"),
                        F.lit(True).alias("keep"))
    centroids = [(i, list(r["vec"])) for i, r in enumerate(seed)]
    assigned = c.select(
        "id", "vec", "__nrm__",
        F.element_at(_nearest_cells("vec", "__nrm__", centroids, 1), 1)
         .alias("cell"))
    keys = ["cell"]
    if lsh_planes is None or lsh_planes > 0:
        import math

        from .dedup import _sign_lsh_signature

        planes = lsh_planes
        if planes is None:
            n = c.count()
            per_cell = max(n, 1) / max(n_cells, 1)
            planes = (max(4, math.ceil(math.log2(per_cell / target_bucket)))
                      if per_cell > target_bucket else 4)
        if dim is None:
            first = c.select("vec").first()
            dim = len(first["vec"]) if first else 0
        assigned = assigned.withColumn(
            "__bkt__", _sign_lsh_signature("vec", planes, dim))
        keys = ["cell", "__bkt__"]
    a = assigned.select(*keys, F.col("id").alias("id_a"),
                        F.col("vec").alias("va"), F.col("__nrm__").alias("na"))
    b = assigned.select(*keys, F.col("id").alias("id_b"),
                        F.col("vec").alias("vb"), F.col("__nrm__").alias("nb"))
    # norms are pre-materialized columns on both sides: the join
    # predicate reads them instead of re-deriving a fold per comparison
    dup = (a.join(b, keys)
           .where(F.col("id_a") < F.col("id_b"))
           .where(_dot(F.col("va"), F.col("vb"))
                  / (F.col("na") * F.col("nb")) >= F.lit(threshold))
           .select(F.col("id_b").alias("id")).distinct()
           .withColumn("__dup__", F.lit(True)))
    return (assigned.join(dup, "id", "left")
            .select("id", F.col("cell").cast("long").alias("cell"),
                    F.col("__dup__").isNull().alias("keep")))


def hard_negatives(corpus: DataFrame, queries: DataFrame,
                   vec_col: str, id_col: str, label_col: str,
                   query_vec_col: str, query_id_col: str,
                   query_label_col: str, k: int = 5) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the ``k`` most cosine-similar corpus vectors whose label
    DIFFERS from the query's — the negatives that sit closest to the
    decision boundary, the standard retrieval-training curriculum
    (in-batch negatives → mined hard negatives).

    Plan: broadcast the (small) query set against the corpus scan, drop
    same-label candidates BEFORE scoring (the filter is a cheap integer
    compare, so the cosine fold never runs for excluded rows), then a
    per-query window rank.  The corpus never shuffles; only
    (num_queries × k) rows survive the rank.

    Output: ``query_id, id, label, cosine, rank`` (rank ≤ k).  The rank
    runs over the ROUNDED cosine (9 dp, id tiebreak — the knn_graph
    ordering contract): ranking raw doubles let sub-9dp fold noise
    order two parallel vectors differently across engines (a raw
    cosine can exceed 1.0 by 1 ulp; the round-9 property campaign
    caught exactly that — two query-parallel candidates ranked by the
    noise instead of the id tiebreak).
    """
    c = spread(corpus).select(F.col(id_col).alias("id"),
                              F.col(label_col).alias("label"),
                              F.col(vec_col).cast("array<double>").alias("vec"))
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(query_label_col).alias("query_label"),
                       F.col(query_vec_col).cast("array<double>").alias("qvec"))
    scored = (c.crossJoin(F.broadcast(q))
              .where(F.col("label") != F.col("query_label"))
              .select("query_id", "id", "label",
                      F.round(_cosine(F.col("vec"), F.col("qvec")), 9)
                      .alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def ann_recall_report(corpus: DataFrame, queries: DataFrame,
                      vec_col: str, id_col: str,
                      query_vec_col: str, query_id_col: str,
                      k: int = 5, planes: int = 8,
                      multiprobe: bool = False) -> DataFrame:
    """Recall@k of the sign-LSH ANN path against the exact top-k — the
    standard quality gauge every ANN deployment tracks (what you watch
    while tuning ``planes``/multiprobe; recall trades against the
    ~2^planes search-space reduction).

    Per query: ``n_ann`` rows the ANN path returned (< k when the
    bucket is small), ``n_hits`` of them inside the true top-k,
    ``recall = n_hits / k``.  Both operands broadcast the (small) query
    set against one corpus scan each; the final join touches only
    (queries × k) rows — evaluation cost is two scans regardless of
    corpus size, which is what makes the gauge cheap enough to run on
    a sampled query set continuously.

    Output: ``query_id, n_ann, n_hits, recall``.
    """
    ann = ann_topk_lsh(corpus, queries, vec_col, id_col,
                       query_vec_col, query_id_col, k=k, planes=planes,
                       multiprobe=multiprobe)
    return recall_vs_exact(corpus, queries, vec_col, id_col,
                           query_vec_col, query_id_col, ann, k=k)


def recall_vs_exact(corpus: DataFrame, queries: DataFrame,
                    vec_col: str, id_col: str,
                    query_vec_col: str, query_id_col: str,
                    candidates: DataFrame, k: int = 5) -> DataFrame:
    """Recall@k of an arbitrary candidate list (``query_id, id`` — any
    ANN path's output) against the exact cosine top-k — the shared
    evaluation tail of :func:`ann_recall_report`, factored out so every
    retrieval composition (LSH, IVF, IVF-PQ) plugs into the same gauge.
    The exact operand broadcasts the query set against one corpus scan;
    the evaluation join touches only (queries × k) rows.

    Output: ``query_id, n_ann, n_hits, recall`` (one row per query,
    zeros when the candidate list is empty for it)."""
    exact = topk_cosine_batch(corpus, queries, vec_col, id_col,
                              query_vec_col, query_id_col, k=k) \
        .select("query_id", "id")
    cand = candidates.select("query_id", "id")
    hits = (cand.join(exact.withColumn("__hit__", F.lit(1)),
                      ["query_id", "id"], "left")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_ann"),
                 F.sum(F.coalesce(F.col("__hit__"), F.lit(0))).alias("n_hits")))
    base = queries.select(F.col(query_id_col).alias("query_id")).distinct()
    return (base.join(hits, "query_id", "left")
            .select("query_id",
                    F.coalesce(F.col("n_ann"), F.lit(0)).cast("long")
                     .alias("n_ann"),
                    F.coalesce(F.col("n_hits"), F.lit(0)).cast("long")
                     .alias("n_hits"),
                    (F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                     / F.lit(float(k))).alias("recall")))


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the FAISS-style compressed ANN representation
# ---------------------------------------------------------------------------

def train_pq_codebooks(corpus: DataFrame, vec_col: str, id_col: str,
                       m: int = 4, k: int = 8
                       ) -> list[list[list[float]]]:
    """Deterministic PQ codebooks (Jégou, Douze, Schmid, "Product
    Quantization for Nearest Neighbor Search", TPAMI'11): the vector
    space is split into ``m`` contiguous subspaces; subspace ``s``'s
    codebook is the ``s``-th slice of the first ``k`` corpus vectors by
    id — the iters=0 seeding contract shared with :func:`ivf_topk` /
    :func:`semantic_dedup`, reproducible by an external SQL oracle.
    Returns ``codebooks[s][j] = centroid j of subspace s`` (a
    metadata-sized driver list: m×k×(dim/m) floats)."""
    rows = (corpus.select(F.col(id_col).alias("id"),
                          F.col(vec_col).cast("array<double>").alias("vec"))
            .orderBy("id").limit(k).collect())
    if not rows:
        raise ValueError("train_pq_codebooks on an empty corpus")
    dim = len(rows[0]["vec"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    return [[list(r["vec"][s * dsub:(s + 1) * dsub]) for r in rows]
            for s in range(m)]


def _pq_sub_dist(vec_name: str, s: int, dsub: int, cvec: list[float]) -> str:
    """SQL text of the squared L2 distance between subspace ``s`` of
    column ``vec_name`` and the literal centroid — sequential left fold
    starting at 0.0, the engine-portable order every oracle shares."""
    arr = "array(" + ",".join(f"{x!r}D" for x in cvec) + ")"
    return (f"aggregate(zip_with(slice({vec_name}, {s * dsub + 1}, {dsub}), "
            f"{arr}, (x, y) -> (x - y) * (x - y)), "
            f"cast(0.0 as double), (acc, v) -> acc + v)")


def pq_encode(corpus: DataFrame, vec_col: str, id_col: str,
              codebooks: list[list[list[float]]]) -> DataFrame:
    """Encode every corpus vector as ``m`` codebook indices (argmin
    squared-L2 per subspace; ties break toward the smaller code via a
    least+CASE chain checked in ascending code order — the same
    formulation the SQL oracle uses, so codes are bit-identical).

    Map-only: the codebooks ride along as literals inside ONE
    ``F.expr`` per subspace (the :func:`_nearest_cells` Py4J-cost
    doctrine); the corpus never shuffles.  Output: ``id, codes
    (array<int>)`` — m small ints per vector, the ~dim×32/(m×log2 k)
    compression that lets a 100 TB vector corpus fit a memory budget.
    """
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    c = spread(corpus).select(F.col(id_col).alias("id"),
                              F.col(vec_col).cast("array<double>").alias("vec"))
    code_cols = []
    for s, book in enumerate(codebooks):
        # argmin via array_position(d, array_min(d)) — first occurrence
        # is 1-based, so ties break toward the smaller code exactly as
        # the oracle's ascending-code CASE chain does; each distance is
        # computed once into the array (round 10: this replaced a
        # named_struct + least + k-arm CASE formulation — same codes,
        # ~40% faster and far smaller to compile, measured at sf0.1)
        dists = "array(" + ",".join(
            _pq_sub_dist("vec", s, dsub, cv) for cv in book) + ")"
        expr = (f"element_at(transform(array({dists}), "
                f"d -> array_position(d, array_min(d)) - 1), 1)")
        code_cols.append(F.expr(expr).cast("int").alias(f"c{s}"))
    enc = c.select("id", "vec", *code_cols)
    return enc.select("id", "vec",
                      F.array(*[F.col(f"c{s}") for s in range(m)]).alias("codes"))


def pq_topk(corpus: DataFrame, queries: DataFrame,
            vec_col: str, id_col: str,
            query_vec_col: str, query_id_col: str,
            k: int = 5, m: int = 4, n_codes: int = 8,
            max_queries: int = 1024) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query builds
    an m×n_codes lookup table of squared distances to every centroid
    (driver-computed — queries are small by the same contract as
    :func:`topk_cosine_batch`; the LUT is metadata-sized), and a corpus
    vector's approximate distance is the SUM of m table lookups on its
    codes — no per-pair float folds at search time, the property that
    makes PQ search memory-bandwidth-bound instead of FLOP-bound.

    Plan: encode (map-only, codebook literals) → broadcast the LUT rows
    → per-query top-k via the rank window over (queries × corpus)
    lookup sums.  The corpus never shuffles.  Output: ``query_id, id,
    adc_dist, rank`` (rank ≤ k; ties → id asc).

    ``max_queries`` guards the LUT build: it driver-collects the query
    frame and unrolls m·n_codes literals per query, so a query frame
    above the bound raises ``ValueError`` instead of attempting an
    unbounded driver materialization (the ``max_exact`` doctrine —
    batch an oversized query set, or use :func:`ann_topk_lsh`).
    """
    codebooks = train_pq_codebooks(corpus, vec_col, id_col, m=m, k=n_codes)
    # a corpus smaller than n_codes yields shorter codebooks; the LUT
    # stride must follow the ACTUAL codebook size or subspace s's
    # lookups would read subspace s+1's distances (and past the array
    # end, where element_at yields NULL and NULLs sort into the top-k)
    n_codes = len(codebooks[0])
    enc = pq_encode(corpus, vec_col, id_col, codebooks).select("id", "codes")
    qrows = (queries.select(F.col(query_id_col).alias("query_id"),
                            F.col(query_vec_col).cast("array<double>")
                             .alias("qvec"))
             .orderBy("query_id").limit(max_queries + 1).collect())
    if len(qrows) > max_queries:
        raise ValueError(
            f"pq_topk collects the query side to build per-query ADC "
            f"LUTs; got > max_queries={max_queries} queries — batch "
            f"the query set or raise max_queries explicitly")
    spark = corpus.sparkSession
    luts = spark.createDataFrame(_adc_lut_rows(qrows, codebooks),
                                 "query_id long, lut array<double>")
    scored = (enc.crossJoin(F.broadcast(luts))
              .select("query_id", "id",
                      _adc_score(m, n_codes).alias("adc_dist")))
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def _adc_lut_rows(qrows, codebooks: list[list[list[float]]]) -> list:
    """Per-query ADC lookup tables: ``lut[s·n_codes + j]`` is the
    squared L2 distance between query subspace ``s`` and centroid
    ``j`` — driver-computed in the same sequential fold order as
    :func:`_pq_sub_dist`, so the SQL oracle's doubles are identical."""
    dsub = len(codebooks[0][0])
    lut_rows = []
    for r in qrows:
        qv = list(r["qvec"])
        lut = []
        for s, book in enumerate(codebooks):
            qs = qv[s * dsub:(s + 1) * dsub]
            for cv in book:
                acc = 0.0
                for x, y in zip(qs, cv):
                    acc += (x - y) * (x - y)
                lut.append(acc)
        lut_rows.append((r["query_id"], lut))
    return lut_rows


def _adc_score(m: int, n_codes: int) -> Column:
    """ADC distance of a coded vector to a query LUT: the sum of ``m``
    array lookups ``lut[s·n_codes + codes[s]]`` — subspace-ascending
    term order with no extra init, matching the oracle's
    ``list_prepend(0.0, …)`` left fold (0.0 + t == t for IEEE
    doubles)."""
    score = None
    for s in range(m):
        term = F.element_at(
            F.col("lut"),
            (F.lit(s * n_codes) + F.element_at(F.col("codes"), s + 1) + 1)
            .cast("int"))
        score = term if score is None else score + term
    return score


def ivfpq_topk(corpus: DataFrame, queries: DataFrame,
               vec_col: str, id_col: str,
               query_vec_col: str, query_id_col: str,
               k: int = 5, n_cells: int = 16, nprobe: int = 2,
               m: int = 4, n_codes: int = 8, refine: int = 0,
               max_queries: int = 1024) -> DataFrame:
    """IVF-PQ composition (Jégou et al. TPAMI'11 §IV, the FAISS
    ``IVFADC`` index — here the ``by_residual=false`` variant: PQ codes
    encode the raw vectors, not cell residuals, so the codebook is
    cell-independent and one SQL oracle replays it): the coarse IVF
    quantizer shortlists ``nprobe`` cells per query, PQ-ADC scores ONLY
    the shortlisted cells' codes, and (``refine > 0``) the top
    ``refine`` ADC candidates are re-ranked by exact cosine — the
    production 100 TB serving shape, where neither the full-precision
    vectors nor the whole code table is ever scanned per query.

    Stage shapes (each inherited from its verified component):

    * coarse: first-``n_cells``-by-id centroids (the iters=0 seeding
      contract of :func:`ivf_topk`); corpus cell assignment is a
      map-only argmax over literal centroids; queries probe their
      ``nprobe`` nearest cells.
    * ADC: :func:`train_pq_codebooks` + :func:`pq_encode` (map-only,
      codebook literals); per-query LUTs are driver-built
      (``max_queries`` valve, the :func:`pq_topk` contract) and
      broadcast with the probe rows — the probe join touches
      ~``nprobe/n_cells`` of the corpus and only (shortlist) rows
      reach the rank exchange.
    * refine: the top-``refine`` ADC rows per query (already ≤
      queries×refine after the first rank) score exact cosine against
      the full-precision vector carried on the candidate row; final
      rank runs over ``round(cosine, 9)`` with id tiebreak (the
      hard_negatives contract — rrf/fusion-safe).

    Output: ``query_id, id, adc_dist, cosine, rank`` with ``refine``
    (cosine NULL, rank by adc asc when ``refine=0``); rank ≤ k.
    """
    if refine and refine < k:
        raise ValueError(f"refine={refine} must be 0 or >= k={k}")
    c = (spread(corpus).select(F.col(id_col).alias("id"),
                               F.col(vec_col).cast("array<double>").alias("vec"))
         .withColumn("__nrm__", _norm(F.col("vec"))))
    # ONE driver collect serves both trainings: centroids and codebooks
    # are each "first k corpus vectors by id" (the iters=0 seeding
    # contract), so the longer prefix covers both — a second
    # orderBy-limit job over the same corpus would be pure job-floor
    seed = c.orderBy("id").limit(max(n_cells, n_codes)).collect()
    if not seed:
        raise ValueError("ivfpq_topk on an empty corpus")
    centroids = [(i, list(r["vec"]))
                 for i, r in enumerate(seed[:n_cells])]
    dim = len(centroids[0][1])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    codebooks = [[list(r["vec"][s * dsub:(s + 1) * dsub])
                  for r in seed[:n_codes]] for s in range(m)]
    n_codes = len(codebooks[0])
    # pq_encode keeps (id, vec, codes); the cell assignment rides the
    # same map-only pass — the corpus is scanned once and never shuffled
    enc = (pq_encode(c, "vec", "id", codebooks)
           .withColumn("__nrm__", _norm(F.col("vec")))
           .withColumn("cell",
                       _nearest_cells("vec", "__nrm__", centroids, 1)[0])
           .drop("__nrm__"))
    qrows = (queries.select(F.col(query_id_col).alias("query_id"),
                            F.col(query_vec_col).cast("array<double>")
                             .alias("qvec"))
             .orderBy("query_id").limit(max_queries + 1).collect())
    if len(qrows) > max_queries:
        raise ValueError(
            f"ivfpq_topk collects the query side to build per-query ADC "
            f"LUTs; got > max_queries={max_queries} queries — batch "
            f"the query set or raise max_queries explicitly")
    spark = corpus.sparkSession
    luts = spark.createDataFrame(_adc_lut_rows(qrows, codebooks),
                                 "query_id long, lut array<double>")
    q = (spark.createDataFrame([(r["query_id"], list(r["qvec"]))
                                for r in qrows],
                               "query_id long, qvec array<double>")
         .withColumn("__qnrm__", _norm(F.col("qvec"))))
    q_probes = (q.select("query_id", "qvec",
                         F.explode(_nearest_cells("qvec", "__qnrm__",
                                                  centroids, nprobe))
                         .alias("cell"))
                .join(luts, "query_id"))
    shortlist = max(k, refine)
    scored = (enc.join(F.broadcast(q_probes), "cell")
              .select("query_id", "id", "vec", "qvec",
                      _adc_score(m, n_codes).alias("adc_dist")))
    w_adc = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"),
                                                   F.asc("id"))
    cand = (scored.withColumn("rank", F.row_number().over(w_adc))
            .filter(F.col("rank") <= shortlist))
    if not refine:
        return cand.select("query_id", "id", "adc_dist",
                           F.lit(None).cast("double").alias("cosine"),
                           "rank")
    rers = cand.select("query_id", "id", "adc_dist",
                       _cosine(F.col("vec"), F.col("qvec")).alias("cosine"))
    w_fin = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("cosine"), 9)), F.asc("id"))
    return (rers.withColumn("rank", F.row_number().over(w_fin))
            .filter(F.col("rank") <= k)
            .select("query_id", "id", "adc_dist", "cosine", "rank"))


def _nearest_cells_py(centroids: list[tuple[int, list[float]]],
                      qvec: list[float], nprobe: int) -> list[int]:
    """Driver-side replay of :func:`_nearest_cells` for an
    already-collected query vector: same sequential dot/norm folds,
    same ``(cos desc, cell asc)`` tie-break — bit-identical cell ids
    (Python doubles ARE IEEE doubles, and the fold order matches)."""
    qn = _norm_py(qvec)
    cands = sorted(
        ((_dot_py(qvec, cv) / (qn * _centroid_norm(cv)), -cid)
         for cid, cv in centroids),
        reverse=True)[:nprobe]
    return [-neg for _, neg in cands]


def stage_ivfpq(corpus: DataFrame, vec_col: str, id_col: str, path: str,
                n_cells: int = 16, m: int = 4, n_codes: int = 8
                ) -> tuple[list[tuple[int, list[float]]],
                           list[list[list[float]]]]:
    """Stage the IVFADC index to disk — the build half of the
    production serving split that :func:`ivfpq_topk` documents: one
    map-only corpus pass computes PQ codes AND the coarse cell (the
    codebook/centroid literals are paid ONCE here, at build time, never
    per query), written as parquet **partitioned by cell** with the
    full-precision vector carried for the refine stage.  Returns
    ``(centroids, codebooks)`` — the metadata the probe side needs
    (persist them next to the index in production; they are
    first-k-by-id derivations, ~n_cells·dim + m·n_codes·dim floats).

    Same seeding contract as :func:`ivfpq_topk` (iters=0,
    first-by-id), so a probe over this staging returns IDENTICAL rows
    to the in-memory composition — pinned in tests/test_interval_ivf.py.
    """
    c = (spread(corpus)
         .select(F.col(id_col).alias("id"),
                 F.col(vec_col).cast("array<double>").alias("vec"))
         .withColumn("__nrm__", _norm(F.col("vec"))))
    seed = c.orderBy("id").limit(max(n_cells, n_codes)).collect()
    if not seed:
        raise ValueError("stage_ivfpq on an empty corpus")
    centroids = [(i, list(r["vec"])) for i, r in enumerate(seed[:n_cells])]
    dim = len(centroids[0][1])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    codebooks = [[list(r["vec"][s * dsub:(s + 1) * dsub])
                  for r in seed[:n_codes]] for s in range(m)]
    enc = (pq_encode(c, "vec", "id", codebooks)
           .withColumn("__nrm__", _norm(F.col("vec")))
           .withColumn("cell",
                       _nearest_cells("vec", "__nrm__", centroids, 1)[0])
           .drop("__nrm__"))
    enc.write.mode("overwrite").partitionBy("cell").parquet(path)
    return centroids, codebooks


def ivfpq_topk_staged(spark, path: str,
                      centroids: list[tuple[int, list[float]]],
                      codebooks: list[list[list[float]]],
                      queries: DataFrame, query_vec_col: str,
                      query_id_col: str, k: int = 5, nprobe: int = 2,
                      refine: int = 0, max_queries: int = 1024,
                      pin_probe_stats: bool = False) -> DataFrame:
    """Probe a staged IVFADC index (:func:`stage_ivfpq`) — the 100 TB
    serving shape the round-10 verdict named: the probe plan contains
    NO codebook or centroid literals (probe cells are driver-computed
    from the collected query batch — the ``max_queries`` valve already
    makes that collect part of the contract — and the ADC LUTs ride a
    broadcast TABLE), so plan compile time is independent of
    ``n_cells``/``m``/``n_codes``, and the scan carries a STATIC
    ``cell IN (probed)`` partition filter: Spark's file index never
    lists the un-probed cell directories, which is strictly stronger
    than the broadcast-join DPP of :func:`ivf_topk_staged`.

    ``pin_probe_stats=True`` appends two pinned columns (the
    physical-property-as-correctness doctrine of
    ``partition_pruned_join``): ``n_cells_probed`` (distinct cells the
    batch touches — the oracle recomputes it from its own probe
    replay) and ``pruning_filters`` (count of scans whose
    PartitionFilters carry the cell predicate, from the actual plan —
    the oracle pins 1, so a planner regression to a full scan fails
    the value gate).

    Output: ``query_id, id, adc_dist, cosine, rank`` — identical rows
    to :func:`ivfpq_topk` with the same parameters.
    """
    if refine and refine < k:
        raise ValueError(f"refine={refine} must be 0 or >= k={k}")
    m = len(codebooks)
    n_codes = len(codebooks[0])
    qrows = (queries.select(F.col(query_id_col).alias("query_id"),
                            F.col(query_vec_col).cast("array<double>")
                             .alias("qvec"))
             .orderBy("query_id").limit(max_queries + 1).collect())
    if len(qrows) > max_queries:
        raise ValueError(
            f"ivfpq_topk_staged collects the query side for probe/LUT "
            f"construction; got > max_queries={max_queries} queries — "
            f"batch the query set or raise max_queries explicitly")
    probes = [(int(r["query_id"]), list(r["qvec"]),
               _nearest_cells_py(centroids, list(r["qvec"]), nprobe))
              for r in qrows]
    probed_cells = sorted({c for _, _, cells in probes for c in cells})
    luts = spark.createDataFrame(_adc_lut_rows(qrows, codebooks),
                                 "query_id long, lut array<double>")
    q_probes = spark.createDataFrame(
        [(qid, qv, int(c)) for qid, qv, cells in probes for c in cells],
        "query_id long, qvec array<double>, cell int").join(luts, "query_id")
    scan = (spark.read.parquet(path)
            .filter(F.col("cell").isin([int(c) for c in probed_cells])))
    scored = (scan.join(F.broadcast(q_probes), "cell")
              .select("query_id", "id", "vec", "qvec",
                      _adc_score(m, n_codes).alias("adc_dist")))
    shortlist = max(k, refine)
    w_adc = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"),
                                                   F.asc("id"))
    cand = (scored.withColumn("rank", F.row_number().over(w_adc))
            .filter(F.col("rank") <= shortlist))
    if not refine:
        out = cand.select("query_id", "id", "adc_dist",
                          F.lit(None).cast("double").alias("cosine"),
                          "rank")
    else:
        rers = cand.select("query_id", "id", "adc_dist",
                           _cosine(F.col("vec"), F.col("qvec"))
                           .alias("cosine"))
        w_fin = Window.partitionBy("query_id").orderBy(
            F.desc(F.round(F.col("cosine"), 9)), F.asc("id"))
        out = (rers.withColumn("rank", F.row_number().over(w_fin))
               .filter(F.col("rank") <= k)
               .select("query_id", "id", "adc_dist", "cosine", "rank"))
    if pin_probe_stats:
        from ..plans.pruning import static_partition_filter_count
        out = (out.withColumn("n_cells_probed",
                              F.lit(len(probed_cells)).cast("long"))
               .withColumn("pruning_filters",
                           F.lit(static_partition_filter_count(out, "cell"))
                           .cast("long")))
    return out


def ann_mrr_report(corpus: DataFrame, queries: DataFrame,
                   vec_col: str, id_col: str,
                   query_vec_col: str, query_id_col: str,
                   k: int = 5, planes: int = 8,
                   multiprobe: bool = False) -> DataFrame:
    """Mean-reciprocal-rank gauge for the sign-LSH ANN path: per query,
    ``1/rank`` of the TRUE nearest neighbor (exact rank-1) within the
    ANN result list, 0.0 when the ANN list misses it entirely — the
    metric that tells you whether tuning is losing the single best
    match, which recall@k (set overlap) can hide.

    Same two-broadcast-scan shape as :func:`ann_recall_report`; the
    final join touches queries×k rows.  Output: ``query_id,
    true_top1, found, rr`` (rr ∈ {0} ∪ {1/1..1/k}).
    """
    exact1 = (topk_cosine_batch(corpus, queries, vec_col, id_col,
                                query_vec_col, query_id_col, k=1)
              .select("query_id", F.col("id").alias("true_top1")))
    ann = ann_topk_lsh(corpus, queries, vec_col, id_col,
                       query_vec_col, query_id_col, k=k, planes=planes,
                       multiprobe=multiprobe) \
        .select("query_id", "id", "rank")
    hit = (exact1.join(ann,
                       (exact1.query_id == ann.query_id)
                       & (exact1.true_top1 == ann.id), "left")
           .select(exact1.query_id, "true_top1", ann.rank))
    return (hit.select("query_id", "true_top1",
                       F.col("rank").isNotNull().alias("found"),
                       F.when(F.col("rank").isNotNull(),
                              F.lit(1.0) / F.col("rank"))
                        .otherwise(F.lit(0.0)).alias("rr")))


def _dot_py(a: list, b: list) -> float:
    """Python replay of dedup._dot's sequential left-fold — the same
    IEEE additions in the same order, so the double is bit-identical to
    the JVM expression (and to the oracle's replay)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _norm_py(a: list) -> float:
    import math
    acc = 0.0
    for x in a:
        acc = acc + x * x
    return math.sqrt(acc)


def mmr_topk(df: DataFrame, vec_col: str, id_col: str,
             query_vec: list[float], k: int = 5,
             lam: float = 0.7, max_local: int = 100_000,
             max_local_bytes: int = 64 << 20) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein, SIGIR'98) — the selection rule for "relevant but not
    redundant" sets: few-shot example pools, eval suites, dedup-aware
    retrieval.  Greedily picks ``k`` vectors maximizing
    ``lam·cos(v, q) − (1−lam)·max_{s∈selected} cos(v, s)``.

    Scale shape: MMR is inherently sequential in ``k``, so the design
    splits into ONE distributed pass and k tiny rounds.  The
    distributed pass scores relevance over the full corpus and applies
    a mathematically SAFE prune: with ``maxsim ∈ [−1, 1]`` (cosine's
    full range — real corpora do produce negative pairwise cosines),
    any round's winner scores at least ``lam·rel₍ₖ₎ − (1−lam)`` (some
    top-k-relevance item always remains pickable, its maxsim ≤ 1),
    while a candidate's score is at most ``lam·rel + (1−lam)`` (its
    maxsim ≥ −1), so every item with
    ``rel < rel₍ₖ₎ − 2·(1−lam)/lam`` can never be selected in ANY
    round — dropping it cannot change the output, ties included
    (pruning is strict-less-than).  The survivor set is cached and coalesced to a
    task count matched to its size, so each greedy round is a small
    ``TakeOrderedAndProject`` argmax + one 1-row collect instead of a
    full-width corpus job.  Ties broken by id.  The cosine fold order
    matches the engine's ``_cosine`` and the prune threshold uses the
    same Python doubles as the SQL oracle, so the oracle running the
    identical pruned greedy recursion reproduces every double
    bit-for-bit.

    Output: ``rank (1-based), id, relevance, mmr_score`` (k rows, or
    fewer if the corpus is smaller).

    ``max_local_bytes`` byte-bounds the prefix collect: ``max_local``
    alone is a ROW valve, so a fat-vector corpus (dim is known from
    ``query_vec`` — cosine requires corpus dim to match) could turn
    5 001 rows into gigabytes on the driver.  The effective prefix is
    ``min(max_local, max_local_bytes // row_bytes)`` — shrinking it
    only changes WHICH path runs (local greedy vs cluster rounds; both
    produce bit-identical output), never the values.  If even ``k``
    rows exceed the budget the call refuses: the algorithm's own
    output (k selected vectors) must live driver-side regardless.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    # 8 bytes per double + ~48 bytes of Row/array overhead per row
    row_bytes = len(query_vec) * 8 + 48
    by_bytes = max_local_bytes // row_bytes
    if by_bytes < k:
        raise ValueError(
            f"k={k} vectors of dim {len(query_vec)} (~{row_bytes} B/row) "
            f"exceed max_local_bytes={max_local_bytes}: MMR keeps the k "
            "selected vectors driver-side by construction — raise "
            "max_local_bytes or reduce k/dim (random_project first)")
    max_local = min(max_local, by_bytes)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = (spread(df).select(F.col(id_col).cast("long").alias("id"),
                                F.col(vec_col).cast("array<double>")
                                 .alias("vec"))
              .withColumn("rel", _cosine(F.col("vec"), q)))
    # ONE distributed pass: the prune's survivor set is a REL-PREFIX of
    # the corpus (rows with rel >= kr − 2(1−lam)/lam, i.e. exactly the
    # top rows by relevance), so a single TakeOrdered collect of up to
    # max_local+1 rows is simultaneously the top-k fetch AND the
    # survivor fetch.  When the prefix proves the survivor set fits the
    # valve, the k-round greedy runs driver-side in Python with the
    # bit-identical sequential folds (_dot_py/_norm_py replay the JVM
    # fold order exactly, rel doubles are reused from the cluster pass)
    # — ONE job total instead of 1 + (k−1) sequential argmax jobs, this
    # entry's whole cost at bench scale (12.9× of a 0.2 s DuckDB
    # denominator, all job floor).  A survivor set above the valve
    # keeps the distributed rounds: at 100 TB with a weak prune the
    # greedy stays on the cluster.  `scored` is persisted BEFORE the
    # head collect so this one pass is also the cache materialization
    # the fallback rounds reuse — without it the fallback re-scored the
    # corpus once more (measured +1 s at sf1); the local path just
    # unpersists a tiny relation.
    scored = scored.persist()
    head = (scored.orderBy(F.desc("rel"), F.asc("id"))
            .limit(max_local + 1).collect())
    # rel is NULL for a zero-norm vector (Spark's non-ANSI x/0.0 is
    # NULL, not NaN; desc ordering puts the NULLs last, so dropping
    # them cannot lose a genuine prefix row): exclude those rows HERE
    # with the same semantics the distributed fallback's `rel >= thr`
    # filter applies implicitly — cosine diversity to a zero vector is
    # undefined, and a None rel would crash the Python prune/greedy
    n_raw = len(head)
    head = [r for r in head if r["rel"] is not None]
    top_rows = head[:k]
    thr = None
    if len(top_rows) == k:
        # same arithmetic (and the same doubles) as the oracle's
        # kr - 2(1-lam)/lam threshold CTE
        thr = top_rows[-1]["rel"] - 2.0 * (1.0 - float(lam)) / float(lam)
    if n_raw <= max_local or len(head) < n_raw:
        # the whole corpus is in hand; the prune is a local filter.
        # len(head) < n_raw means the collected prefix already reached
        # NULL-rel rows — desc ordering puts NULLs last, so every row
        # BEYOND the prefix is also NULL-rel: the non-NULL head is the
        # complete usable corpus even when n_raw exceeded the valve
        # (round-9 ADVICE: gating on the pre-filter count alone forced
        # the distributed fallback for corpora padded with zero-norm
        # vectors)
        surv = head if thr is None else [r for r in head
                                         if r["rel"] >= thr]
    elif thr is not None and (not head or head[-1]["rel"] < thr):
        # every row beyond the collected prefix has rel <= head[-1].rel
        # < thr — the survivor set is complete inside the prefix
        surv = [r for r in head if r["rel"] >= thr]
    else:
        surv = None    # survivor set may exceed the valve: cluster path
    if surv is not None:
        # vectorized greedy, bit-identical to the scalar replay: the
        # per-candidate dot/norm folds run SEQUENTIALLY IN d with numpy
        # broadcasting ACROSS candidates — `acc = acc + V[:, j] * sv[j]`
        # performs, per candidate, the identical multiply-then-add IEEE
        # op sequence as `_dot_py`'s left fold (numpy elementwise ufuncs
        # never fuse into FMA), so every sim/score double equals the
        # interpreted loop's and the oracle's.  This is what lets
        # max_local default to 100 000 (the round-11 change: at sf1 the
        # safe prune keeps ~20k survivors, which used to overflow the
        # 5 000-row valve into k sequential cluster argmax jobs — ~2 s
        # of job floor for a ~10 MB survivor set); the argmax itself
        # stays a scalar pass so comparison/tie semantics (score desc,
        # then (id, position) asc) are byte-for-byte the old loop's.
        import numpy as np

        lam_f, oml_f = float(lam), 1.0 - float(lam)
        # POSITIONAL rows, not an id-keyed dict: duplicate ids must
        # each stay a candidate (the distributed rounds score every
        # row); id is only the tie-break key, position the last resort
        ids = [int(row["id"]) for row in surv]
        rels = [float(row["rel"]) for row in surv]
        V = np.array([row["vec"] for row in surv], dtype=np.float64)
        n, d = V.shape if V.ndim == 2 else (len(surv), 0)
        norm_acc = np.zeros(n, dtype=np.float64)
        for j in range(d):
            cj = V[:, j]
            norm_acc = norm_acc + cj * cj
        norms = np.sqrt(norm_acc)
        # invariant: every survivor has non-NULL rel, which requires a
        # nonzero vector norm (zero-norm rows were excluded with the
        # distributed filter's NULL semantics above) — assert rather
        # than let a violation surface as a division by zero
        assert bool((norms != 0.0).all()), \
            "zero-norm survivor despite NULL-rel exclusion"
        picked: list[tuple] = []
        taken: set[int] = set()        # positions
        maxsims = None                 # running max sim per position
        scores = [lam_f * rv - oml_f * 0.0 for rv in rels]
        last_pick = None               # (vec row, norm) of newest pick
        for r in range(1, k + 1):
            if last_pick is not None:
                sv, sn = last_pick
                acc = np.zeros(n, dtype=np.float64)
                for j in range(d):
                    acc = acc + V[:, j] * sv[j]
                new = acc / (norms * sn)
                maxsims = new if maxsims is None \
                    else np.maximum(maxsims, new)
                ms = maxsims
                scores = [lam_f * rels[p] - oml_f * float(ms[p])
                          for p in range(n)]
            best = None
            for p in range(n):
                if p in taken:
                    continue
                score, i = scores[p], ids[p]
                if (best is None or score > best[0]
                        or (score == best[0]
                            and (i, p) < (best[1], best[2]))):
                    best = (score, i, p)
            if best is None:
                break
            bp = best[2]
            picked.append((r, best[1], rels[bp], best[0]))
            last_pick = (V[bp], float(norms[bp]))
            taken.add(bp)
        scored.unpersist()
        return df.sparkSession.createDataFrame(
            picked, "rank long, id long, relevance double, mmr_score double")
    # fallback: survivor set may exceed the valve — distributed rounds
    # over the cached pruned corpus (the pre-round-8 path; the cache was
    # already materialized by the head collect above)
    base = scored if thr is None \
        else scored.filter(F.col("rel") >= F.lit(thr))
    lam_c = F.lit(float(lam))
    oml_c = F.lit(1.0 - float(lam))
    # Literal-array rounds (selected vectors inlined into the score
    # expression).  A constant-plan alternative — running maxsim column
    # + one broadcast join + localCheckpoint per round — was measured
    # SLOWER warm (3.1-3.5 s vs 2.4-2.6 s at sf0.1): the per-round
    # checkpoint jobs cost more than the codegen compiles they save,
    # and repeated runs reuse the compiled classes anyway (identical
    # literals hit the codegen cache).
    picked: list[tuple] = []
    sel_vecs: list[list[float]] = []
    try:
        for r in range(1, k + 1):
            if r == 1 and top_rows:
                # round 1's argmax IS the max-relevance item (maxsim
                # term is 0), already in hand from the top-k collect —
                # one cluster job saved; lam·rel − oml·0.0 equals the
                # engine/oracle expression bit-for-bit (x − 0.0 ≡ x)
                row0 = top_rows[0]
                picked.append((1, int(row0["id"]), float(row0["rel"]),
                               float(lam) * float(row0["rel"])
                               - (1.0 - float(lam)) * 0.0))
                sel_vecs.append([float(x) for x in row0["vec"]])
                continue
            cand = base
            if picked:
                cand = cand.filter(
                    ~F.col("id").isin(*[p[1] for p in picked]))
            if sel_vecs:
                sims = [
                    _cosine(F.col("vec"),
                            F.array(*[F.lit(float(x)) for x in sv]))
                    for sv in sel_vecs]
                maxsim = sims[0] if len(sims) == 1 else F.greatest(*sims)
            else:
                maxsim = F.lit(0.0)
            score = (lam_c * F.col("rel") - oml_c * maxsim)
            top = (cand.select("id", "vec", "rel",
                               score.alias("mmr_score"))
                   .orderBy(F.desc("mmr_score"), F.asc("id"))
                   .limit(1).collect())
            if not top:
                break
            row = top[0]
            picked.append((r, int(row["id"]), float(row["rel"]),
                           float(row["mmr_score"])))
            sel_vecs.append([float(x) for x in row["vec"]])
    finally:
        scored.unpersist()
    return df.sparkSession.createDataFrame(
        picked, "rank long, id long, relevance double, mmr_score double")


_COV_BITS = 36                       # fixed-point quantization: 2^-36
_COV_SCALE = float(1 << _COV_BITS)   # exact power-of-two double
_COV_P72 = float(1 << (2 * _COV_BITS))
_COV_LO = 1 << 19                    # hi/lo split for the exact GEMM


def _round9_half_up(x: float) -> float:
    """Driver-side replica of ``F.round(col, 9)`` / DuckDB ``round()``:
    ties go AWAY from zero (Python's built-in ``round`` is half-even —
    an exact tie at the 9th decimal would flip the eigendecomposition
    input relative to the oracle).  The Decimal is built from
    ``repr(x)`` — the shortest round-trip decimal string — matching
    Spark's ``BigDecimal.valueOf(double)`` conversion."""
    import decimal
    return float(decimal.Decimal(repr(float(x))).quantize(
        decimal.Decimal("1e-9"), rounding=decimal.ROUND_HALF_UP))


def _cov_partials_raw(df: DataFrame, vec_col: str) -> DataFrame:
    """One corpus pass → exact fixed-point second-moment partials, the
    shared input of :func:`embedding_covariance` and
    :func:`embedding_whiten` (which needs the means too — same pass).
    Emits ONE un-merged d(d+1)/2 + d row block per non-empty partition
    (map-only — no exchange); callers either merge with a
    ``groupBy(i, j)`` (:func:`_cov_partials`, the any-scale shape) or,
    when the partition count is driver-bounded, collect the raw blocks
    and merge with exact Python integer sums — associativity makes the
    two identical bit-for-bit.

    Each value is quantized to integers at 2^-36
    (``floor(x·2^36 + 0.5)`` — every step exact in float64 for
    |x| < 2^16, and bit-replicable in any engine: the scale is a power
    of two, so the multiply is exact, and floor is IEEE), then the
    upper-triangle product sums Σ qxᵢ·qxⱼ and the per-dimension sums
    Σ qxᵢ are INTEGER totals — associative, hence order-independent
    under any partitioning, which is what lets the DuckDB oracle
    replay them value-exactly with native hugeint arithmetic.

    The per-batch kernel is BLAS, not a 66 M-row explode (the previous
    form's cost): q splits as q = 2^19·hi + lo, three float64 GEMMs per
    ≤4096-row chunk (every partial sum provably < 2^53 → float64 is
    exact integer arithmetic), chunk results accumulated as Python
    ints.  Output rows per Arrow batch: d(d+1)/2 product sums
    (``i ≤ j``), d mean sums (``j = -1``), each carrying the batch row
    count — ~d² rows per batch regardless of corpus size (the
    count-min communication pattern).
    """
    import decimal

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("i", T.LongType(), False),
        T.StructField("j", T.LongType(), False),
        T.StructField("s", T.DecimalType(38, 0), False),
        T.StructField("n", T.LongType(), False),
    ])

    def run(batches):
        # accumulate across ALL Arrow batches in the partition and
        # emit ONE d(d+1)/2 + d row block per non-empty partition:
        # the exchange (or the driver collect on the bounded path)
        # carries partitions·~d² rows, not batches·~d²
        tot = 0
        s2_acc = m_acc = None
        d = 0
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            x = np.asarray([np.asarray(v, dtype=np.float64)
                            for v in pdf["__v__"]])
            d = x.shape[1]
            q = np.floor(x * _COV_SCALE + 0.5)
            qmax = float(np.max(np.abs(q))) if q.size else 0.0
            # exactness envelope: hi = q/2^19 must keep every SINGLE
            # hi·hi product < 2^53 (float64-exact even at chunk=1), so
            # himax < 2^26 ⇔ qmax < 2^45 ⇔ |x| < 2^9.  The old 2^52
            # bound admitted |x| up to 2^16, where hi²>2^53 products go
            # inexact and the int64 cast can overflow.
            if qmax >= float(1 << 45):
                raise ValueError(
                    "embedding magnitude too large for fixed-point "
                    f"covariance (|x| must be < 2^{45 - _COV_BITS})")
            hi = np.floor(q / _COV_LO)
            lo = q - hi * _COV_LO            # in [0, 2^19)
            himax = max(1.0, float(np.max(np.abs(hi))))
            # chunk so every GEMM partial sum stays < 2^53 (exact in
            # float64): terms ≤ himax² per row for hi·hi, ≤ himax·2^19
            # for hi·lo, ≤ 2^38 for lo·lo — himax² dominates
            chunk = int(max(1, min(4096, float(1 << 52) / (himax * himax))))
            z = np.zeros((d, d), dtype=object)
            acc_hh, acc_hl, acc_ll = z.copy(), z.copy(), z.copy()
            acc_m = np.zeros(d, dtype=object)
            for a in range(0, n, chunk):
                H, L = hi[a:a + chunk], lo[a:a + chunk]
                acc_hh += (H.T @ H).astype(np.int64).astype(object)
                acc_hl += (H.T @ L).astype(np.int64).astype(object)
                acc_ll += (L.T @ L).astype(np.int64).astype(object)
                acc_m += (q[a:a + chunk].sum(axis=0)
                          .astype(np.int64).astype(object))
            s2 = (acc_hh * (_COV_LO * _COV_LO)
                  + (acc_hl + acc_hl.T) * _COV_LO + acc_ll)
            if s2_acc is None:
                s2_acc, m_acc = s2, acc_m
            else:
                s2_acc = s2_acc + s2
                m_acc = m_acc + acc_m
            tot += n
        if tot:
            ii, jj, ss = [], [], []
            for i in range(d):
                for j in range(i, d):
                    ii.append(i)
                    jj.append(j)
                    ss.append(decimal.Decimal(int(s2_acc[i, j])))
                ii.append(i)
                jj.append(-1)
                ss.append(decimal.Decimal(int(m_acc[i])))
            yield pd.DataFrame({"i": pd.array(ii, dtype="int64"),
                                "j": pd.array(jj, dtype="int64"),
                                "s": ss,
                                "n": pd.array([tot] * len(ii),
                                              dtype="int64")})

    src = spread(df).select(
        F.col(vec_col).cast("array<double>").alias("__v__"))
    return src.mapInPandas(run, schema=out_schema)


def _cov_partials(df: DataFrame, vec_col: str) -> DataFrame:
    """Merged (one row per (i, j)) form of :func:`_cov_partials_raw` —
    the shape :func:`embedding_whiten` and the big-cluster covariance
    path consume."""
    return (_cov_partials_raw(df, vec_col)
            .groupBy("i", "j")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n")))


def embedding_covariance(df: DataFrame, vec_col: str) -> DataFrame:
    """Upper-triangle covariance matrix of an embedding column — the
    input to whitening/PCA and the standard drift monitor for an
    embedding pipeline (covariance shift = upstream model change).

    Scale shape: one Arrow-batched pass forming exact fixed-point
    integer sums with a split-GEMM kernel (:func:`_cov_partials` —
    order-independent, so the oracle replays them bit-for-bit with
    hugeint arithmetic); the exchange carries ~d² rows per batch
    regardless of corpus size.  The final covariance divides the
    integer sums back in a pinned op order and rounds to 9 decimals at
    the boundary (the label-centroid doctrine: engine-to-engine
    int→double casts agree to ≪ the round-9 half-step).

    Output: ``i, j (0-based, i <= j), cov, n`` — d·(d+1)/2 rows.
    """
    # The aggregated partials are metadata-sized (d·(d+1)/2 + d rows at
    # ANY corpus scale), so the finish runs driver-side — the
    # embedding_whiten doctrine.  The previous all-DataFrame finish
    # (localCheckpoint + two broadcast joins + range sort over 2080
    # rows) spent its wall on job orchestration: 1 checkpoint job + 2
    # broadcast builds + the sampling pass ≈ 0.6 s of pure overhead at
    # sf1 against a 1.2 s entry.  One collect + exact Python doubles
    # (same IEEE ops in the same order as the Catalyst expression,
    # half-up round via _round9_half_up) produces the identical table.
    #
    # Partial MERGE placement — measured, not assumed (round 11): a
    # driver-side merge of the RAW per-partition blocks (skipping the
    # groupBy exchange) was tried and LOST: collecting partitions·d²
    # ≈ 68k DECIMAL rows costs ~0.6 s of Python deserialization while
    # the exchange it avoids merges them to d(d+1)/2+d rows for a
    # 0.2 s collect — the JVM-side merge is cheaper than shipping
    # un-merged decimals through the Python boundary at every scale
    # (and the rdd.getNumPartitions probe alone cost 0.66 s of plan
    # translation).  The groupBy-merged shape stays.
    rows = _cov_partials(df, vec_col).collect()
    msum = {int(r["i"]): int(r["s"]) for r in rows if int(r["j"]) == -1}
    out = []
    for r in rows:
        i, j = int(r["i"]), int(r["j"])
        if j < 0:
            continue
        n = int(r["n"])
        mean_i = float(msum[i]) / _COV_SCALE / n
        mean_j = float(msum[j]) / _COV_SCALE / n
        cov = _round9_half_up(float(int(r["s"])) / _COV_P72 / n
                              - mean_i * mean_j)
        out.append((i, j, cov, n))
    out.sort()
    return df.sparkSession.createDataFrame(
        out, "i long, j long, cov double, n long")


def embedding_whiten(df: DataFrame, vec_col: str, id_col: str,
                     eps: float = 1e-8) -> DataFrame:
    """PCA-whitening of an embedding column: rotate into the covariance
    eigenbasis and rescale each direction to unit variance — the
    standard preprocessing that makes cosine ≈ Mahalanobis and improves
    ANN recall on anisotropic embeddings (Su et al., "Whitening
    Sentence Representations", 2021).

    The d×d covariance is metadata-sized (d ≤ a few thousand), so the
    eigendecomposition runs driver-side on numpy; the projection ``W =
    U·diag(1/√(λ+eps))`` is broadcast back as a literal matrix and the
    apply is a MAP-ONLY ``transform``/fold per row — the corpus never
    shuffles.  The whitened-covariance≈I contract is pinned by tests;
    the driver oracle replicates the whole pipeline value-exactly: the
    cov/mean inputs are exact-decimal sums rounded to 9 (so DuckDB
    reproduces the eigendecomposition INPUT bit-for-bit, and the same
    numpy ``eigh`` then yields the same ``W``), and the per-row
    projection is a fixed-order double fold both engines replay
    identically — see ``_whiten_sql`` in ``__spark_entry__.py``.

    Output: ``id, vec (array<double>, whitened)``.
    """
    import numpy as np

    # ONE corpus pass: the fixed-point partials carry both the
    # second-moment sums and the mean sums (VERDICT-era form ran a
    # covariance pass plus a separate mean pass); cov and mu are then
    # derived driver-side on the ~d² collected rows with the exact op
    # order the oracle replays (int→double cast, /2^72 or /2^36, /n,
    # round-9) — order-independent integer sums make the
    # eigendecomposition input reproducible bit-for-bit
    parts = _cov_partials(df, vec_col).collect()  # ~d²/2 rows — metadata
    d = max(int(r["j"]) for r in parts) + 1
    cov = np.zeros((d, d))
    mu = np.zeros(d)
    msum = {int(r["i"]): (int(r["s"]), int(r["n"]))
            for r in parts if r["j"] == -1}
    for i, (s, n) in msum.items():
        mu[i] = _round9_half_up(float(s) / _COV_SCALE / n)
    for r in parts:
        i, j = int(r["i"]), int(r["j"])
        if j < 0:
            continue
        n = int(r["n"])
        c = _round9_half_up(float(int(r["s"])) / _COV_P72 / n
                            - (float(msum[i][0]) / _COV_SCALE / n)
                            * (float(msum[j][0]) / _COV_SCALE / n))
        cov[i, j] = c
        cov[j, i] = c
    lam, u = np.linalg.eigh(cov)
    w = u @ np.diag(1.0 / np.sqrt(np.maximum(lam, 0.0) + eps))  # d×d
    # projection: whitened_k = Σ_i (x_i - mu_i) · W[i, k], as ONE
    # Arrow-batched vectorized pass (map-only — the corpus never
    # shuffles; W + mu ride as a ~35 KB task closure).  The sum is
    # np.cumsum over the term axis, NOT a GEMM: cumsum adds strictly
    # left-to-right, which is bit-identical to the seedless sequential
    # fold the oracle replays (DuckDB list_reduce) — a dot/matmul's
    # pairwise/SIMD accumulation order would drift in the last ulp and
    # could land on the far side of the round-6 boundary.  (An earlier
    # form built the fold as lambda-bound Catalyst array expressions;
    # those are interpreted per element — d² interpreted ops per row
    # dominated the entry's wall clock at sf0.1.)
    import pandas as pd
    from pyspark.sql import types as T

    wT = w.astype(np.float64)          # W[i, k]
    mu64 = mu.astype(np.float64)
    out_schema = T.StructType([
        T.StructField("id", df.schema[id_col].dataType, True),
        T.StructField("vec", T.ArrayType(T.DoubleType(), True), True),
    ])

    def run(batches):
        for pdf in batches:
            n = len(pdf)
            out = np.empty((n, d), dtype=np.float64)
            if n:
                x = np.asarray([np.asarray(v, dtype=np.float64)
                                for v in pdf["__v__"]])
                step = max(1, (1 << 22) // (d * d))  # ≤ ~32 MB of terms
                for lo in range(0, n, step):
                    c = x[lo:lo + step] - mu64          # m×d
                    terms = c[:, :, None] * wT[None, :, :]  # m×d×d
                    out[lo:lo + step] = np.cumsum(terms, axis=1)[:, -1, :]
            yield pd.DataFrame({"id": pdf["__id__"],
                                "vec": [row.tolist() for row in out]})

    return (spread(df)
            .select(F.col(id_col).alias("__id__"),
                    F.col(vec_col).cast("array<double>").alias("__v__"))
            .mapInPandas(run, schema=out_schema))


def pca_variance(df: DataFrame, vec_col: str) -> DataFrame:
    """Eigen-spectrum of the embedding covariance — the intrinsic-
    dimensionality / anisotropy report that decides whether whitening
    (:func:`embedding_whiten`) or dimension truncation is worth it
    before ANN indexing (Su et al. 2021 motivate whitening exactly by
    this spectrum's skew).

    Scale shape: identical to whitening — ONE distributed exact-
    decimal covariance pass (d²-bounded exchange), then the
    eigenvalues come from the metadata-sized d×d matrix driver-side;
    the result is d rows, created directly (no corpus job).  The
    deterministic cov input (decimal sums, round-9) makes the spectrum
    reproducible bit-for-bit by an oracle replaying the same
    eigendecomposition.

    Output: ``component (0-based, by descending eigenvalue),
    eigenvalue, explained, cum_explained`` (raw doubles — round at the
    comparison boundary).
    """
    import numpy as np

    stats = embedding_covariance(df, vec_col).collect()  # d²/2 — metadata
    d = max(int(r["j"]) for r in stats) + 1
    cov = np.zeros((d, d))
    for r in stats:
        cov[r["i"], r["j"]] = r["cov"]
        cov[r["j"], r["i"]] = r["cov"]
    lam = np.linalg.eigvalsh(cov)[::-1]  # descending
    tot = float(lam.sum())
    rows, cum = [], 0.0
    for i, lv in enumerate(lam):
        frac = float(lv) / tot
        cum += frac
        rows.append((i, float(lv), frac, cum))
    return df.sparkSession.createDataFrame(
        rows, "component long, eigenvalue double, explained double, "
              "cum_explained double")


def label_noise_audit(df: DataFrame, vec_col: str, id_col: str,
                      label_col: str, round_to: int = 6) -> DataFrame:
    """Geometric label-noise screen for a labeled embedding table (the
    centroid-margin variant of Confident Learning, Northcutt et al.
    JAIR 2021): flag vectors that sit closer (squared L2) to another
    class's centroid than to their own — the candidates a relabeling /
    filtering pass should look at before training.

    Plan: per-label centroids from ONE posexplode + exact-decimal
    partial agg (exchange ≤ |labels|·dims rows — the label_centroids
    shuffle), centroids driver-collected as literals (metadata-sized,
    the IVF/PQ precedent), then a MAP-ONLY pass computes every
    per-label distance as a literal sequential fold and takes the
    struct-min over other labels — the corpus never shuffles and no
    per-row Python runs.

    FP portability: centroids are rounded to 9 decimals (HALF_UP, both
    engines) before use; each distance is a fixed-order fold of
    ``(x - c)²`` doubles, so the oracle reproduces the margins
    bit-for-bit at the 6-decimal output rounding.

    Output: suspected rows only — ``id, label, nearest_label, own_d2,
    other_d2, margin`` (margin = own − other > 0), worst first.
    Single-label inputs produce no output (no "other" centroid).
    """
    sums = (df.select(F.col(label_col).alias("l"),
                      F.posexplode(F.col(vec_col).cast("array<double>"))
                      .alias("pos", "x"))
            .groupBy("l", "pos")
            .agg(F.sum(F.col("x").cast("decimal(28,12)")).alias("s"),
                 F.count(F.lit(1)).alias("n")))
    crows = sums.select("l", "pos",
                        F.round(F.col("s").cast("double") / F.col("n"), 9)
                        .alias("c")).collect()
    cents: dict = {}
    for r in crows:
        cents.setdefault(r["l"], {})[r["pos"]] = r["c"]
    labels = sorted(cents)
    if len(labels) < 2:
        # empty-result schema must match the populated path, which
        # inherits id/label dtypes from the input (the semantic_dedup
        # invariant): derive them from df.schema, don't hardcode
        from pyspark.sql import types as T
        lt = df.schema[label_col].dataType
        it = df.schema[id_col].dataType
        return df.sparkSession.createDataFrame([], T.StructType([
            T.StructField("id", it), T.StructField("label", lt),
            T.StructField("nearest_label", lt),
            T.StructField("own_d2", T.DoubleType()),
            T.StructField("other_d2", T.DoubleType()),
            T.StructField("margin", T.DoubleType())]))

    def lbl_lit(lbl) -> str:
        # SQL literal for a label value — quote strings (the populated
        # path must work for string label columns, not only ints)
        if isinstance(lbl, str):
            return "'" + lbl.replace("'", "''") + "'"
        return repr(lbl)

    def d2_expr(lbl) -> str:
        dims = cents[lbl]
        arr = "array(" + ",".join(f"{dims[i]!r}D"
                                  for i in range(len(dims))) + ")"
        return (f"aggregate(zip_with(cast(`{vec_col}` as array<double>), "
                f"{arr}, (x, y) -> (x - y) * (x - y)), 0D, "
                f"(a, t) -> a + t)")

    lts = df.schema[label_col].dataType.simpleString()
    dists = "array(" + ",".join(
        f"named_struct('d2', {d2_expr(l)}, "
        f"'l', cast({lbl_lit(l)} as {lts}))"
        for l in labels) + ")"
    own = f"element_at(filter(__dists__, s -> s.l = `{label_col}`), 1).d2"
    other = f"array_min(filter(__dists__, s -> s.l != `{label_col}`))"
    out = (spread(df)
           .withColumn("__dists__", F.expr(dists))
           .withColumn("own_d2", F.expr(own))
           .withColumn("__o__", F.expr(other))
           .where(F.col("own_d2") > F.col("__o__.d2"))
           .select(F.col(id_col).alias("id"),
                   F.col(label_col).alias("label"),
                   F.col("__o__.l").alias("nearest_label"),
                   F.round("own_d2", round_to).alias("own_d2"),
                   F.round("__o__.d2", round_to).alias("other_d2"),
                   F.round(F.col("own_d2") - F.col("__o__.d2"), round_to)
                   .alias("margin")))
    return out.orderBy(F.desc("margin"), "id")


# ---------------------------------------------------------------------------
# Corpus self-kNN graph
# ---------------------------------------------------------------------------

_KNN_CHECKPOINTS: "weakref.WeakKeyDictionary" = None  # built on first use


def _track_knn_checkpoint(spark, chk: DataFrame) -> None:
    """Register the checkpointed RDD behind ``chk`` (a
    ``localCheckpoint`` result — its analyzed plan is a LogicalRDD)
    under the owning session, so :func:`release_knn_checkpoints` can
    reclaim the blocks later.  Registration is best-effort: if the
    internal plan shape ever changes, the graph still works and the
    blocks simply keep the documented session lifetime."""
    global _KNN_CHECKPOINTS
    import weakref

    if _KNN_CHECKPOINTS is None:
        _KNN_CHECKPOINTS = weakref.WeakKeyDictionary()
    try:
        rdd = chk._jdf.queryExecution().analyzed().rdd()
    except Exception:  # pragma: no cover - internal-plan drift guard
        return
    _KNN_CHECKPOINTS.setdefault(spark, []).append(rdd)


def release_knn_checkpoints(spark) -> int:
    """Unpersist every ``localCheckpoint`` block :func:`knn_graph`'s
    LSH path registered in this session — the lifecycle valve for a
    long-lived session building many graphs, without the collateral of
    ``spark.catalog.clearCache()`` on unrelated cached relations.

    Call AFTER consuming the returned graph DataFrames: unpersisting a
    checkpointed plan truncates its only lineage, so a graph
    materialized later would fail (by design — the checkpoint IS the
    data).  Returns the number of block sets released."""
    if _KNN_CHECKPOINTS is None:
        return 0
    rdds = _KNN_CHECKPOINTS.pop(spark, [])
    n = 0
    for rdd in rdds:
        try:
            # blocking: the caller's next line may assert/measure
            # storage, and an async unpersist races that read
            rdd.unpersist(True)
            n += 1
        except Exception:  # pragma: no cover - already-freed blocks
            pass
    return n


def knn_graph(df: DataFrame, vec_col: str, id_col: str, k: int = 5,
              planes: int | None = 0, multiprobe: bool = True,
              max_exact: int = 100_000,
              max_bucket: int = 10_000) -> DataFrame:
    """k-nearest-neighbor GRAPH over the corpus itself — every vector's
    top-k cosine neighbors.  The substrate for graph-based semantic
    analysis (kNN-component clustering, density/novelty scoring, graph
    dedup beyond pairwise thresholds) and the offline index a
    retrieval-augmented pipeline ships.

    Two paths, the :func:`~.dedup.embedding_cosine_pairs` doctrine:

    * ``planes=0`` (exact): all-pairs scoring.  Valved at ``max_exact``
      vectors — the exact graph is inherently N² work, so a corpus
      above the valve must choose the LSH path EXPLICITLY rather than
      silently going quadratic.  Verification-scale corpora get the
      oracle-reproducible exact answer.
    * ``planes>0`` / ``planes=None`` (sign-LSH, auto-scaled planes):
      candidates only within the deterministic sign-LSH bucket (plus
      every 1-bit probe with ``multiprobe``), ranked within retrieved
      candidates.  CRITICALLY this is a SHUFFLE equi-join of the corpus
      with itself on the bucket key — neither side broadcasts, each
      bucket's pair work is occupancy-bounded, so the plan survives any
      corpus size (recall traded exactly as the ANN gauges measure).

    Output: ``id, nbr, cosine, rank`` (rank 1..k by cosine desc, nbr
    asc on ties; self-pairs excluded; vectors with no candidate in any
    probed bucket simply have fewer than k rows).

    ``max_bucket`` valves the LSH path against DEGENERATE corpora:
    sign-LSH buckets by direction, so a corpus of (near-)identical
    vectors lands in ONE bucket no matter how many planes auto-scaling
    picks, and the bucket self-join silently goes occupancy² — the
    quadratic blow-up the bucketing exists to prevent.  The guard is
    one count aggregate over the bucketed corpus (cheap next to the
    candidate join); a bucket above the valve raises with the remedies
    (dedup/canonicalize identical vectors first — exact dedup is the
    right operator for exact duplicates — or raise the valve knowingly).

    Storage note: the LSH path's lazy ``localCheckpoint`` blocks live
    until the SESSION ends — unpersisting a checkpointed plan truncates
    its only lineage, so the function cannot evict them without
    breaking a caller that materializes the returned (lazy) DataFrame
    later.  One block set (~corpus × (vec + signature)) accumulates per
    LSH-path call; each is REGISTERED per session, and a long-lived
    session reclaims them all with :func:`release_knn_checkpoints`
    AFTER consuming the returned graphs (no ``clearCache()`` collateral
    on unrelated cached relations; a graph not yet materialized when
    released can no longer be computed — the lineage is gone by
    design).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    c = spread(df).select(F.col(id_col).alias("id"),
                          F.col(vec_col).cast("array<double>").alias("vec"))
    if planes == 0:
        if c.limit(max_exact + 1).count() > max_exact:
            raise ValueError(
                f"exact knn_graph above max_exact={max_exact} vectors is "
                "N^2 work — pass planes=None (auto-scaled sign-LSH) for "
                "the bucketed scale path, or raise max_exact explicitly")
        other = (c.select(F.col("id").alias("nbr"),
                          F.col("vec").alias("nvec")))
        cand = c.join(F.broadcast(other), F.col("id") != F.col("nbr"))
    else:
        first = c.select("vec").first()
        if first is None:
            # schema must equal the populated path's — same names, same
            # types, same NULLABILITY (rank long non-null, cosine a
            # nullable double: lit() literals would flip nullable flags)
            from pyspark.sql import types as T
            idf = c.schema["id"]
            return df.sparkSession.createDataFrame([], T.StructType([
                T.StructField("id", idf.dataType, idf.nullable),
                T.StructField("nbr", idf.dataType, idf.nullable),
                T.StructField("cosine", T.DoubleType(), True),
                T.StructField("rank", T.LongType(), False)]))
        dim = len(first["vec"])
        if planes is None:
            # expected bucket occupancy corpus/2^planes ~ 64: the same
            # auto-scaling rule semantic_dedup documents
            import math
            n = c.count()
            planes = max(4, min(24, int(math.ceil(math.log2(max(n, 2) / 64.0)))))
        # lazy localCheckpoint (the dsir_weights idiom): the valve's
        # occupancy count below is the materializing action, so the
        # signature projection runs ONCE and the candidate join's two
        # sides read the checkpointed blocks instead of recomputing
        # the plane folds over the corpus twice more
        left = (c.withColumn("bucket",
                             _sign_lsh_signature("vec", planes, dim))
                .localCheckpoint(eager=False))
        _track_knn_checkpoint(df.sparkSession, left)
        # degenerate-corpus valve: identical-direction vectors share a
        # bucket at ANY plane count; candidate pairs are occupancy², so
        # an over-full bucket must refuse loudly, not run quadratic
        top = (left.groupBy("bucket").count()
               .agg(F.max("count").alias("m")).first())
        if top is not None and top["m"] is not None and top["m"] > max_bucket:
            raise ValueError(
                f"sign-LSH bucket holds {top['m']} vectors > "
                f"max_bucket={max_bucket}: the corpus is degenerate under "
                "direction hashing (many identical/near-identical vectors) "
                "and the bucket self-join would be occupancy-squared. "
                "Exact-dedup identical vectors first (dedup_exact on a "
                "vector digest), or raise max_bucket explicitly")
        right = (left.select(F.col("id").alias("nbr"),
                             F.col("vec").alias("nvec"), "bucket"))
        if multiprobe:
            probes = F.array(F.col("bucket"), *[
                F.concat(F.substring("bucket", 1, i),
                         F.when(F.substring("bucket", i + 1, 1) == "1",
                                "0").otherwise("1"),
                         F.substring("bucket", i + 2, planes - i - 1))
                for i in range(planes)
            ])
            left = left.select("id", "vec", F.explode(probes).alias("bucket"))
        # shuffle equi-join on the bucket key: corpus joins corpus, no
        # broadcast of either side — the property that makes this the
        # 100 TB path (multiprobe can retrieve a neighbor through more
        # than one bucket -> distinct before ranking)
        cand = (left.join(right, "bucket")
                .where(F.col("id") != F.col("nbr"))
                .select("id", "vec", "nbr", "nvec")
                .distinct())
    # rank over the ROUNDED cosine (9 dp) so the ordering contract is
    # identical in any replaying engine: ranking raw doubles and
    # rounding afterward would let a sub-9dp difference order two
    # neighbors differently across engines while emitting equal values
    scored = cand.select(
        "id", "nbr",
        F.round(_cosine(F.col("vec"), F.col("nvec")), 9).alias("cosine"))
    w = Window.partitionBy("id").orderBy(F.desc("cosine"), F.asc("nbr"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("id", "nbr", "cosine",
                    F.col("rank").cast("long").alias("rank")))


def _jl_sign(seed: int, i: int, k: int) -> float:
    """Deterministic Rademacher sign for the (input-dim *i* → output-
    dim *k*) plane of a Johnson–Lindenstrauss projection: bit 0 of
    ``md5("jl:{seed}:{i}:{k}")``.  Hash-derived (no RNG state) so the
    SAME matrix materializes on every executor, in the driver, and in
    the value-exact oracle — the determinism doctrine the LSH planes
    and the salting already follow."""
    import hashlib

    h = hashlib.md5(f"jl:{seed}:{i}:{k}".encode("utf-8")).digest()
    return 1.0 if (h[0] & 1) else -1.0


def jl_matrix(in_dim: int, out_dim: int, seed: int = 0) -> "list[list[float]]":
    """The dense Rademacher JL matrix ``R[i][k] = ±1/√out_dim``
    (Achlioptas 2003: database-friendly random projections — the ±1
    variant needs no Gaussian sampling and preserves pairwise
    distances within ε with the same JL guarantee).  Metadata-sized
    (in_dim·out_dim floats) — rides to executors as a task-closure
    literal, never a shuffle."""
    import math

    s = 1.0 / math.sqrt(float(out_dim))
    return [[_jl_sign(seed, i, k) * s for k in range(out_dim)]
            for i in range(in_dim)]


def random_project(df: DataFrame, vec_col: str, id_col: str,
                   out_dim: int, seed: int = 0) -> DataFrame:
    """Johnson–Lindenstrauss random projection of an embedding column
    to ``out_dim`` dimensions — the standard pre-indexing reduction a
    100 TB ANN pipeline runs before IVF/LSH when the raw dimension
    makes every distance evaluation (and every shuffled byte) d/k
    times too expensive.  With the Rademacher matrix of
    :func:`jl_matrix`, pairwise distances survive within the JL ε
    bound while the vector payload shrinks by in_dim/out_dim.

    Execution shape (the whiten doctrine, minus the statistics pass):
    ONE map-only Arrow-batched pass — the corpus never shuffles, and
    the matrix is rebuilt per task from the (seed, i, k) hashes, so
    the closure ships only the scalars.  The per-row sum runs as
    ``np.cumsum`` over the input-dim axis, NOT a GEMM: cumsum adds
    strictly left-to-right, bit-identical to the seedless sequential
    fold the DuckDB oracle replays with ``list_reduce`` (a matmul's
    pairwise/SIMD accumulation order drifts in the last ulp).

    Input contract: non-NULL, fixed-width vectors.  Violations are
    refused loudly PER TASK (NULL rows always; ragged widths whenever
    a batch mixes them — a map-only pass cannot see widths across
    tasks, so a corpus ragged only across partition boundaries yields
    per-task matrices of different widths instead of one global error;
    validate width upstream if the source is untrusted).

    Output: ``id, vec (array<double>, length out_dim)``.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if out_dim < 1:
        raise ValueError(f"out_dim must be >= 1, got {out_dim}")
    out_schema = T.StructType([
        T.StructField("id", df.schema[id_col].dataType, True),
        T.StructField("vec", T.ArrayType(T.DoubleType(), True), True),
    ])

    def run(batches):
        r = None  # built once per task, from the first row's width
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            # fail loudly on NULL or ragged vectors — an inhomogeneous
            # np.asarray would otherwise surface as an opaque executor
            # stack trace (the knn_graph valve doctrine)
            has_null = any(v is None for v in pdf["__v__"])
            widths = {len(v) for v in pdf["__v__"] if v is not None}
            if has_null or len(widths) != 1:
                raise ValueError(
                    "random_project: NULL or ragged embedding rows "
                    f"(widths seen: {sorted(widths)}); clean or filter "
                    "the vector column first")
            x = np.asarray([np.asarray(v, dtype=np.float64)
                            for v in pdf["__v__"]])
            if r is None:
                r = np.asarray(jl_matrix(x.shape[1], out_dim, seed),
                               dtype=np.float64)       # d×k
            elif x.shape[1] != r.shape[0]:
                raise ValueError(
                    "random_project: embedding width changed mid-"
                    f"stream ({r.shape[0]} → {x.shape[1]})")
            # ≤ ~32 MB of fold terms resident per step
            out = np.empty((n, out_dim), dtype=np.float64)
            step = max(1, (1 << 22) // (r.shape[0] * out_dim))
            for lo in range(0, n, step):
                terms = x[lo:lo + step, :, None] * r[None, :, :]
                out[lo:lo + step] = np.cumsum(terms, axis=1)[:, -1, :]
            yield pd.DataFrame({"id": pdf["__id__"],
                                "vec": [row.tolist() for row in out]})

    return (spread(df)
            .select(F.col(id_col).alias("__id__"),
                    F.col(vec_col).cast("array<double>").alias("__v__"))
            .mapInPandas(run, schema=out_schema))
