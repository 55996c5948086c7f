"""Mergeable frequency sketches: count-min (Cormode & Muthukrishnan,
"An Improved Data Stream Summary: The Count-Min Sketch and its
Applications", J. Algorithms 2005).

Completes the approximate-aggregation family (portable HLL below,
histogram quantile sketch, exact distributed quantiles): CMS answers
point-frequency queries ("how often does key k appear?") from d×w
counters — fixed-size state no matter the stream length, cell-wise
additive across partitions/batches, over-estimating only.

Everything is deterministic md5 hashing (``functions.hashing`` row
doctrine), so unlike the engine-specific HLL state the whole sketch is
reproducible bit-for-bit by an external SQL oracle — the estimates are
driver-verifiable, not just error-bounded.

Scale shape: the build is a map-only ×d expansion followed by ONE
partial-agg groupBy onto d×w cells — every input partition contributes
at most d×w rows to the exchange regardless of row count (the same
fixed-communication property as HLL).  The sketch table itself is
metadata-sized (d×w rows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.hashing import md5_int64


def _round_half_up(x: float, nd: int) -> float:
    """Driver-side replica of ``F.round(col, nd)``: ties away from
    zero (Python's built-in ``round`` is half-even), built from
    ``repr(x)`` — the shortest round-trip decimal — matching Spark's
    ``BigDecimal.valueOf(double)`` conversion exactly (property-pinned
    in tests/test_round6_ops.py).  NOTE: DuckDB's ``round()`` on
    doubles multiplies by 10^nd first, so on adversarial near-ties it
    can disagree with Spark and with exact decimal rounding alike —
    the oracles' round-at-the-boundary doctrine relies on rounded
    values sitting ulps away from half-boundaries, which every green
    driver round has so far confirmed empirically."""
    import decimal
    return float(decimal.Decimal(repr(float(x))).quantize(
        decimal.Decimal(1).scaleb(-nd),
        rounding=decimal.ROUND_HALF_UP))


def _cms_bucket(key: Column, depth: Column, width: int) -> Column:
    """Row's counter column for one hash row: md5 of ``depth:key`` mod
    width — portable to any engine with md5 + int64 (DuckDB oracle
    reproduces it exactly)."""
    return md5_int64(
        F.concat(depth.cast("string"), F.lit(":"), key.cast("string"))
    ) % F.lit(width)


def count_min_build(df: DataFrame, key_col: str,
                    depth: int = 3, width: int = 256) -> DataFrame:
    """Build the d×w count-min sketch of ``key_col``'s frequency
    distribution.  Output: ``depth, bucket, cnt`` — exactly
    ``depth × width`` possible rows (absent cells are zero).

    Merge rule: sketches over disjoint data UNION then re-aggregate
    (cell-wise addition) — what makes CMS the right shape for
    per-batch/streaming accumulation.
    """
    if depth < 1 or width < 1:
        raise ValueError("depth and width must be >= 1")
    rows = (df.select(F.col(key_col).alias("k"))
            .where(F.col("k").isNotNull())
            .select("k", F.explode(F.sequence(F.lit(0), F.lit(depth - 1)))
                    .alias("depth")))
    return (rows.select("depth",
                        _cms_bucket(F.col("k"), F.col("depth"), width)
                        .alias("bucket"))
            .groupBy("depth", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt")))


def count_min_estimate(sketch: DataFrame, keys: DataFrame, key_col: str,
                       depth: int = 3, width: int = 256) -> DataFrame:
    """Point-frequency estimates for ``keys`` from a built sketch:
    ``est(k) = min over hash rows of cnt[depth][bucket(depth, k)]`` —
    an upper bound on the true count, exact when no colliding key
    shares all d cells.

    Plan: the probe side expands ×d (map-only), equi-joins the
    metadata-sized sketch on (depth, bucket) — broadcast by size — and
    takes one min per key.  Probing never touches the original data.

    Output: ``key (string), est``.
    """
    probes = (keys.select(F.col(key_col).cast("string").alias("key"))
              .distinct()
              .select("key", F.explode(F.sequence(F.lit(0),
                                                  F.lit(depth - 1)))
                      .alias("depth")))
    probes = probes.select(
        "key", "depth",
        _cms_bucket(F.col("key"), F.col("depth"), width).alias("bucket"))
    joined = probes.join(F.broadcast(sketch), ["depth", "bucket"], "left")
    return (joined.groupBy("key")
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est")))


# ---------------------------------------------------------------------------
# Portable HyperLogLog (Flajolet, Fusy, Gandouet, Meunier, AofA 2007)
# ---------------------------------------------------------------------------

def _hll_alpha(m: int) -> float:
    """Bias-correction constant of the original HLL paper."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_build(df: DataFrame, key_col: str, p: int = 8) -> DataFrame:
    """Build a PORTABLE HyperLogLog sketch of ``key_col``'s distinct
    count: md5-hashed (the row doctrine — unlike Spark's built-in HLL++
    state, every register value is reproducible bit-for-bit by an
    external SQL oracle), ``m = 2^p`` registers, each holding the max
    rank (leading-zero count + 1) of the 52-bit hash window routed to
    it.

    Scale shape: one map (hash + split) + ONE partial-agg groupBy onto
    ≤ m register rows — every partition contributes at most m rows to
    the exchange regardless of row count, and sketches over disjoint
    data merge by UNION + max per register (the HLL property that makes
    it the 100 TB count-distinct).

    Output: ``register, max_rank`` (≤ m rows; absent registers mean
    rank 0).
    """
    if not 4 <= p <= 16:
        raise ValueError("p must be in [4, 16]")
    m = 1 << p
    nbits = 60 - p
    h = md5_int64(F.col("k"))
    w = F.floor(h / m)  # the remaining 60-p bits, exact (h >= 0)
    # rank = leading zeros of the (60-p)-bit window + 1
    #      = (60 - p) - bit_length(w) + 1;  w = 0 -> all zeros -> 61-p
    rank = F.when(w > 0, F.lit(nbits + 1) - F.length(F.bin(w))) \
        .otherwise(F.lit(nbits + 1))
    return (df.select(F.col(key_col).cast("string").alias("k"))
            .where(F.col("k").isNotNull())
            .select((h % m).alias("register"),
                    rank.cast("int").alias("rank"))
            .groupBy("register")
            .agg(F.max("rank").alias("max_rank")))


def hll_estimate(sketch: DataFrame, p: int = 8) -> DataFrame:
    """Distinct-count estimate from a :func:`hll_build` sketch, with
    the paper's small-range (linear-counting) correction.

    FP portability: the register sum is computed as EXACT integers —
    ``Σ 2^(nbits - M_j)`` with absent registers contributing
    ``2^nbits`` — so the only floating-point steps are one division,
    one multiply, and (small range only) one ``ln``, each performed in
    the same order by the SQL oracle; the estimate is rounded to 4
    decimals at the boundary to absorb libm's last-ulp freedom in
    ``ln``.

    Output: one row ``n_registers_hit, v_zero, raw_register_sum,
    estimate``.
    """
    m = 1 << p
    nbits = 60 - p
    alpha = _hll_alpha(m)
    agg = sketch.agg(
        F.count(F.lit(1)).cast("long").alias("n_hit"),
        F.coalesce(F.sum(F.pow(F.lit(2.0),
                               F.lit(nbits) - F.col("max_rank"))
                         .cast("long")), F.lit(0))
         .cast("long").alias("s_hit"))
    v = (F.lit(m) - F.col("n_hit")).alias("v_zero")
    s = (F.col("s_hit")
         + (F.lit(m) - F.col("n_hit")) * F.lit(1 << nbits)).alias("s")
    base = agg.select(F.col("n_hit").alias("n_registers_hit"), v, s)
    e_raw = (F.lit(alpha) * F.lit(float(m)) * F.lit(float(m))
             * F.lit(float(1 << nbits)) / F.col("s").cast("double"))
    e = F.when((e_raw <= F.lit(2.5 * m)) & (F.col("v_zero") > 0),
               F.lit(float(m)) * F.log(F.lit(float(m))
                                       / F.col("v_zero").cast("double"))) \
        .otherwise(e_raw)
    return base.select("n_registers_hit", "v_zero",
                       F.col("s").alias("raw_register_sum"),
                       F.round(e, 4).alias("estimate"))


def hll_register_table(df: DataFrame, key_cols: list[str],
                       p: int = 8, exact: bool = False,
                       fuse_final: bool = False) -> DataFrame:
    """Registers for SEVERAL columns in ONE pass — the fusion of
    per-column :func:`hll_build` calls (round-5 verdict: the profile
    entries ran one register scan per column; each extra scan is a
    full stage at bench scale and a full pass at 100 TB when columns
    share a table).

    Two shapes, same register values as per-column ``hll_build``:

    * ``exact=False`` (the 100 TB default): a tagged union of map-only
      hash branches into ONE partial-agg ``groupBy(key_col,
      register)`` — every task contributes at most ``|cols|·2^p`` rows
      to the single exchange regardless of row count (the HLL
      fixed-communication property, now shared across columns).
    * ``exact=True``: dedup first (``distinct`` over the tagged union
      — map-side partial agg, then md5 only the distinct values), and
      carry ``n_keys`` per register so the EXACT per-column NDV is
      ``Σ n_keys`` — for gauge entries that report exact counts
      alongside, the dedup exchange is communication the exact count
      pays anyway, and it is strictly cheaper than a separate
      ``countDistinct`` pass per column.

    Output: ``key_col, register, max_rank[, n_keys]`` —
    ≤ ``|cols|·2^p`` rows (metadata-sized; safe to collect).

    ``fuse_final=True`` (exact path only) inserts ``coalesce(1)``
    between the distinct and the register aggregation: SinglePartition
    satisfies the register groupBy's clustering requirement, so its
    exchange disappears and the distinct-final + md5 + register merge
    run as ONE task (measured 0.91 s → 0.64 s at sf0.1).  That task
    reads every partial-DISTINCT block — Σ per-partition NDV, which is
    DATA-sized, not register-sized (a key repeating across partitions
    contributes once per partition): at sf1 the fused hll_distinct
    entry regressed 1.3 s → 6.9 s, so the default stays False, the
    driver entry keeps the parallel shape, and fusing is only for
    corpora whose whole tagged union fits one task."""
    if not 4 <= p <= 16:
        raise ValueError("p must be in [4, 16]")
    m = 1 << p
    nbits = 60 - p

    def reg_rank(src: Column):
        h = md5_int64(src)
        w = F.floor(h / m)
        rank = F.when(w > 0, F.lit(nbits + 1) - F.length(F.bin(w))) \
            .otherwise(F.lit(nbits + 1))
        return (h % m).alias("register"), rank.cast("int").alias("rank")

    # tag columns by ORDINAL through the data-sized stages (an int
    # shuffles/hashes far cheaper than a repeated name string —
    # measured ~1.3× on the TPC-H key gauge); names come back via a
    # literal map on the ≤ |cols|·m-row aggregate
    names = F.create_map(*[x for i, c in enumerate(key_cols)
                           for x in (F.lit(i), F.lit(c))])
    if exact:
        # dedup in the columns' NATIVE type when they share one (longs
        # shuffle 8 bytes and hash-agg far faster than their decimal
        # strings); the string cast md5 needs happens after the
        # distinct, on NDV-many rows
        types = {df.schema[c].dataType.simpleString() for c in key_cols}
        cast_late = len(types) == 1
        parts = [df.where(F.col(c).isNotNull())
                 .select(F.lit(i).cast("int").alias("__t__"),
                         (F.col(c) if cast_late
                          else F.col(c).cast("string")).alias("__k__"))
                 for i, c in enumerate(key_cols)]
        u = parts[0]
        for x in parts[1:]:
            u = u.unionByName(x)
        register, rank = reg_rank(F.col("__k__").cast("string"))
        d = u.distinct()
        if fuse_final:
            d = d.coalesce(1)
        return (d
                .select("__t__", register, rank)
                .groupBy("__t__", "register")
                .agg(F.max("rank").alias("max_rank"),
                     F.count(F.lit(1)).cast("long").alias("n_keys"))
                .select(names[F.col("__t__")].alias("key_col"),
                        "register", "max_rank", "n_keys"))
    parts = []
    for i, c in enumerate(key_cols):
        register, rank = reg_rank(F.col(c).cast("string"))
        parts.append(df.where(F.col(c).isNotNull())
                     .select(F.lit(i).cast("int").alias("__t__"),
                             register, rank))
    u = parts[0]
    for x in parts[1:]:
        u = u.unionByName(x)
    return (u.groupBy("__t__", "register")
            .agg(F.max("rank").alias("max_rank"))
            .select(names[F.col("__t__")].alias("key_col"),
                    "register", "max_rank"))


def hll_estimate_py(register_rows, p: int = 8) -> dict:
    """Driver-side replica of :func:`hll_estimate` over collected
    register rows (``(register, max_rank)`` pairs for ONE column) —
    for gauge entries that assemble a small report from an already
    metadata-sized sketch, where a DataFrame round trip per column
    costs more stages than the whole query's data work.  The register
    sum is EXACT Python-int arithmetic; the estimate performs the same
    pinned op order as the SQL oracle (one multiply chain, one divide,
    small-range ``log``), rounded to 4 decimals at the boundary.

    Returns ``{"n_registers_hit", "v_zero", "raw_register_sum",
    "estimate"}``."""
    import math

    m = 1 << p
    nbits = 60 - p
    alpha = _hll_alpha(m)
    n_hit = len(register_rows)
    s_hit = sum(1 << (nbits - int(r[1])) for r in register_rows)
    v_zero = m - n_hit
    s = s_hit + v_zero * (1 << nbits)
    e_raw = alpha * float(m) * float(m) * float(1 << nbits) / float(s)
    if e_raw <= 2.5 * m and v_zero > 0:
        e = float(m) * math.log(float(m) / float(v_zero))
    else:
        e = e_raw
    return {"n_registers_hit": n_hit, "v_zero": v_zero,
            "raw_register_sum": s, "estimate": _round_half_up(e, 4)}


def fixed_histogram_cells(df: DataFrame, value_col: str,
                          width: float) -> DataFrame:
    """Fixed-width histogram cells in ONE pass — no bounds pre-scan:
    ``bin = floor(v / width)`` over the value's native range, so the
    sketch is buildable in the same aggregate as other sketches and
    mergeable across partitions/batches with plain count addition (the
    HdrHistogram/DDSketch fixed-grid idea, restricted to a linear grid
    so the bin arithmetic is one double divide + floor — identical in
    any IEEE engine, no libm ``log`` at a bin boundary to disagree
    about).  Cell count is VALUE-RANGE-bounded (range/width), not
    row-bounded: pick ``width`` so range/width stays metadata-sized
    (e.g. ~5.2k cells for TPC-H extendedprice at width=20) and the
    table is safe to collect at any row scale.  Versus the two-pass
    :func:`histogram_sketch`: one fewer full scan, absolute error
    ≤ width per quantile instead of range/bins.

    Output: ``bin (bigint), cnt (long)`` — NULL values excluded."""
    if width <= 0:
        raise ValueError(f"width must be > 0, got {width}")
    v = F.col(value_col).cast("double")
    return (df.where(v.isNotNull())
            .groupBy(F.floor(v / F.lit(float(width))).alias("bin"))
            .agg(F.count(F.lit(1)).cast("long").alias("cnt")))


def fixed_histogram_quantiles_py(cells, width: float,
                                 qs: tuple[float, ...] = (0.5, 0.95, 0.99),
                                 round_to: int = 6) -> dict:
    """Driver-side quantile estimates over collected
    :func:`fixed_histogram_cells` rows (``(bin, cnt)`` pairs): first
    bin whose cumulative count reaches ``ceil(q·n)``, linear
    interpolation within it — pinned op order ``(bin + (target -
    cum_before) / cnt) * width`` rounded at the boundary, so a SQL
    oracle replays identical doubles.  Returns ``{q: estimate}``
    (empty dict for an empty sketch)."""
    if not cells:
        return {}
    rows = sorted((int(r[0]), int(r[1])) for r in cells)
    n = sum(c for _, c in rows)
    out = {}
    for q in qs:
        target = int(-(-q * n // 1))  # ceil(q*n), same float multiply as SQL
        cum = 0
        for b, cnt in rows:
            if cum + cnt >= target:
                out[q] = _round_half_up(
                    (b + (target - cum) / cnt) * float(width), round_to)
                break
            cum += cnt
    return out


def exact_quantiles(df: DataFrame, value_col: str,
                    qs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9, 0.99),
                    *, accuracy: int = 2_000,
                    max_local: int = 1_000_000,
                    max_rounds: int = 6) -> DataFrame:
    """EXACT quantiles at scale — the companion to the approximate
    sketches when the number must be right (SLA percentiles, pricing
    boundaries): quantile ``q`` is defined as the value at 1-based rank
    ``ceil(q·N)`` of the ascending sort (the classic lower/"disc"
    definition — always an actual data value, never an interpolation,
    so it is engine-portable with no FP arithmetic at all).

    Plan — iterative sketch-banded selection, NO corpus shuffle at all
    (the pre-round-11 shape range-exchanged + checkpointed the whole
    corpus, sorted every partition, then hash-exchanged and sorted it
    all AGAIN for the rank window):

    1. ONE aggregate pass: ``n`` plus Greenwald-Khanna
       ``percentile_approx`` cuts at ``q ± 2/accuracy`` — a candidate
       value band ``[lo, hi]`` per target rank.
    2. ONE aggregate pass: EXACT counts ``|v < lo|`` / ``|v ≤ hi|``
       per band, which verify the sketch deterministically — the
       target rank ``ceil(q·n)`` must fall in ``(|v<lo|, |v≤hi|]``, so
       a sketch defect can only cost another round, never a wrong
       answer.  A collapsed band (``lo == hi``) IS the answer, which
       is how heavy ties (up to a constant column) resolve in one
       round.
    3. If the surviving bands hold ≤ ``max_local`` rows in total
       (known EXACTLY before any row moves), one pushed-filter scan
       collects them and the driver takes the value at local rank
       ``k − |v<lo|`` of the sorted candidates — bit-identical to the
       distributed rank (equal keys are interchangeable at a rank
       boundary), and the collect is sketch-bounded metadata, the
       guide-§5 discipline.  Oversized bands re-sketch INSIDE the band
       at its local quantile and loop: each round multiplies rank
       resolution by ~``accuracy``, so a 10^12-row corpus reaches a
       collectable band in two rounds; after ``max_rounds`` the
       shuffle-based partitioned selection takes over (never observed
       — it needs an adversarial distribution).

    Inputs up to ``10_000`` non-null rows skip the sketch and resolve
    driver-side outright (same ≤80 KB class of collect as the sketch
    partials elsewhere in this module).  Every corpus-sized pass above
    is map-side aggregation or a pushed-filter scan — no corpus bytes
    are ever shuffled OR collected.  NaN keeps Spark's ordering
    contract (greater than every number, so the ``≤ hi`` band edge
    self-excludes it and a target rank past the last finite value
    returns NaN).

    Output: ``q, rank, value`` — one row per requested quantile
    (empty input → empty output).
    """
    for q in qs:
        if not 0.0 < q <= 1.0:
            raise ValueError(f"quantiles must be in (0, 1], got {q}")
    spark = df.sparkSession
    vals = df.select(F.col(value_col).alias("v")) \
        .where(F.col("v").isNotNull())
    is_fp = dict(df.dtypes).get(value_col) in ("double", "float")
    finite_v = (F.when(~F.isnan("v"), F.col("v")) if is_fp
                else F.col("v"))

    eps = 1.0 / accuracy
    qs_distinct = sorted(set(float(q) for q in qs))
    cuts = []
    for q in qs_distinct:
        cuts += [max(q - 2.0 * eps, 0.0), min(q + 2.0 * eps, 1.0)]
    row = vals.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(finite_v).alias("nf"),
        F.percentile_approx(finite_v, cuts, accuracy).alias("b")).first()
    n, n_f = row["n"], row["nf"]
    if n == 0:
        return spark.createDataFrame(
            [], "q double, rank long, value double")

    # rank -> ALL quantiles that land on it: distinct q's collide on
    # one rank whenever ceil(q1·n) == ceil(q2·n) (always at small n),
    # and a plain rank->q dict silently dropped every colliding q but
    # the last — the output contract is one row PER REQUESTED QUANTILE
    targets: dict[int, list[float]] = {}
    for q in qs_distinct:
        targets.setdefault(int(-(-q * n // 1)), []).append(q)

    resolved: dict[int, float] = {}
    if n <= 10_000:
        # small input: the whole column is already metadata-sized
        xs = [r["v"] for r in vals.collect()]
        fin = sorted(x for x in xs if x == x)  # NaN last, Python sort
        for k in targets:
            resolved[k] = (float(fin[k - 1]) if k <= len(fin)
                           else float("nan"))
        bands: dict[int, list] = {}
    else:
        # band per target rank k ≤ n_f from the sketch cuts of any q
        # that lands on k (they share one answer); k > n_f sits in the
        # NaN suffix and resolves immediately
        bands = {}
        for k, qlist in targets.items():
            if k > n_f:
                resolved[k] = float("nan")
                continue
            i = qs_distinct.index(qlist[0])
            bands[k] = [row["b"][2 * i], row["b"][2 * i + 1]]
        if n_f < n and bands:
            # NaN present: k is a rank over ALL values but the sketch
            # saw only the finite ones, so the pass-1 cuts at q are
            # offset — re-cut once at each target's finite-local
            # quantile k/n_f (one extra aggregate pass, NaN-data only)
            ks = sorted(bands)
            raggs = []
            for j, k in enumerate(ks):
                ql = k / n_f
                raggs.append(F.percentile_approx(
                    finite_v, [max(ql - 2.0 * eps, 0.0),
                               min(ql + 2.0 * eps, 1.0)],
                    accuracy).alias(f"r{j}"))
            rrow = vals.agg(*raggs).first()
            for j, k in enumerate(ks):
                bands[k] = [rrow[f"r{j}"][0], rrow[f"r{j}"][1]]

    for _ in range(max_rounds):
        if not bands:
            break
        ks = sorted(bands)
        aggs = []
        for j, k in enumerate(ks):
            lo, hi = bands[k]
            aggs += [
                F.sum(F.when(F.col("v") < F.lit(lo), 1)
                      .otherwise(0)).alias(f"lt{j}"),
                F.sum(F.when(F.col("v") <= F.lit(hi), 1)
                      .otherwise(0)).alias(f"le{j}")]
        crow = vals.agg(*aggs).first()
        pend: dict[int, tuple[int, int]] = {}
        bad = False
        for j, k in enumerate(ks):
            lt, le = int(crow[f"lt{j}"]), int(crow[f"le{j}"])
            if not lt < k <= le:  # sketch bound violated (never seen)
                bad = True
                break
            if bands[k][0] == bands[k][1]:  # collapsed band = answer
                resolved[k] = float(bands[k][0])
            else:
                pend[k] = (lt, le)
        if bad:
            break
        if not pend:
            bands = {}
            break
        if sum(le - lt for lt, le in pend.values()) <= max_local:
            pred = None
            for k in pend:
                lo, hi = bands[k]
                p = (F.col("v") >= F.lit(lo)) & (F.col("v") <= F.lit(hi))
                pred = p if pred is None else (pred | p)
            cand = [r["v"] for r in vals.where(pred).collect()]
            for k, (lt, _le) in pend.items():
                lo, hi = bands[k]
                sub = sorted(x for x in cand if lo <= x <= hi)
                resolved[k] = float(sub[k - lt - 1])
            bands = {}
            break
        raggs = []
        for j, k in enumerate(sorted(pend)):
            lo, hi = bands[k]
            lt, le = pend[k]
            ql = (k - lt) / (le - lt)
            in_band = F.when((F.col("v") >= F.lit(lo))
                             & (F.col("v") <= F.lit(hi)), F.col("v"))
            raggs.append(F.percentile_approx(
                in_band, [max(ql - 2.0 * eps, 0.0),
                          min(ql + 2.0 * eps, 1.0)],
                accuracy).alias(f"r{j}"))
        rrow = vals.agg(*raggs).first()
        for j, k in enumerate(sorted(pend)):
            bands[k] = [rrow[f"r{j}"][0], rrow[f"r{j}"][1]]

    if bands:  # rounds exhausted or a violated bound: shuffle fallback
        return _exact_quantiles_partitioned(df, value_col, qs)

    out = [(q, k, resolved[k]) for k, qlist in targets.items()
           for q in qlist]
    return (spark.createDataFrame(out, "q double, rank long, value double")
            .orderBy("q"))


def _exact_quantiles_partitioned(
        df: DataFrame, value_col: str,
        qs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9, 0.99),
) -> DataFrame:
    """Shuffle-based fallback for :func:`exact_quantiles` — the
    distributed two-phase rank: range-repartition on the value
    (unsorted), per-partition counts (metadata collect), then a
    map-only Arrow selection where only the ≤ |qs| partitions holding
    a target rank are decoded and each finds its order statistics with
    ``np.partition`` (introselect, O(rows), no sort).  One corpus
    exchange — what any global ORDER BY pays minus the single-reducer
    collapse; kept for distributions the sketch-banded path cannot
    shrink within its round budget.
    """
    for q in qs:
        if not 0.0 < q <= 1.0:
            raise ValueError(f"quantiles must be in (0, 1], got {q}")
    is_fp = dict(df.dtypes).get(value_col) in ("double", "float")
    vals = (df.select(F.col(value_col).alias("v"))
            .where(F.col("v").isNotNull())
            .repartitionByRange(F.col("v").asc())
            .withColumn("__pid__", F.spark_partition_id())
            .localCheckpoint(eager=True))
    nan_c = (F.sum(F.when(F.isnan("v"), 1).otherwise(0)) if is_fp
             else F.lit(0))
    part_counts = (vals.groupBy("__pid__")
                   .agg(F.count(F.lit(1)).alias("c"),
                        nan_c.alias("nanc"))
                   .orderBy("__pid__").collect())
    offsets, counts, acc = {}, {}, 0
    n_nan = 0
    for r in part_counts:
        offsets[r["__pid__"]] = acc
        counts[r["__pid__"]] = r["c"]
        acc += r["c"]
        n_nan += int(r["nanc"] or 0)
    n = acc
    n_f = n - n_nan
    if n == 0:
        return df.sparkSession.createDataFrame(
            [], "q double, rank long, value double")
    # rank -> ALL quantiles that land on it: distinct q's collide on
    # one rank whenever ceil(q1·n) == ceil(q2·n) (always at small n),
    # and a plain rank->q dict silently dropped every colliding q but
    # the last — the output contract is one row PER REQUESTED QUANTILE
    targets: dict[int, list[float]] = {}
    for q in sorted(set(qs)):
        targets.setdefault(int(-(-q * n // 1)), []).append(float(q))
    # ranks past the last finite value are NaN (NaN sorts greatest) —
    # resolve them OUTSIDE the Arrow kernel: pandas→Arrow would turn a
    # kernel-emitted NaN into NULL, silently changing the contract
    nan_rows = [(q, k, float("nan")) for k, qlist in targets.items()
                if k > n_f for q in qlist]
    fin_targets = {k: v for k, v in targets.items() if k <= n_f}
    # pid -> sorted (0-based local index, global rank) pairs; pid p
    # covers global ranks (offset, offset + count], so ≤ |qs| pids
    # carry any work at all
    local: dict[int, list[tuple[int, int]]] = {}
    for pid, off in offsets.items():
        pairs = sorted((k - off - 1, k) for k in fin_targets
                       if off < k <= off + counts[pid])
        if pairs:
            local[pid] = pairs
    needed = sorted(local)
    if not needed:
        return (df.sparkSession.createDataFrame(
            nan_rows, "q double, rank long, value double").orderBy("q"))

    def _select(batches):
        import numpy as np
        import pandas as pd
        chunks = [b for b in batches if len(b)]
        if not chunks:
            return
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
        pairs = local.get(int(pdf["__pid__"].iloc[0]))
        if not pairs:
            return
        v = pdf["v"].to_numpy()
        idx = [i for i, _ in pairs]
        # introselect places every kth index in its sorted position;
        # the value at rank k is the k-th smallest element, identical
        # to row_number-over-ascending-order at rank k (equal keys are
        # interchangeable at a rank boundary).  NaN orders last, the
        # same as Spark's ascending sort.
        part = np.partition(v, idx)
        yield pd.DataFrame({"rank": [g for _, g in pairs],
                            "value": [float(part[i]) for i in idx]})

    tgt = F.create_map(
        *[x for k, qlist in fin_targets.items()
          for x in (F.lit(k), F.array(*[F.lit(v) for v in qlist]))])
    out = (vals.where(F.col("__pid__").isin(*needed))
           .mapInPandas(_select, "rank long, value double")
           .select(F.explode(tgt[F.col("rank")]).alias("q"), "rank",
                   "value"))
    if nan_rows:
        out = out.unionAll(df.sparkSession.createDataFrame(
            nan_rows, "q double, rank long, value double"))
    return out.orderBy("q")


# ---------------------------------------------------------------------------
# Portable equi-width histogram quantile sketch
# ---------------------------------------------------------------------------

def histogram_sketch(df: DataFrame, value_col: str, bins: int = 256,
                     lo: float | None = None,
                     hi: float | None = None) -> DataFrame:
    """Equi-width histogram sketch of ``value_col`` — the PORTABLE
    quantile sketch next to :func:`hll_build` (count-distinct) and
    :func:`count_min_build` (point frequency): unlike the
    engine-specific ``percentile_approx`` (Greenwald-Khanna) state,
    every cell is exact integer arithmetic an external SQL oracle
    reproduces bit-for-bit, so the estimates are value-verifiable, not
    just error-bounded.

    Two passes: a one-row bounds aggregate (exact ``min, max, count`` —
    at a 100 TB deployment this pass reads only parquet footer stats
    when the column is unfiltered), then a map-only bin assignment
    ``least(bins-1, floor((v - lo) / (hi - lo) * bins))`` and ONE
    partial-agg groupBy onto ≤ ``bins`` cells — every partition
    contributes at most ``bins`` rows to the exchange regardless of row
    count, and sketches over disjoint data (same bounds) merge by
    cell-wise sum, the same fixed-communication property as HLL/CMS.

    Output: ``bin, cnt, lo, hi, n`` (≤ bins rows; the bounds travel
    with the sketch so it is self-describing; absent bins are empty).
    Degenerate inputs: all-equal values land in bin 0; all-NULL/empty
    input yields an empty sketch.

    ``lo``/``hi`` pin the bounds explicitly instead of the min/max
    pre-pass — the shard-merge workflow: compute global bounds once,
    sketch disjoint shards against the SAME fixed grid, merge by
    cell-wise sum (out-of-range values clamp into the edge bins).
    """
    if bins < 2:
        raise ValueError("bins must be >= 2")
    if (lo is None) != (hi is None):
        raise ValueError("pass both lo and hi, or neither")
    vals = (df.select(F.col(value_col).cast("double").alias("v"))
            .where(F.col("v").isNotNull()))
    if lo is None:
        bounds = vals.agg(F.min("v").alias("lo"), F.max("v").alias("hi"),
                          F.count(F.lit(1)).alias("n"))
    else:
        if not lo <= hi:
            raise ValueError("lo must be <= hi")
        bounds = vals.agg(F.lit(float(lo)).alias("lo"),
                          F.lit(float(hi)).alias("hi"),
                          F.count(F.lit(1)).alias("n"))
    # (v - lo) / (hi - lo) * bins in EXACTLY this association — the SQL
    # oracle mirrors the op order so IEEE correct rounding makes the
    # bin id engine-independent.
    raw = F.floor((F.col("v") - F.col("lo"))
                  / (F.col("hi") - F.col("lo")) * F.lit(bins))
    # greatest(0, ...) only bites under explicit bounds (clamps
    # out-of-range values into the edge bins); with the min/max
    # pre-pass raw is already >= 0, so the auto-bounds output — and
    # the SQL oracle mirroring it — is unchanged.
    bin_id = F.when(F.col("hi") == F.col("lo"), F.lit(0)) \
        .otherwise(F.greatest(F.lit(0).cast("bigint"),
                              F.least(F.lit(bins - 1).cast("bigint"),
                                      raw))).cast("int")
    return (vals.crossJoin(F.broadcast(bounds))
            .select(bin_id.alias("bin"), "lo", "hi", "n")
            .groupBy("bin", "lo", "hi", "n")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .select("bin", "cnt", "lo", "hi", "n"))


def histogram_quantiles(sketch: DataFrame, bins: int,
                        qs: tuple[float, ...] = (0.5, 0.95, 0.99),
                        round_to: int = 6) -> DataFrame:
    """Quantile estimates from a :func:`histogram_sketch`: for target
    rank ``ceil(q*n)`` find the first bin whose cumulative count
    reaches it, then interpolate linearly inside the bin —
    ``lo + (bin + (target - cum_before) / cnt) * (hi - lo) / bins`` is
    the classic equi-width estimator with error ≤ one bin width.
    ``bins`` must be the build's value (the sketch stores only occupied
    cells, so the width constant cannot be recovered from it).

    The cumulative scan is a window over the ≤ ``bins``-row sketch
    (metadata-sized — never over the data; the single-partition window
    is deliberate at that size).  FP portability: counts and targets
    are exact integers; the estimate is four FP ops performed in the
    same order by the SQL oracle and rounded at the boundary.

    Output: ``q, target_rank, estimate`` — one row per requested
    quantile (empty sketch → empty output; a degenerate lo == hi
    sketch estimates every quantile as ``lo`` exactly).
    """
    from pyspark.sql import Window

    for q in qs:
        if not 0.0 < q <= 1.0:
            raise ValueError(f"quantiles must be in (0, 1], got {q}")
    w = (Window.orderBy("bin")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = sketch.withColumn("cum", F.sum("cnt").over(w)) \
                .withColumn("cum_before", F.col("cum") - F.col("cnt"))
    qdf = sketch.sparkSession.createDataFrame(
        [(float(q),) for q in sorted(qs)], "q double")
    tgt = qdf.crossJoin(F.broadcast(
        sketch.select("n", "lo", "hi").limit(1))) \
        .withColumn("target_rank", F.ceil(F.col("q") * F.col("n"))
                    .cast("long"))
    # first bin with cum >= target: min(bin-struct) over the qualifying
    # set — a broadcast theta-join against the ≤ bins-row cumulative
    # table (never against the data).
    hit = (tgt.join(F.broadcast(cum.select("bin", "cnt", "cum",
                                           "cum_before")),
                    F.col("cum") >= F.col("target_rank"))
           .groupBy("q", "target_rank", "n", "lo", "hi")
           .agg(F.min(F.struct("bin", "cnt", "cum_before"))
                .alias("__b__")))
    est = (F.col("lo")
           + (F.col("__b__.bin")
              + (F.col("target_rank") - F.col("__b__.cum_before"))
              / F.col("__b__.cnt"))
           * (F.col("hi") - F.col("lo")) / F.lit(float(bins)))
    est = F.when(F.col("hi") == F.col("lo"), F.col("lo")).otherwise(est)
    return (hit.select("q", "target_rank",
                       F.round(est, round_to).alias("estimate"))
            .orderBy("q"))


def histogram_sketch_by(df: DataFrame, value_col: str, group_col: str,
                        bins: int = 256) -> DataFrame:
    """Per-group :func:`histogram_sketch` — approximate quantiles for
    EVERY group in two passes (the profiling shape: length quantiles
    per language, latency quantiles per tenant), where one exact
    per-group sort-based quantile would pay a full data exchange.

    Pass 1 aggregates per-group bounds (exchange ≤ |groups| rows);
    pass 2 broadcast-joins them back — the bounds table is
    metadata-sized for profiling dimensions — and bin-assigns map-only
    into a partial-agg groupBy of ≤ |groups|·bins cells.  Same bin
    arithmetic as the ungrouped build, so the SQL oracle carries over
    per group.

    Output: ``group_col, bin, cnt, lo, hi, n`` (≤ |groups|·bins rows).
    """
    if bins < 2:
        raise ValueError("bins must be >= 2")
    g = F.col(group_col)
    vals = (df.select(g.alias("g"),
                      F.col(value_col).cast("double").alias("v"))
            .where(F.col("v").isNotNull() & F.col("g").isNotNull()))
    bounds = (vals.groupBy("g")
              .agg(F.min("v").alias("lo"), F.max("v").alias("hi"),
                   F.count(F.lit(1)).alias("n")))
    raw = F.floor((F.col("v") - F.col("lo"))
                  / (F.col("hi") - F.col("lo")) * F.lit(bins))
    bin_id = F.when(F.col("hi") == F.col("lo"), F.lit(0)) \
        .otherwise(F.least(F.lit(bins - 1).cast("bigint"), raw)) \
        .cast("int")
    return (vals.join(F.broadcast(bounds), "g")
            .select(F.col("g").alias(group_col), bin_id.alias("bin"),
                    "lo", "hi", "n")
            .groupBy(group_col, "bin", "lo", "hi", "n")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .select(group_col, "bin", "cnt", "lo", "hi", "n"))


def histogram_quantiles_by(sketch: DataFrame, group_col: str, bins: int,
                           qs: tuple[float, ...] = (0.5, 0.95, 0.99),
                           round_to: int = 6) -> DataFrame:
    """Per-group quantile estimates from :func:`histogram_sketch_by` —
    the same first-bin-reaching-``ceil(q·n)`` + linear interpolation
    as the ungrouped estimator, with every step partitioned by group:
    the cumulative window and the target join both run over the
    ≤ |groups|·bins cell table, never over the data.

    Output: ``group_col, q, target_rank, estimate`` (one row per
    group × quantile; a degenerate lo == hi group estimates ``lo``)."""
    from pyspark.sql import Window

    for q in qs:
        if not 0.0 < q <= 1.0:
            raise ValueError(f"quantiles must be in (0, 1], got {q}")
    w = (Window.partitionBy(group_col).orderBy("bin")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = sketch.withColumn("cum", F.sum("cnt").over(w)) \
                .withColumn("cum_before", F.col("cum") - F.col("cnt"))
    qdf = sketch.sparkSession.createDataFrame(
        [(float(q),) for q in sorted(qs)], "q double")
    groups = sketch.select(group_col, "n", "lo", "hi").distinct()
    tgt = (groups.crossJoin(F.broadcast(qdf))
           .withColumn("target_rank",
                       F.ceil(F.col("q") * F.col("n")).cast("long")))
    hit = (tgt.join(cum.select(group_col, "bin", "cnt", "cum",
                               "cum_before"), group_col)
           .where(F.col("cum") >= F.col("target_rank"))
           .groupBy(group_col, "q", "target_rank", "n", "lo", "hi")
           .agg(F.min(F.struct("bin", "cnt", "cum_before"))
                .alias("__b__")))
    est = (F.col("lo")
           + (F.col("__b__.bin")
              + (F.col("target_rank") - F.col("__b__.cum_before"))
              / F.col("__b__.cnt"))
           * (F.col("hi") - F.col("lo")) / F.lit(float(bins)))
    est = F.when(F.col("hi") == F.col("lo"), F.col("lo")).otherwise(est)
    return (hit.select(group_col, "q", "target_rank",
                       F.round(est, round_to).alias("estimate"))
            .orderBy(group_col, "q"))


def grouped_hll_ndv(df: DataFrame, key_col: str, val_col: str,
                    p: int = 8) -> DataFrame:
    """Per-key portable-HLL distinct-count estimate — the grouped form
    of :func:`hll_build` + :func:`hll_estimate` (same md5 registers,
    same exact-integer register sums, same linear-counting correction),
    for the places an exact per-key ``countDistinct`` pays the full
    distinct expansion: schema profiling, per-domain vocabularies,
    per-source cardinality monitors.

    Scale shape: one map (hash + split) + a partial-agg
    ``groupBy(key, register)`` — every partition contributes at most
    ``|keys| · 2^p`` rows to the exchange regardless of value volume —
    then a key-bounded final aggregate.  Output: ``<key_col>,
    ndv_estimate`` (rounded to 4 decimals, engine-portable).
    """
    if not 4 <= p <= 16:
        raise ValueError("p must be in [4, 16]")
    m = 1 << p
    nbits = 60 - p
    alpha = _hll_alpha(m)
    h = md5_int64(F.col(val_col).cast("string"))
    w = F.floor(h / m)
    rank = F.when(w > 0, F.lit(nbits + 1) - F.length(F.bin(w))) \
        .otherwise(F.lit(nbits + 1))
    regs = (df.where(F.col(val_col).isNotNull())
            .select(F.col(key_col).alias("__k__"),
                    (h % m).alias("register"),
                    rank.cast("int").alias("rank"))
            .groupBy("__k__", "register")
            .agg(F.max("rank").alias("max_rank")))
    agg = regs.groupBy("__k__").agg(
        F.count(F.lit(1)).cast("long").alias("n_hit"),
        F.coalesce(F.sum(F.pow(F.lit(2.0),
                               F.lit(nbits) - F.col("max_rank"))
                         .cast("long")), F.lit(0))
         .cast("long").alias("s_hit"))
    v_zero = F.lit(m) - F.col("n_hit")
    s = (F.col("s_hit") + v_zero * F.lit(1 << nbits)).cast("double")
    e_raw = (F.lit(alpha) * F.lit(float(m)) * F.lit(float(m))
             * F.lit(float(1 << nbits)) / s)
    e = F.when((e_raw <= F.lit(2.5 * m)) & (v_zero > 0),
               F.lit(float(m)) * F.log(F.lit(float(m))
                                       / v_zero.cast("double"))) \
        .otherwise(e_raw)
    return agg.select(F.col("__k__").alias(key_col),
                      F.round(e, 4).alias("ndv_estimate"))


# ---------------------------------------------------------------------------
# KMV (bottom-k / k-minimum-values) distinct sketches + set operations
# ---------------------------------------------------------------------------

_KMV_SCALE = float(1 << 60)  # md5_int64 is uniform on [0, 2^60)


def kmv_sketch(df: DataFrame, key_col: str, k: int = 256) -> DataFrame:
    """Bottom-k distinct-value sketch (Bar-Yossef et al. 2002 / the
    theta-sketch family): the ``k`` SMALLEST md5 hashes of the
    column's distinct values.  Unlike HLL registers a KMV sketch
    supports SET OPERATIONS (union = bottom-k of merged sketches;
    intersection via the Jaccard of survivors), which is what
    cross-table NDV questions need.

    Every hash is a deterministic md5 order statistic — the sketch is
    value-reproducible by any engine (no RNG, no engine-private
    state).  Plan: map (hash) → distinct with map-side partial agg →
    ``TakeOrderedAndProject`` (per-partition bottom-k, driver merge of
    k·partitions rows — never a global sort).  Output: ``h``
    ascending, ≤ k rows.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    h = md5_int64(F.col(key_col).cast("string"))
    return (df.select(h.alias("h"))
            .where(F.col("h").isNotNull())
            .distinct()
            .orderBy("h").limit(k))


def kmv_estimate(sketch: DataFrame, k: int = 256) -> DataFrame:
    """NDV estimate from a :func:`kmv_sketch`: exact count when the
    sketch is unsaturated (< k rows ⇒ it holds EVERY distinct hash),
    else the order-statistic estimator ``(k−1) / (h_k / 2^60)``.  All
    arithmetic is a pinned two-step double op over exact integers —
    bit-replayable (round-4 only to absorb the engines' decimal
    formatting of doubles, not arithmetic freedom).  Output one row:
    ``k_used, kth_hash, ndv_est``."""
    agg = sketch.agg(F.count(F.lit(1)).alias("n"), F.max("h").alias("hk"))
    est = F.when(
        F.col("n") < k, F.col("n").cast("double")).otherwise(
        F.lit(float(k - 1)) / (F.col("hk").cast("double")
                               / F.lit(_KMV_SCALE)))
    return agg.select(F.col("n").cast("long").alias("k_used"),
                      F.col("hk").alias("kth_hash"),
                      F.round(est, 4).alias("ndv_est"))


def kmv_set_ops(df_a: DataFrame, col_a: str,
                df_b: DataFrame, col_b: str, k: int = 256) -> DataFrame:
    """Cross-table distinct-set estimates from two KMV sketches — the
    question profile/join planners ask at 100 TB ("how many customer
    keys appear in both tables?") answered without ever shuffling
    either corpus: per-side NDV, union NDV (bottom-k of the merged
    sketches — itself a valid sketch), Jaccard (fraction of the merged
    bottom-k present in BOTH sides — the theta-sketch intersection
    rule), and intersection NDV (``jaccard · union``).

    Everything downstream of the two sketch builds runs on ≤ 2k rows
    of metadata.  Output one row: ``ndv_a, ndv_b, union_est,
    jaccard_est, inter_est``."""
    sa = kmv_sketch(df_a, col_a, k).localCheckpoint(eager=True)
    sb = kmv_sketch(df_b, col_b, k).localCheckpoint(eager=True)
    merged = (sa.unionByName(sb).distinct()
              .orderBy("h").limit(k).localCheckpoint(eager=True))
    both = merged.join(sa, "h", "semi").join(sb, "h", "semi")
    ua = kmv_estimate(merged, k).select(
        F.col("k_used").alias("mk"), F.col("ndv_est").alias("union_est"))
    ja = both.agg(F.count(F.lit(1)).alias("matches"))
    ea = kmv_estimate(sa, k).select(F.col("ndv_est").alias("ndv_a"))
    eb = kmv_estimate(sb, k).select(F.col("ndv_est").alias("ndv_b"))
    jac = F.round(F.col("matches").cast("double")
                  / F.col("mk").cast("double"), 6)
    return (ea.crossJoin(eb).crossJoin(ua).crossJoin(ja)
            .withColumn("jaccard_est", jac)
            .withColumn("inter_est",
                        F.round(F.col("jaccard_est") * F.col("union_est"),
                                4))
            .select("ndv_a", "ndv_b", "union_est", "jaccard_est",
                    "inter_est"))
