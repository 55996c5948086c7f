"""Skew-handling utilities: salted joins, key-skew reports and
bloom-filter pruning.

AQE's skew-join splitting (on by default, `session.py`) handles most
skew at runtime by splitting oversized sort-merge partitions.  One
case still needs explicit treatment at 100 TB, and this is the
standard recipe:

* :func:`salted_join` — when one fact-side key is so hot that even a
  split partition is dominated by a single key (AQE can split a
  partition, not a key).  The hot side's keys gain a random salt in
  [0, salt_factor); the other side is replicated salt_factor times so
  every (key, salt) bucket can still match.  Replication is by literal
  explode — no Python, one extra narrow stage.

Co-located joins through bucketed tables live in
:mod:`..plans.bucketing`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def salted_join(skewed: DataFrame, other: DataFrame, key: str,
                salt_factor: int = 8, how: str = "inner") -> DataFrame:
    """Equi-join where ``skewed`` has hot values in ``key``.

    ``skewed`` gets a uniform random salt column; ``other`` is exploded
    ``salt_factor``× (one copy per salt value) so the join key becomes
    (key, salt) — the hot key's rows now spread over ``salt_factor``
    shuffle partitions.  Result columns = the plain join's columns.

    Correctness does not depend on the salt values (every row of
    ``other`` exists for every salt), so ``rand()``'s non-determinism
    is load-balancing only.  Cost: ``other`` is replicated — use it
    fact-to-dim-too-big-to-broadcast, not fact-to-fact.
    """
    if salt_factor < 1:
        raise ValueError("salt_factor must be >= 1")
    _check_salted_how(how)
    salted_l = skewed.withColumn(
        "__salt__", (F.rand() * salt_factor).cast("int"))
    salted_r = other.withColumn(
        "__salt__", F.explode(F.array(*[F.lit(i) for i in range(salt_factor)])))
    out = salted_l.join(salted_r, [key, "__salt__"], how)
    return out.drop("__salt__")


_SALTED_HOWS = {"inner", "left", "leftouter", "left_outer",
                "semi", "leftsemi", "left_semi",
                "anti", "leftanti", "left_anti"}


def _check_salted_how(how: str) -> None:
    """Salting replicates the OTHER side, so join types that preserve
    unmatched OTHER rows (right/full outer) would emit each unmatched
    row once per salt copy — refuse rather than silently duplicate."""
    if how.lower().replace("_", "") not in {
            h.replace("_", "") for h in _SALTED_HOWS}:
        raise ValueError(
            f"how={how!r} preserves unmatched rows of the replicated "
            "side and would duplicate them salt_factor times; salted "
            "joins support inner/left/semi/anti — swap the sides or "
            "use a plain join for right/full outer")


def auto_salted_join(skewed: DataFrame, other: DataFrame, key: str,
                     how: str = "inner", hot_threshold: float = 4.0,
                     max_salt: int = 64, topk: int = 32) -> DataFrame:
    """:func:`salted_join` with the salt derived from the key histogram
    instead of a static factor — the adaptive form: only keys whose
    measured load exceeds ``hot_threshold``× uniform are salted, each
    by ``ceil(hot_factor)`` (capped at ``max_salt``), so a hot key's
    (key, salt) buckets land back at ~uniform load while every COLD
    key joins unsalted (salt 0 on the left, exactly one salt-0 copy on
    the right — no replication for the long tail).

    One bounded extra job: :func:`key_skew_report`'s top-``topk``
    collect (≤ topk rows — the histogram the module already computes
    for diagnostics, now feeding the plan).  Replication cost is
    ``Σ_hot (salt_k − 1) × |other rows for that key|`` — bounded by
    ``topk × max_salt`` dim-row copies, vs the static form's
    ``salt_factor × |other|``.  With no key above the threshold the
    join degenerates to the plain equi-join (zero replication).

    Routing is a literal ``create_map`` over the ≤ topk hot keys
    (string-cast key → salt factor), evaluated JVM-side on both
    inputs; values are salt-invariant exactly as in
    :func:`salted_join`.
    """
    import math

    _check_salted_how(how)
    if hot_threshold <= 1.0:
        raise ValueError("hot_threshold must exceed 1.0 (uniform load)")
    rep = key_skew_report(skewed, key, topk=topk).collect()
    hot = {r["key_value"]: min(max_salt, int(math.ceil(r["hot_factor"])))
           for r in rep
           if r["key_value"] is not None
           and r["hot_factor"] > hot_threshold}
    if not hot:
        return skewed.join(other, [key], how)
    pairs: list = []
    for kv in sorted(hot):
        pairs += [F.lit(kv), F.lit(hot[kv])]
    salt_of = F.create_map(*pairs)[F.col(key).cast("string")]
    salted_l = skewed.withColumn(
        "__salt__", (F.rand() * F.coalesce(salt_of, F.lit(1))).cast("int"))
    salted_r = other.withColumn(
        "__salt__",
        F.explode(F.sequence(F.lit(0),
                             F.coalesce(salt_of, F.lit(1)) - F.lit(1))))
    return salted_l.join(salted_r, [key, "__salt__"], how).drop("__salt__")


def key_skew_report(df: DataFrame, key: str, topk: int = 10) -> DataFrame:
    """Skew diagnostics for a prospective join/groupBy key: the ``topk``
    heaviest key values with their row counts, share of the table, and
    the multiple of a perfectly-uniform key's load — the report you
    read BEFORE choosing between a plain join, AQE skew splitting, and
    :func:`salted_join` (a key whose ``hot_factor`` exceeds the
    executor-partition budget needs salting; AQE can split a partition
    but not a key).

    Plan: one partial-agg ``groupBy(key)`` (hot keys combine map-side —
    the diagnostic never amplifies the skew it measures), the totals as
    a broadcast one-row aggregate over the SAME key-count lineage, and
    the top-k via sort+limit — Spark's ``TakeOrderedAndProject``
    (per-partition partial top-k, no full sort): a near-unique key has
    corpus-scale cardinality, so a global rank window here would be the
    single-reducer plan this module exists to avoid.  The row_number
    runs on the ≤ topk survivors only.

    Output: ``key_value (string), n_rows, share, hot_factor, rank``
    (``hot_factor`` = n_rows × n_distinct_keys / total_rows; 1.0 ⇒
    perfectly uniform).
    """
    from pyspark.sql import Window

    counts = (df.groupBy(F.col(key).cast("string").alias("key_value"))
              .agg(F.count(F.lit(1)).alias("n_rows")))
    totals = counts.agg(F.sum("n_rows").alias("__total__"),
                        F.count(F.lit(1)).alias("__n_keys__"))
    top = (counts.orderBy(F.col("n_rows").desc(), F.col("key_value"))
           .limit(topk))
    rank = Window.orderBy(F.col("n_rows").desc(), F.col("key_value"))
    return (top.crossJoin(F.broadcast(totals))
            .select("key_value",
                    F.col("n_rows").cast("long").alias("n_rows"),
                    (F.col("n_rows") / F.col("__total__").cast("double"))
                    .alias("share"),
                    (F.col("n_rows") * F.col("__n_keys__")
                     / F.col("__total__").cast("double")).alias("hot_factor"))
            .withColumn("rank", F.row_number().over(rank))
            .select("key_value", "n_rows", "share", "hot_factor",
                    F.col("rank").cast("long").alias("rank")))


def bloom_filter_bits(df: DataFrame, key: str, n_bits: int = 1 << 16,
                      n_hashes: int = 3) -> list[int]:
    """Build a Bloom filter of ``df[key]`` as a list of int64 words
    (driver-side, ``n_bits/64`` longs — 8 KiB at the default 64 Kbit).

    Hashing is the portable md5 doctrine (``md5(h:key)`` per hash row),
    so membership tests are engine-reproducible.  The build collects at
    most ``n_bits`` distinct bit positions — bounded by the filter
    SIZE, not the input (the input side is small-by-contract anyway:
    it is the side you would broadcast).
    """
    from pyspark.sql import functions as F

    from ..functions.hashing import md5_int64

    rows = (df.select(F.col(key).cast("string").alias("k"))
            .where(F.col("k").isNotNull())
            .select("k", F.explode(F.sequence(F.lit(0), F.lit(n_hashes - 1)))
                    .alias("h")))
    pos = (rows.select(
               (md5_int64(F.concat(F.col("h").cast("string"), F.lit(":"),
                                   F.col("k"))) % F.lit(n_bits))
               .alias("p"))
           .distinct().collect())
    words = [0] * ((n_bits + 63) // 64)
    for r in pos:
        p = r["p"]
        words[p // 64] |= 1 << (p % 64)
    # two's-complement to signed int64: a set bit 63 must round-trip
    # through a Spark long literal
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_prune(df: DataFrame, key: str, bits: list[int],
                n_bits: int = 1 << 16, n_hashes: int = 3) -> DataFrame:
    """Map-only Bloom membership filter on ``df[key]`` — the semi-join
    reduction that cuts a selective join's shuffle bytes at 100 TB:
    rows whose key cannot be on the other side are dropped BEFORE the
    exchange, with the bitmap as a literal array (no broadcast round,
    no second job).  False positives pass through (they are eliminated
    by the join itself — correctness is unchanged, which is why the
    pruned join's oracle is the plain join); false negatives cannot
    occur.

    Word lookups are ``element_at`` on the literal long array + bit
    arithmetic — whole-stage-codegen'd, no UDF.  The bitmap is ONE
    ``F.expr`` string (a per-word ``F.lit`` build would cost
    n_bits/64 Py4J round-trips — the :func:`_nearest_cells` doctrine).
    """
    from pyspark.sql import functions as F

    from ..functions.hashing import md5_int64

    arr = F.expr("array(" + ",".join(f"{w}L" for w in bits) + ")")
    k = F.col(key).cast("string")
    cond = None
    for h in range(n_hashes):
        p = md5_int64(F.concat(F.lit(f"{h}:"), k)) % F.lit(n_bits)
        # p < n_bits ≪ 2^53, so double division then truncation is the
        # exact integer quotient
        word = F.element_at(arr, (p / F.lit(64)).cast("int") + F.lit(1))
        # call_function: the DSL shiftleft() only takes a Python int
        # for numBits; the SQL function accepts a column
        hit = word.bitwiseAND(
            F.call_function("shiftleft", F.lit(1).cast("long"),
                            (p % F.lit(64)).cast("int"))
        ) != 0
        cond = hit if cond is None else cond & hit
    return df.where(cond)
