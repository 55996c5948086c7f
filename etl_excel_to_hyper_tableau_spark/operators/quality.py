"""Data-quality expectations: declarative row-level checks evaluated
in ONE aggregate pass.

The shape every production pipeline bolts on (dbt tests, Great
Expectations, Deequ): declare predicates, get a violations report.
The scale property that matters is that *all* checks share a single
scan + a single partial aggregate — each check is a
``sum(case when violated then 1 end)`` column, map-side combinable, so
the report costs one pass over 100 TB regardless of how many checks
run.  The per-check rows are unpivoted from the one-row aggregate
(stack over a 1-row frame — driver-free, trivially cheap).

Uniqueness checks need a second shape (duplicates are a property of
the whole column, not a row), expressed as ``count - count_distinct``
inside the same aggregate — still one pass, with the usual caveat that
count_distinct adds an expand; put uniqueness checks on key columns
only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def check_report(df: DataFrame, checks: dict[str, Column],
                 unique: list[str] | None = None) -> DataFrame:
    """Evaluate named row predicates (``True`` = row passes) plus
    optional column-uniqueness checks, in one aggregate pass.

    Output: ``check, n_violations, n_rows, passed`` — one row per
    check, deterministic order by check name.
    """
    if not checks and not unique:
        raise ValueError("no checks given")
    aggs = [F.count("*").alias("__n__")]
    names = []
    for name, pred in checks.items():
        names.append(name)
        # NULL predicate result counts as a violation (a row that can't
        # prove it passes doesn't pass) — coalesce, don't negate; the
        # outer coalesce makes an EMPTY frame report 0 violations /
        # passed=true instead of NULLs (sum over zero rows is NULL)
        aggs.append(F.coalesce(
            F.sum(F.when(F.coalesce(pred, F.lit(False)), 0).otherwise(1)),
            F.lit(0)).cast("long").alias(f"__c_{len(names) - 1}__"))
    for col in unique or []:
        names.append(f"unique({col})")
        aggs.append((F.count(col) - F.countDistinct(col))
                    .cast("long").alias(f"__c_{len(names) - 1}__"))
    one = df.agg(*aggs)

    def _lit(n: str) -> str:  # escape backslashes, then quotes
        return n.replace("\\", "\\\\").replace("'", "''")

    stack = ", ".join(f"'{_lit(n)}', __c_{i}__" for i, n in enumerate(names))
    return (one.selectExpr(f"stack({len(names)}, {stack}) as (check, n_violations)",
                           "__n__ as n_rows")
            .withColumn("passed", F.col("n_violations") == 0)
            .orderBy("check"))


def corpus_summary(df: DataFrame, text_col: str, lang_col: str,
                   source_col: str) -> DataFrame:
    """One-row corpus "data card" (the dataset-nutrition-label header:
    Gebru et al. 2021 datasheets; what every training-corpus release
    publishes first): document and token totals, language diversity as
    Shannon entropy over the language mix, and source concentration as
    the hottest source's share — the two numbers that flag a skewed
    crawl before any per-document gate runs.

    ONE corpus scan: the three aggregation keys (per-language,
    per-source, global) run as a single GROUPING SETS pass — Expand
    emits three grouping arms per row but the partial aggregate
    collapses them map-side, so the shuffle carries ≤ 3·(langs +
    sources + 1) rows per partition.  (The naive formulation — three
    separate ``groupBy``s off one base — re-scans the corpus three
    times: AQE's exchange reuse cannot merge shuffles with different
    keys.  Measured: 9 parquet scans in the executed plan vs 1 here.)
    The metadata-sized grouped result is pinned with an eager
    ``localCheckpoint`` so the three downstream branches read ~tens of
    rows instead of re-running the pass.  The language entropy
    ``−Σ p·ln p`` folds in sorted language order (``aggregate`` over
    ``sort_array(collect_list(...))``) so the double
    sum is bit-reproducible by an external engine.

    Output columns: ``n_docs, n_tokens, avg_doc_tokens, n_langs,
    lang_entropy, n_sources, top_source_share``.
    """
    from .text import spread, token_count

    base = spread(df).select(
        F.col(lang_col).alias("lang"), F.col(source_col).alias("source"),
        token_count(F.col(text_col)).cast("long").alias("n_tok"))
    # gid: 1 = by lang (source aggregated), 2 = by source, 3 = global
    g = (base.groupingSets([["lang"], ["source"], []], "lang", "source")
         .agg(F.grouping_id().alias("gid"),
              F.count(F.lit(1)).alias("n"),
              F.sum("n_tok").alias("tok"))
         .localCheckpoint(eager=True))
    totals = (g.filter(F.col("gid") == 3)
              .select(F.col("n").alias("n_docs"),
                      F.col("tok").alias("n_tokens")))
    by_lang = g.filter(F.col("gid") == 1).select("lang", "n")
    by_src = g.filter(F.col("gid") == 2).select("source", "n")
    ent = F.aggregate(
        F.transform(F.sort_array(F.collect_list(F.struct("lang", "n"))),
                    lambda s: s["n"]),
        F.lit(0.0),
        lambda acc, n: acc - (n / F.col("n_docs").cast("double"))
        * F.log(n / F.col("n_docs").cast("double")))
    lang_row = (by_lang.crossJoin(F.broadcast(totals))
                .groupBy("n_docs")
                .agg(F.count(F.lit(1)).cast("long").alias("n_langs"),
                     F.round(ent, 9).alias("lang_entropy")))
    src_row = (by_src.crossJoin(F.broadcast(totals))
               .groupBy("n_docs")
               .agg(F.count(F.lit(1)).cast("long").alias("n_sources"),
                    (F.max("n") / F.col("n_docs").cast("double"))
                    .alias("top_source_share")))
    return (totals
            .join(F.broadcast(lang_row), "n_docs")
            .join(F.broadcast(src_row), "n_docs")
            .select(F.col("n_docs").cast("long").alias("n_docs"),
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    (F.col("n_tokens")
                     / F.col("n_docs").cast("double")).alias("avg_doc_tokens"),
                    "n_langs", "lang_entropy", "n_sources",
                    "top_source_share"))


def k_anonymity_report(df: DataFrame, quasi_cols: list[str],
                       k: int = 5) -> DataFrame:
    """k-anonymity audit (Sweeney 2002): rows whose quasi-identifier
    combination is shared by fewer than ``k`` records are
    re-identifiable by linkage — the structural privacy check that
    complements the regex PII scrub (``pii_redact`` finds explicit
    identifiers; this finds rows made identifiable by the COMBINATION
    of innocuous attributes).  Training-data releases run both.

    One partial-aggregating ``groupBy`` over the quasi-identifier
    columns → filter groups under ``k``.  Output: one row per
    violating group (``*quasi_cols, group_size``) — release-blocking
    until generalization/suppression brings every group to ≥ k.
    Group-count output is bounded by the number of DISTINCT
    quasi-identifier combinations, not rows.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    return (df.groupBy(*quasi_cols)
            .agg(F.count(F.lit(1)).cast("long").alias("group_size"))
            .where(F.col("group_size") < k))


def _json_profile_partials_arrow(df: DataFrame, json_col: str,
                                 p: int) -> DataFrame:
    """Arrow kernel for :func:`json_field_profile`'s approx path: one
    ``mapInPandas`` pass emitting per-partition (key, register)
    partials — ``cnt`` / ``n_num`` sums and ``max_rank`` — with the
    EXACT register/rank arithmetic of the SQL projection
    (h = md5-60 of the value string, register = h mod 2^p, rank =
    61-p - bit_length(h div 2^p), NULL values in the ``-1`` register).
    Per-partition state and output are register-bounded
    (≤ |keys|·(2^p+1) entries), so executor memory and the Arrow
    transfer stay metadata-sized at any corpus scale.

    Value-string rendering: scalar int/string/bool/null reproduce
    ``from_json``'s ``map<string,string>`` form exactly; float and
    nested values are best-effort (see the caller's contract note).
    Numeric-parse parity with ``try_cast(value AS double)``: strip,
    reject empty / '_' / bare 'inf' forms, else Python float().
    """
    m = 1 << p
    nbits = 60 - p

    def run(batches):
        import json as _json

        import pandas as pd

        from ..functions.pykernels import md5_60

        inf_forms = {"inf", "+inf", "-inf"}

        def try_double(s: str):
            s2 = s.strip()
            if not s2 or "_" in s2 or s2.lower() in inf_forms:
                return None
            try:
                return float(s2)
            except ValueError:
                return None

        class _Pairs(list):
            """Marker: a JSON object parsed as its raw (key, value)
            pair list — ``from_json``'s map keeps DUPLICATE keys (the
            explode emits one row per occurrence), so a plain dict
            parse would undercount ``n_present``."""

        def render(v) -> str:
            if isinstance(v, bool):
                return "true" if v else "false"
            if isinstance(v, str):
                return v
            if isinstance(v, int):
                return str(v)
            if isinstance(v, float):
                return repr(v)
            # nested — best-effort (out of contract)
            if isinstance(v, _Pairs):
                v = dict(v)
            return _json.dumps(v, separators=(",", ":"))

        # (register, rank, is_num) per value string — real columns
        # repeat their values heavily (tags, bounded ints), so the
        # md5/bit_length/float work runs once per DISTINCT value; the
        # size valve keeps a pathological all-unique column from
        # growing worker state (compute simply stays un-memoized then)
        memo: dict = {}
        MEMO_MAX = 1 << 20

        def value_stats(vs: str):
            got = memo.get(vs)
            if got is None:
                h = md5_60(vs.encode("utf-8"))
                w = h // m
                rank = (nbits + 1 - w.bit_length()) if w > 0 \
                    else nbits + 1
                got = (h % m, rank, try_double(vs) is not None)
                if len(memo) < MEMO_MAX:
                    memo[vs] = got
            return got

        # (key, register) -> [cnt, n_num, max_rank]
        state: dict = {}
        for pdf in batches:
            for j in pdf["__j__"]:
                if j is None:
                    continue
                try:
                    obj = _json.loads(j, object_pairs_hook=_Pairs)
                except ValueError:
                    continue
                if not isinstance(obj, _Pairs):
                    continue
                for key, v in obj:
                    if v is None:
                        reg, rank, is_num = -1, -1, False
                    else:
                        reg, rank, is_num = value_stats(
                            v if type(v) is str else render(v))
                    st = state.get((key, reg))
                    if st is None:
                        state[(key, reg)] = [1, 1 if is_num else 0,
                                             rank]
                    else:
                        st[0] += 1
                        if is_num:
                            st[1] += 1
                        if rank > st[2]:
                            st[2] = rank
        if state:
            ks = list(state.keys())
            yield pd.DataFrame(
                {"key": [k for k, _ in ks],
                 "register": [r for _, r in ks],
                 "cnt": [state[x][0] for x in ks],
                 "n_num": [state[x][1] for x in ks],
                 "max_rank": [None if state[x][2] < 0 else state[x][2]
                              for x in ks]})

    return (df.select(F.col(json_col).alias("__j__"))
            .mapInPandas(run, "key string, register long, cnt long, "
                              "n_num long, max_rank int"))


def json_field_profile(df: DataFrame, json_col: str,
                       approx_ndv: bool = False, p: int = 8,
                       fuse_final: bool = False,
                       impl: str = "sql") -> DataFrame:
    """Schema-on-read discovery for a JSON-string column: one row per
    top-level key with presence, numeric-parse, and distinct-value
    counts — the profile that decides which fields become typed
    columns before a `from_json`-with-schema extraction is committed.

    Plan: ONE scan — `from_json` to ``map<string,string>`` (scalar
    values arrive unquoted), explode, partial-agg groupBy on the key.
    The exchange is bounded by |keys| × partitions for the count
    columns; the exact distinct-count pays the usual distinct
    expansion — pass ``approx_ndv=True`` to swap it for the portable
    grouped-HLL estimate (:func:`.sketches.grouped_hll_ndv` — the
    exchange then stays ≤ |keys|·2^p rows per partition, the scale
    path when |values| is corpus-sized).  Rows whose JSON fails to
    parse contribute nothing (from_json → NULL map; count them
    upstream if the failure rate matters — see check_report).

    Output: ``key, n_present, n_numeric, n_distinct`` (exact ints,
    engine-portable); with ``approx_ndv=True`` the last column is the
    HLL double ``n_distinct`` estimate instead (rounded to 4).

    ``fuse_final=True`` (approx path only) inserts ``coalesce(1)``
    between the two register aggregations: SinglePartition satisfies
    every downstream clustering requirement, so the final
    (key, register) merge, the per-key estimate, and any trailing
    in-partition sort all fuse into ONE task with no further exchange
    — two whole stages cheaper, measured 1.37 s → 1.14 s at sf0.1.
    The single merge task reads every map-side partial block, bounded
    by ``upstream_partitions × |keys| × (2^p + 1)`` rows — fine
    through ~10^4 input partitions; for a 100 TB scan (10^5-10^6
    splits) leave it False and keep the parallel two-exchange merge.

    ``impl="arrow"`` (approx path only): the parse + per-value md5
    register projection moves into a ``mapInPandas`` kernel that emits
    PRE-MERGED per-partition (key, register) partials — the JVM
    ``from_json`` + ``conv(substr(md5(...)))`` register projection over
    every exploded value was the measured cost at sf1 (2.7 s wall, of
    which ~2.3 s past the input derivation), and the kernel's output is
    register-bounded (≤ |keys|·(2^p+1) rows per partition), so the
    Arrow transfer out of Python is metadata-sized.  Estimate
    arithmetic downstream is IDENTICAL, so the portable-HLL oracle is
    unchanged.  ⚠ value-string parity contract: the kernel reproduces
    ``from_json``'s ``map<string,string>`` rendering for **scalar
    int / string / bool / null** values (ints keep their literal
    digits, booleans render ``true``/``false``); float and nested
    values are engine-formatting-dependent — keep ``impl="sql"`` for
    such corpora.  Both paths pinned equal in
    tests/test_arrow_kernels.py.
    """
    from .parallelism import spread

    if impl not in ("sql", "arrow"):
        raise ValueError(f"impl must be 'sql' or 'arrow', got {impl!r}")
    if impl == "arrow" and not approx_ndv:
        raise ValueError("impl='arrow' is the approx_ndv register-partial "
                         "kernel; the exact path is SQL-only")
    # spread BEFORE the parse: a single-file local corpus is one input
    # split, and from_json is the dominant cost — shuffling the raw
    # strings once buys 32× parse parallelism (no-op when the scan
    # already has ≥ default-parallelism splits, i.e. any real corpus)
    kv = spread(df).select(F.explode(F.from_json(F.col(json_col),
                                                 "map<string,string>"))
                           .alias("key", "value"))
    if approx_ndv:
        # ONE pass: a two-branch formulation (count agg ⋈ grouped_hll_ndv)
        # runs the from_json parse twice — measured no faster than the
        # exact path at sf0.1 because the parse dominates.  Aggregating
        # counts at (key, register) granularity first keeps one scan and
        # the same ≤ |keys|·(2^p+1) exchange bound; the estimate
        # arithmetic below is term-for-term grouped_hll_ndv's, so the
        # portable-HLL oracle is unchanged.
        from ..functions.hashing import md5_int64
        from .sketches import _hll_alpha
        m = 1 << p
        nbits = 60 - p
        alpha = _hll_alpha(m)
        h = md5_int64(F.col("value").cast("string"))
        w = F.floor(h / m)
        rank = F.when(w > 0, F.lit(nbits + 1) - F.length(F.bin(w))) \
            .otherwise(F.lit(nbits + 1))
        has_v = F.col("value").isNotNull()
        if impl == "arrow":
            parts = _json_profile_partials_arrow(spread(df), json_col, p)
            g1 = (parts.groupBy("key", "register")
                  .agg(F.sum("cnt").alias("cnt"),
                       F.sum("n_num").alias("n_num"),
                       F.max("max_rank").alias("max_rank")))
            # fuse AFTER the merge aggregate's exchange (same as the
            # SQL fuse): the shuffle boundary preserves the Python
            # kernel's parallelism, and the single downstream task
            # runs merge + per-key aggregate + estimate + sort in one.
            # coalesce(1) directly on the mapInPandas output would fuse
            # the KERNEL into one task — measured 31 s vs 2 s at sf1.
            if fuse_final:
                g1 = g1.coalesce(1)
        else:
            g1 = (kv.select(
                      "key",
                      F.when(has_v, h % m).otherwise(F.lit(-1))
                       .alias("register"),
                      F.when(has_v, rank).cast("int").alias("rank"),
                      F.expr("try_cast(value AS double)").alias("num"))
                  .groupBy("key", "register")
                  .agg(F.count(F.lit(1)).alias("cnt"),
                       F.count("num").alias("n_num"),
                       F.max("rank").alias("max_rank")))
            if fuse_final:
                g1 = g1.coalesce(1)
        hit = F.col("register") >= 0
        agg = g1.groupBy("key").agg(
            F.sum("cnt").cast("long").alias("n_present"),
            F.sum("n_num").cast("long").alias("n_numeric"),
            F.count(F.when(hit, F.lit(1))).cast("long").alias("n_hit"),
            F.coalesce(F.sum(F.when(hit, F.pow(
                F.lit(2.0), F.lit(nbits) - F.col("max_rank"))
                .cast("long"))), F.lit(0))
             .cast("long").alias("s_hit"))
        v_zero = F.lit(m) - F.col("n_hit")
        s = (F.col("s_hit") + v_zero * F.lit(1 << nbits)).cast("double")
        e_raw = (F.lit(alpha) * F.lit(float(m)) * F.lit(float(m))
                 * F.lit(float(1 << nbits)) / s)
        e = F.when((e_raw <= F.lit(2.5 * m)) & (v_zero > 0),
                   F.lit(float(m)) * F.log(F.lit(float(m))
                                           / v_zero.cast("double"))) \
            .otherwise(e_raw)
        return agg.select("key", "n_present", "n_numeric",
                          F.round(e, 4).alias("n_distinct"))
    return (kv.groupBy("key")
            .agg(F.count(F.lit(1)).cast("long").alias("n_present"),
                 F.count(F.expr("try_cast(value AS double)"))
                 .cast("long").alias("n_numeric"),
                 F.countDistinct("value").cast("long")
                 .alias("n_distinct")))
