"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

Most operators are Catalyst expressions over string/array built-ins
(JVM codegen); the per-gram and per-token inner loops of winnowing,
content-defined chunking, BM25 term counting and dictionary tagging run
as Arrow (``mapInPandas``) kernels instead (see each docstring for the
measured reason).  Every formula is simple integer/double arithmetic
so an external SQL oracle can reproduce values exactly.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — needed to resolve pandas_udf type hints

from pyspark.sql import Column, DataFrame, functions as F

from .parallelism import spread
from ..functions.hashing import md5_int64

# Tiny public stopword lists (top function words). Deliberately short —
# this is an n-gram/stopword *heuristic* language ID, not a model.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "it", "that", "for", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "del", "por"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "im"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "du", "est"],
}

_TOKEN_SPLIT = r"\s+"


def tokens(col: Column) -> Column:
    """Whitespace tokens, empties removed (``split`` keeps a trailing
    empty string on trailing whitespace — filter it so counts match an
    oracle's regexp splitter)."""
    return F.filter(F.split(F.trim(col), _TOKEN_SPLIT), lambda t: t != "")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


# the exact ASCII classes of the regexes [A-Za-z0-9] and \s (Java \s is
# ASCII-only: [ \t\n\x0B\f\r]) — used to count class members with
# `translate` (one char-table pass, no regex engine, no result-string
# build) instead of regexp_replace.  Counting via length-difference
# after deletion is code-point-exact for any input, including non-BMP.
_ALNUM = ("ABCDEFGHIJKLMNOPQRSTUVWXYZ"
          "abcdefghijklmnopqrstuvwxyz0123456789")
_JAVA_WS = " \t\n\x0b\f\r"


def word_token_count(col: Column) -> Column:
    """BPE-ish sub-token estimate: word characters grouped in runs of ≤4
    plus standalone non-word glyphs — a deterministic proxy for tokenizer
    counts when no tokenizer library is available (≈ chars/4 for prose).

    Counts via ``translate`` deletion rather than ``regexp_replace``:
    bit-identical lengths (the deleted sets equal the regex classes
    [A-Za-z0-9] and [A-Za-z0-9\\s] exactly), measured 10.8× faster at
    sf1 (2.82 s → 0.26 s isolated, OPTIMIZATION_r11.md §9) — the
    regex path built a full result string per row per pass."""
    word_chars = (F.length(col) - F.length(F.translate(col, _ALNUM, "")))
    other = F.length(F.translate(col, _ALNUM + _JAVA_WS, ""))
    return (F.ceil(word_chars / F.lit(4.0)) + other).cast("long")


def _stopword_hits(toks: Column, lang: str) -> Column:
    arr = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, F.lower(t))))


def language_scores(col: Column) -> Column:
    """Struct of per-language stopword-hit ratios."""
    toks = tokens(col)
    n = F.greatest(F.size(toks), F.lit(1))
    return F.struct(*[
        (_stopword_hits(toks, lang).cast("double") / n).alias(lang)
        for lang in STOPWORDS
    ])


def detect_language(col: Column, min_ratio: float = 0.05) -> Column:
    """argmax over language_scores; 'und' (undetermined) when the best
    ratio is below ``min_ratio``.  Deterministic tie-break: language
    list order (en, es, de, fr)."""
    scores = language_scores(col)
    langs = list(STOPWORDS)
    best = F.greatest(*[scores[lang] for lang in langs])
    out = F.lit("und")
    for lang in reversed(langs):
        out = F.when(scores[lang] == best, F.lit(lang)).otherwise(out)
    return F.when(best >= min_ratio, out).otherwise(F.lit("und"))


def quality_features(col: Column) -> Column:
    """Struct of deterministic quality signals:

    * ``n_chars``, ``n_tokens``
    * ``mean_token_len`` — chars-in-tokens / tokens
    * ``punct_ratio`` — non-alnum-non-space chars / chars
    * ``stopword_ratio`` — English stopword hits / tokens
    * ``upper_ratio`` — uppercase / alphabetic chars
    * ``digit_ratio`` — digits / chars
    """
    toks = tokens(col)
    n_chars = F.length(col)
    n_tokens = F.size(toks)
    safe_chars = F.greatest(n_chars, F.lit(1)).cast("double")
    safe_tokens = F.greatest(n_tokens, F.lit(1)).cast("double")
    alpha = F.length(F.regexp_replace(col, r"[^A-Za-z]", ""))
    upper = F.length(F.regexp_replace(col, r"[^A-Z]", ""))
    digits = F.length(F.regexp_replace(col, r"[^0-9]", ""))
    punct = F.length(F.regexp_replace(col, r"[A-Za-z0-9\s]", ""))
    tok_chars = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.struct(
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        (tok_chars / safe_tokens).alias("mean_token_len"),
        (punct / safe_chars).alias("punct_ratio"),
        (_stopword_hits(toks, "en").cast("double") / safe_tokens).alias("stopword_ratio"),
        (upper / F.greatest(alpha, F.lit(1)).cast("double")).alias("upper_ratio"),
        (digits / safe_chars).alias("digit_ratio"),
    )


def quality_score(col: Column) -> Column:
    """Scalar [0,1] quality score: linear blend of the features with
    fixed public weights (length sweet-spot, low punctuation, presence
    of stopwords — the classic heuristic trio)."""
    f = quality_features(col)
    length_score = F.least(f["n_tokens"].cast("double") / F.lit(20.0), F.lit(1.0))
    punct_score = F.greatest(F.lit(1.0) - f["punct_ratio"] * 4.0, F.lit(0.0))
    stop_score = F.least(f["stopword_ratio"] * 5.0, F.lit(1.0))
    return (length_score * 0.4 + punct_score * 0.3 + stop_score * 0.3)


def text_profile(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One-stop per-document profile: language, quality, token counts,
    fingerprint — narrow projections; the only possible shuffle is the
    :func:`spread` parallelism guard on under-partitioned inputs.

    The token array and its per-language stopword hit counts are
    materialized in their own projections so the downstream features
    share them: inlined, each feature expression would re-evaluate the
    split and the stopword scans (Catalyst does not CSE across
    higher-order-function subtrees), measured ~35% slower at sf0.1."""
    c = F.col(text_col)
    base = spread(df).select(F.col(id_col).alias("id"), c.alias("__t__"),
                             tokens(c).alias("__toks__"))
    toks = F.col("__toks__")
    t = F.col("__t__")
    n_tok = F.size(toks)
    hits = base.select(
        "id", "__t__", "__toks__", n_tok.alias("__n__"),
        *[_stopword_hits(toks, lang).alias(f"__hit_{lang}__") for lang in STOPWORDS])

    # language: argmax of per-language hit ratios (ratios share one
    # denominator, so compare hit counts directly); 'und' under min_ratio
    n_safe = F.greatest(F.col("__n__"), F.lit(1))
    best = F.greatest(*[F.col(f"__hit_{lang}__") for lang in STOPWORDS])
    lang_out = F.lit("und")
    for lang in reversed(list(STOPWORDS)):
        lang_out = F.when(F.col(f"__hit_{lang}__") == best, F.lit(lang)).otherwise(lang_out)
    lang_out = F.when(best.cast("double") / n_safe >= 0.05, lang_out).otherwise(F.lit("und"))

    # quality: same formula as quality_score, over the shared columns
    length_score = F.least(F.col("__n__").cast("double") / F.lit(20.0), F.lit(1.0))
    punct = F.length(F.regexp_replace(t, r"[A-Za-z0-9\s]", ""))
    punct_score = F.greatest(
        F.lit(1.0) - (punct / F.greatest(F.length(t), F.lit(1)).cast("double")) * 4.0,
        F.lit(0.0))
    stop_score = F.least(
        (F.col("__hit_en__").cast("double") / n_safe.cast("double")) * 5.0, F.lit(1.0))
    quality = length_score * 0.4 + punct_score * 0.3 + stop_score * 0.3

    word_chars = F.length(F.regexp_replace(t, r"[^A-Za-z0-9]", ""))
    other = F.length(F.regexp_replace(t, r"[A-Za-z0-9\s]", ""))
    n_subtokens = (F.ceil(word_chars / F.lit(4.0)) + other).cast("long")

    m61 = (1 << 61) - 1
    tok_h = F.transform(toks, lambda tk: md5_int64(tk) % F.lit(1 << 31))
    fingerprint = F.aggregate(
        tok_h, F.lit(0).cast("long"),
        lambda acc, h: ((acc % F.lit(1 << 41)) * F.lit(1000003) + h) % F.lit(m61))

    return hits.select(
        "id",
        lang_out.alias("lang_detected"),
        quality.alias("quality"),
        F.col("__n__").cast("int").alias("n_tokens"),
        n_subtokens.alias("n_subtokens"),
        fingerprint.alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# Repetition profile (Gopher-style repetitive-content signals)
# ---------------------------------------------------------------------------

def repetition_profile(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document repetition signals, the standard repetitive-content
    quality gates for web-scale corpora (cf. the "repetition removal"
    rules in Rae et al., *Scaling Language Models* (Gopher), §A.1.1 —
    public paper, heuristics reimplemented relationally):

    * ``dup_token_frac``  — 1 − distinct_tokens / tokens
    * ``top_token_frac``  — occurrences of the most frequent token / tokens
    * ``dup_bigram_frac`` — 1 − distinct_bigrams / bigrams (0.0 when < 2 tokens)

    Plan: explode tokens → per-(doc, token) counts → per-doc aggregate —
    corpus-linear with map-side partial combines, never per-doc
    quadratic work (the higher-order-function alternative
    ``max(transform(distinct, d -> size(filter(toks, = d))))`` is
    O(len²) per document, which a 1 MB pathological doc turns into 10¹²
    comparisons).  Bigrams are positional pairs from the same token
    array, counted the same way.  All ratios are int/int divisions in
    IEEE double — bit-identical in any engine.

    Zero-token documents emit NO row (the token explode has nothing to
    aggregate): a document with no tokens has no repetition to gate on
    and fails any minimal-length filter upstream anyway — join this
    profile back LEFT and treat missing as "no signal", not "clean".
    """
    base = spread(df).select(F.col(id_col).alias("id"),
                             tokens(F.col(text_col)).alias("__toks__"))
    toks = F.col("__toks__")
    n = F.size(toks)
    bigrams = F.when(n >= 2, F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat(F.element_at(toks, i), F.lit(" "),
                           F.element_at(toks, i + 1)),
    )).otherwise(F.array().cast("array<string>"))
    base = base.select("id", toks.alias("t"), bigrams.alias("b")).persist()

    tf = (base.select("id", F.explode("t").alias("tok"))
          .groupBy("id", "tok").agg(F.count("*").alias("c"))
          .groupBy("id").agg(F.sum("c").alias("n_tok"),
                             F.count("*").alias("n_distinct"),
                             F.max("c").alias("top_c")))
    bg = (base.select("id", F.explode("b").alias("bg"))
          .groupBy("id", "bg").agg(F.count("*").alias("c"))
          .groupBy("id").agg(F.sum("c").alias("n_bg"),
                             F.count("*").alias("n_bg_distinct")))
    out = (tf.join(bg, "id", "left")
           .select(
               F.col("id"),
               F.col("n_tok").cast("long").alias("n_tokens"),
               (F.lit(1.0) - F.col("n_distinct") / F.col("n_tok").cast("double"))
               .alias("dup_token_frac"),
               (F.col("top_c") / F.col("n_tok").cast("double"))
               .alias("top_token_frac"),
               F.when(F.col("n_bg").isNull(), F.lit(0.0))
               .otherwise(F.lit(1.0) - F.col("n_bg_distinct") / F.col("n_bg").cast("double"))
               .alias("dup_bigram_frac"),
           ))
    return out


def clean_corpus(df: DataFrame, text_col: str, id_col: str,
                 min_quality: float = 0.4, min_tokens: int = 20,
                 max_tokens: int = 2000,
                 max_dup_bigram: float = 0.2) -> DataFrame:
    """C4/Gopher-style cleaning gate in one operator: keep documents
    passing the classic heuristic trio — quality score ≥
    ``min_quality``, token count within ``[min_tokens, max_tokens]``,
    bigram-repetition fraction ≤ ``max_dup_bigram``.  Returns the
    surviving rows with the gate columns attached (``quality``,
    ``n_tokens``, ``dup_bigram_frac``) so downstream audits can see why
    a row survived.

    Plan: **entirely map-only** — the whole gate is ONE generator
    expression, ``inline(filter(transform(array(tokens), ...)))``, so
    it fuses into the scan stage with zero shuffles (the gate is the
    first thing a 100 TB ingest runs; a shuffle here would re-exchange
    the raw corpus).  The token array is bound as a higher-order-
    function lambda variable, so every signal — token count, stopword
    hits, bigram-repetition fraction — reads the SAME materialized
    array: the row tokenizes exactly once.  (The previous formulation
    computed ``quality`` / ``n_tokens`` / ``dup_bigram_frac`` as three
    projected columns over independently-derived token arrays, and
    CollapseProject re-inlined the split per consumer — each row
    tokenized ~3×; measured 3.7 s vs 1.6 s at sf0.1.)  ``inline`` over
    the filtered single-element struct array both appends the gate
    columns and drops failing rows in the same Generate node — no
    downstream Filter can re-inline the expression.  The bigram
    fraction is per-doc arithmetic (1 − distinct/total over the doc's
    own bigrams) — value-identical to :func:`repetition_profile`'s
    corpus-wide aggregate formulation, which remains the right tool
    when the *other* repetition signals (top-token share, dup-token
    fraction) are also needed.
    """
    # Single SQL string (one Py4J round-trip; see with_simhash for the
    # same pattern).  Bigrams via zip_with over two slices of the
    # lambda-bound array — O(len) per row even inside the lambda.
    sw = "array(" + ", ".join(f"'{w}'" for w in STOPWORDS["en"]) + ")"
    toks = f"filter(split(trim({text_col}), '\\\\s+'), t -> t <> '')"
    punct_ratio = (f"(length(regexp_replace({text_col}, '[A-Za-z0-9\\\\s]', ''))"
                   f" / cast(greatest(length({text_col}), 1) as double))")
    quality = (
        "(least(size(toks) / 20.0D, 1.0D) * 0.4D"
        f" + greatest(1.0D - {punct_ratio} * 4.0D, 0.0D) * 0.3D"
        f" + least((size(filter(toks, t -> array_contains({sw}, lower(t))))"
        " / cast(greatest(size(toks), 1) as double)) * 5.0D, 1.0D) * 0.3D)")
    dbf = ("case when size(toks) >= 2 then"
           " 1.0D - cast(size(array_distinct(zip_with("
           "slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1),"
           " (a, b) -> concat(a, ' ', b)))) as double)"
           " / cast(size(toks) - 1 as double) else 0.0D end")
    sig = (f"transform(array({toks}), toks -> struct("
           f"{quality} as quality, "
           "cast(size(toks) as bigint) as n_tokens, "
           f"{dbf} as dup_bigram_frac))")
    gate = (f"inline(filter({sig}, s -> s.quality >= {min_quality!r}D"
            f" and s.n_tokens >= {min_tokens} and s.n_tokens <= {max_tokens}"
            f" and s.dup_bigram_frac <= {max_dup_bigram!r}D))")
    return df.select("*", F.expr(gate))


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# RE2- and java.util.regex-compatible (no backrefs, no lookaround), so
# the same pattern strings run in Spark and in the DuckDB oracle.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"(\+?[0-9]{1,2}[-. ])?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}", "<PHONE>"),
    ("idnum", r"\b[0-9]{9,}\b", "<ID>"),
]


def pii_counts(col: Column) -> Column:
    """Struct of per-category match counts, each counted on the text as
    :func:`pii_redact` sees it — category k is counted on the text with
    categories 1..k-1 already replaced by their tokens.  This makes the
    counts agree with the tokens present in the redacted output: a span
    consumed by an earlier category (a ≥9-digit email local part, say)
    cannot be double-counted by a later one."""
    fields = []
    cur = col
    for name, pat, token in PII_PATTERNS:
        fields.append(
            F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0))).alias(name))
        cur = F.regexp_replace(cur, pat, token)
    return F.struct(*fields)


def pii_redact(col: Column) -> Column:
    """Replace every PII match with its category token.  Order matters:
    emails first (their local part may contain digit runs), then phones,
    then bare long digit runs."""
    out = col
    for _, pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


# ---------------------------------------------------------------------------
# Keyword extraction (per-doc top-k by term frequency, with corpus DF)
# ---------------------------------------------------------------------------

def keyword_topk(df: DataFrame, text_col: str, id_col: str, k: int = 3,
                 min_len: int = 3, max_df_frac: float = 1.0) -> DataFrame:
    """Top-k keywords per document by term frequency, with corpus
    document frequency attached — the deterministic inverted-index
    core of TF-IDF keyword extraction, kept in exact integer
    arithmetic (rank by ``tf desc, token asc``; the float idf weight is
    monotone in df and can be applied downstream without changing
    membership for fixed tf).

    Plan: normalize → explode → (doc, token) counts → token DF as a
    ``count(*) over (partition by token)`` window ON the tf aggregate
    (NOT a groupBy + self-join back: Catalyst does not CSE across
    DataFrame references, so the join form recomputes the whole
    explode+aggregate subtree — two corpus scans instead of one) →
    optional df-prune at ``max_df_frac`` of the corpus →
    ``row_number`` window per doc.  Shuffles: one hash aggregate on
    high-entropy (id, token), one window exchange on token, one on
    id — all corpus-linear; no collect, no quadratic term.
    Output: ``id, token, tf, df, rank``.
    """
    from pyspark.sql import Window

    norm = F.filter(
        F.transform(tokens(F.col(text_col)),
                    lambda t: F.regexp_replace(F.lower(t), r"[^a-z0-9]", "")),
        lambda t: F.length(t) >= min_len)
    tf = (spread(df).select(F.col(id_col).alias("id"), F.explode(norm).alias("token"))
          .groupBy("id", "token").agg(F.count("*").alias("tf")))
    tf = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("token"))
        .cast("long"))
    if max_df_frac < 1.0:
        # corpus size is one driver-side count job — only pay it when a
        # df-prune is actually requested
        n_docs = df.select(F.col(id_col)).distinct().count()
        tf = tf.filter(F.col("df") <= int(max_df_frac * n_docs))
    w = Window.partitionBy("id").orderBy(F.desc("tf"), F.asc("token"))
    return (tf.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("id", "token", "tf", "df", "rank"))


# ---------------------------------------------------------------------------
# Document chunking (overlapping token windows)
# ---------------------------------------------------------------------------

def chunk_documents(df: DataFrame, text_col: str, id_col: str,
                    chunk_tokens: int = 128, overlap: int = 32) -> DataFrame:
    """Split each document into overlapping token-window chunks — the
    standard pre-training / RAG-ingest step that turns long documents
    into model-sized pieces.

    Chunk starts are ``0, step, 2·step, …`` with ``step = chunk_tokens −
    overlap``; every start < n_tokens emits a chunk of up to
    ``chunk_tokens`` tokens (the final chunk may be shorter).  Documents
    with zero tokens emit nothing (consistent with the other text
    operators' empty-doc contract).

    Plan: tokenize → ``sequence``/``explode`` over the start offsets →
    ``slice`` + ``array_join`` — entirely map-side Catalyst expressions,
    ZERO shuffles; fan-out per doc is ⌈n/step⌉ rows, so output size is
    corpus-linear with factor ``chunk_tokens/step``.  At 100 TB the
    operator pipelines inside the scan stage; downstream partition
    sizing is handled by the byte-budget repartition helpers if chunks
    feed a sink.

    Output: ``doc_id, chunk_idx, start_token, n_tokens, chunk_text``.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    step = chunk_tokens - overlap
    t = (spread(df).select(F.col(id_col).alias("doc_id"),
                           tokens(F.col(text_col)).alias("__toks__"))
         .withColumn("__n__", F.size("__toks__"))
         .filter(F.col("__n__") > 0))
    starts = F.sequence(F.lit(0), F.col("__n__") - 1, F.lit(step))
    ex = t.select("doc_id", "__toks__",
                  F.explode(starts).alias("start_token"))
    chunk = F.slice(F.col("__toks__"), F.col("start_token") + 1, chunk_tokens)
    return ex.select(
        "doc_id",
        F.expr(f"cast(start_token div {step} as bigint)").alias("chunk_idx"),
        F.col("start_token").cast("long").alias("start_token"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"))


# ---------------------------------------------------------------------------
# Unigram LM surprisal (integer-bit, libm-free)
# ---------------------------------------------------------------------------

def unigram_surprisal(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Corpus-unigram LM scoring (the CCNet/quality-filter signal:
    documents whose tokens are all corpus-rare are outliers — boilerplate
    and gibberish score high, typical prose scores low), in **exact
    integer arithmetic** so an external oracle reproduces every value
    bit-for-bit.

    Per-token surprisal is quantized to whole bits:
    ``bits(t) = ⌊log2 N⌋ − ⌊log2 cnt(t)⌋``, computed as
    ``length(bin(N)) − length(bin(cnt))`` — integer-only, no libm ``ln``
    (this engine's float-determinism policy excludes libm-dependent
    functions from value-hashed contracts; see q_math_funcs).  The
    real-valued ``−ln p`` variant is monotone in the same counts and can
    be applied downstream where bit-exactness across engines is not
    required.

    Plan: explode tokens (map-only) → token-frequency groupBy (one
    shuffle on the token key, map-side combine) → re-join exploded
    tokens to frequencies (sort-merge on token — the vocabulary is NOT
    broadcast: at 100 TB the long tail of a web-scale vocabulary is
    far beyond broadcast size, and the join key is high-entropy) →
    per-doc aggregate (one shuffle on doc id).  All stages corpus-linear;
    the corpus total N is a one-row aggregate broadcast via cross join.
    The exploded token table is persisted because it feeds both the
    frequency aggregate and the scoring join (Catalyst does not CSE
    across DataFrame references).

    Output: ``doc_id, n_tokens, total_bits, mean_bits`` (mean is the
    exact-integer total divided by the exact count — one correctly
    rounded double op, deterministic).  Zero-token docs emit nothing.
    """
    t = (spread(df).select(F.col(id_col).alias("doc_id"),
                           F.explode(tokens(F.col(text_col))).alias("t"))
         .persist())
    freq = t.groupBy("t").agg(F.count("*").alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("n_corpus"))
    bits = F.length(F.bin(F.col("n_corpus"))) - F.length(F.bin(F.col("cnt")))
    return (t.join(freq, "t")
            .crossJoin(F.broadcast(total))
            .select("doc_id", bits.alias("bits"))
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_tokens"),
                 F.sum("bits").cast("long").alias("total_bits"))
            .withColumn("mean_bits",
                        F.col("total_bits").cast("double") / F.col("n_tokens")))


# ---------------------------------------------------------------------------
# BM25 ranked retrieval
# ---------------------------------------------------------------------------

def bm25_scores(df: DataFrame, text_col: str, id_col: str,
                query_terms: list[str], k1: float = 1.2,
                b: float = 0.75,
                corpus_stats: tuple[int, int] | None = None) -> DataFrame:
    """Okapi BM25 scores for ``query_terms`` over a document corpus —
    the ranking half of quality-aware retrieval (e.g. picking
    training-set exemplars for a topic).

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))   (Lucene's +1 form, ≥ 0).

    Plan: ONE Arrow (``mapInPandas``) pass emits per-document wide rows
    ``(id, dl, tf per term)`` — checkpointed executor-locally, ~(8 +
    8·|terms|) bytes per doc — then ONE aggregate produces N, Σdl and
    every per-term df as a single broadcast row, and the score is a
    static per-term sum in sorted-term order (an absent term adds
    +0.0), so the float result is reproducible by any engine folding
    in the same order.  A NULL document counts as empty (dl = 0).
    Why a kernel: the pure-Catalyst plan was the heaviest in PLANS.md
    (9 exchanges / 8 hash aggregates / a BNLJ — three corpus passes
    feeding four aggregation trees) and measured 1.22 s against the
    kernel's 0.52 s at sf0.1 (warm, noop sink, ``local[4]``).

    ``corpus_stats``: optional precomputed ``(n_docs, sum_dl)``.  The
    corpus aggregate is a full scan independent of the query; a
    production deployment computes it once per corpus snapshot and
    amortizes it across every BM25 query — passing it here overrides
    N and Σdl (the per-term df still comes from the one aggregate).

    Output: ``id, n_terms_hit, score`` for docs hitting ≥1 term — no
    rows when ``query_terms`` is empty.
    """
    terms = sorted({t.lower() for t in query_terms})
    id_type = df.schema[id_col].dataType.simpleString()
    if not terms:
        return df.sparkSession.createDataFrame(
            [], f"id {id_type}, n_terms_hit long, score double")
    tf_cols = [f"tf{i}" for i in range(len(terms))]
    schema = f"id {id_type}, dl long, " + ", ".join(
        f"{c} long" for c in tf_cols)

    def run(batches):
        import pandas as pd

        from ..functions.pykernels import py_tokens

        for pdf in batches:
            ids, dls = [], []
            tfs = [[] for _ in terms]
            for did, t in zip(pdf["__id__"], pdf["__t__"]):
                # str.lower == Spark's locale-independent lower for
                # ASCII and the standard Unicode mappings
                toks = [x.lower() for x in py_tokens(t)]
                ids.append(did)
                dls.append(len(toks))
                for slot, term in zip(tfs, terms):
                    slot.append(toks.count(term))
            out = {"id": ids, "dl": dls}
            for c, slot in zip(tf_cols, tfs):
                out[c] = slot
            yield pd.DataFrame(out)

    wide = (spread(df)
            .select(F.col(id_col).alias("__id__"),
                    F.col(text_col).alias("__t__"))
            .mapInPandas(run, schema)
            # scanned twice (stats aggregate + scoring) — materialize
            # the NARROW rows executor-locally so the kernel runs once;
            # (8 + 8·|terms|) bytes/doc, never the text
            .localCheckpoint(eager=False))

    df_cols = [f"df{i}" for i in range(len(terms))]
    aggs = [F.count("*").alias("n_docs"),
            F.sum("dl").alias("sum_dl")] + [
        F.sum((F.col(c) > 0).cast("long")).alias(d)
        for c, d in zip(tf_cols, df_cols)]
    corpus = wide.agg(*aggs)
    if corpus_stats is not None:
        n_docs_v, sum_dl_v = corpus_stats
        corpus = corpus.select(
            F.lit(int(n_docs_v)).alias("n_docs"),
            F.lit(int(sum_dl_v)).cast("long").alias("sum_dl"), *df_cols)

    j = wide.crossJoin(F.broadcast(corpus))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    # per-term contribution; +0.0 when the term is absent
    contribs = []
    hits = []
    for c, d in zip(tf_cols, df_cols):
        idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col(d) + F.lit(0.5))
                    / (F.col(d) + F.lit(0.5)))
        denom = F.col(c) + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b)
                                        * F.col("dl") / avgdl)
        contribs.append(F.when(F.col(c) > 0,
                               idf * F.col(c) * F.lit(k1 + 1.0) / denom)
                        .otherwise(F.lit(0.0)))
        hits.append((F.col(c) > 0).cast("long"))
    score = F.lit(0.0)
    for c in contribs:          # static fold in sorted-term order
        score = score + c
    n_hit = hits[0]
    for h in hits[1:]:
        n_hit = n_hit + h
    return (j.select("id", n_hit.alias("n_terms_hit"),
                     score.alias("score"))
            .filter(F.col("n_terms_hit") >= 1))


# ---------------------------------------------------------------------------
# Vocabulary statistics (Zipf head)
# ---------------------------------------------------------------------------

def vocab_topk(df: DataFrame, text_col: str, id_col: str,
               top: int = 200) -> DataFrame:
    """The ``top`` most frequent lowered tokens with occurrence count,
    document frequency and Zipf rank (ties broken by token text — fully
    deterministic).

    Plan: explode → one groupBy on the token key computing both
    occurrence count and document frequency (Spark expands the distinct
    aggregate; both stay map-side combinable) → distributed top-k
    (``TakeOrderedAndProject``, per-partition heaps + driver merge of
    ``top`` rows — the full web-scale vocabulary is never globally
    sorted or collected) → rank by ``row_number`` over the ``top``-row
    result (trivially small).
    """
    toks = (spread(df)
            .select(F.col(id_col).alias("id"),
                    F.explode(F.transform(tokens(F.col(text_col)),
                                          lambda t: F.lower(t))).alias("token")))
    counts = (toks.groupBy("token")
              .agg(F.count("*").alias("tf"),
                   F.countDistinct("id").alias("df")))
    head = counts.orderBy(F.desc("tf"), F.asc("token")).limit(top)
    from pyspark.sql import Window
    w = Window.orderBy(F.desc("tf"), F.asc("token"))
    return head.withColumn("rank", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------------
# Compression-ratio quality signal
# ---------------------------------------------------------------------------

def compression_ratio(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """zlib compressibility per document — the Gopher-style quality
    signal that catches boilerplate/templated text (compresses far
    below prose) and high-entropy noise (compresses above it).

    This is the one text operator off the Catalyst path: SQL has no
    zlib, so the ratio comes from an Arrow-batched pandas UDF
    (vectorized column transfer, never row-at-a-time Python).  zlib
    level 6 output is deterministic for a given zlib build, and the
    *ratio* is stable enough across builds for gating; the driver
    oracle pins per-doc sizes computed independently with Python's
    zlib as a literal VALUES table.  Map-only plan: projection + UDF,
    no shuffle beyond the spread() guard.

    Output: ``id, n_bytes, z_bytes, ratio`` (ratio = z/max(n,1)).
    """
    @F.pandas_udf("long")
    def zbytes(s: pd.Series) -> pd.Series:
        import zlib
        return s.map(lambda t: None if t is None
                     else len(zlib.compress(t.encode("utf-8"), 6)))

    out = (spread(df)
           .select(F.col(id_col).alias("id"), F.col(text_col).alias("__t__"))
           .withColumn("n_bytes", F.octet_length("__t__").cast("long"))
           .withColumn("z_bytes", zbytes(F.col("__t__"))))
    return (out.select(
        "id", "n_bytes", "z_bytes",
        (F.col("z_bytes").cast("double")
         / F.greatest(F.col("n_bytes"), F.lit(1))).alias("ratio")))


def winnow_fingerprints(df: DataFrame, text_col: str, id_col: str,
                        k: int = 8, w: int = 6) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03) — the MOSS near-dup/plagiarism sketch.

    Rolling char ``k``-gram hashes; over every window of ``w``
    consecutive hashes the minimum is selected; the distinct selected
    values (sorted) are the document's fingerprint set.  Guarantees at
    least one shared fingerprint for any common substring of length
    ``k + w - 1``.  A document with at most ``w`` grams selects its
    one minimum; NULL or shorter-than-``k`` text yields an empty set.

    The fingerprint set is what a downstream inverted-index join (same
    plan as :func:`~.dedup.ngram_jaccard_pairs`) buckets on; at 100 TB
    the selection step here cuts the index to ~2/(w+1) of the gram
    count.

    Plan: one Arrow ``mapInPandas`` pass over (id, text) — hashlib md5
    (C) per gram + numpy ``sliding_window_view`` min — map-only, zero
    shuffles; the per-batch state is one gram-hash array per document,
    so executor memory is bounded by the longest document, not the
    partition.  Why a kernel: the Catalyst form's higher-order-function
    lambdas are interpreted per gram (measured 2.42× of the DuckDB
    baseline at sf1, 0.56× with the kernel; 2.23 s vs 1.33 s at sf0.1,
    warm, noop sink, ``local[4]``).

    Output: ``id, n_grams, n_fps, fingerprints`` (sorted bigint array).
    """
    id_type = df.schema[id_col].dataType.simpleString()
    schema = (f"id {id_type}, n_grams long, n_fps long, "
              "fingerprints array<bigint>")

    def run(batches):
        import numpy as np
        import pandas as pd
        from numpy.lib.stride_tricks import sliding_window_view

        from ..functions.pykernels import gram_hashes

        for pdf in batches:
            ngs, nfs, fps = [], [], []
            for t in pdf["__t__"]:
                hs = gram_hashes(t, k)
                n = len(hs)
                if n == 0:
                    sel = hs
                elif n <= w:
                    sel = hs.min(keepdims=True)
                else:
                    sel = sliding_window_view(hs, w).min(axis=1)
                u = np.unique(sel)  # sorted distinct
                ngs.append(n)
                nfs.append(len(u))
                fps.append(u)
            yield pd.DataFrame({"id": pdf["__id__"].to_numpy(),
                                "n_grams": ngs, "n_fps": nfs,
                                "fingerprints": fps})

    return (spread(df)
            .select(F.col(id_col).alias("__id__"),
                    F.col(text_col).alias("__t__"))
            .mapInPandas(run, schema))


def bigram_lm_topk(df: DataFrame, text_col: str, id_col: str,
                   topk: int = 3) -> DataFrame:
    """Corpus bigram language-model head: for each unigram ``w1``, the
    ``topk`` most frequent successors with exact conditional
    probabilities ``p = count(w1,w2) / count(w1·)``.

    The n-gram-count step every classic LM / data-quality pipeline
    runs.  Plan: map-only adjacent-pair explode → ``groupBy(w1, w2)``
    count (partial aggregation absorbs hot bigrams map-side) → one
    window partitioned by ``w1`` for the successor total + rank.  The
    window partitions are vocabulary-bounded (≤ distinct successors of
    one unigram), never corpus-bounded, so no reducer sees more than
    vocab-sized state at any corpus scale.  Ties rank by ``w2`` asc —
    fully deterministic.

    Output: ``w1, w2, cnt, w1_total, p, rank`` for rank ≤ topk.
    """
    from pyspark.sql import Window

    toks = tokens(F.col(text_col))

    # Adjacent pairs via zip_with over two slices of the LAMBDA-BOUND
    # token array (the clean_corpus idiom): `ts` is a materialized
    # higher-order-function variable, so each slice is O(n) on the
    # evaluated array.  The earlier `element_at(toks, i)`-per-index
    # form re-evaluated the tokenization (a full split of the document)
    # for every pair — O(n²) per document.  Short docs (< 2 tokens)
    # short-circuit to an empty pair list.
    def _pairs(ts):
        n = F.size(ts)
        return F.when(
            n >= 2,
            F.zip_with(F.slice(ts, 1, n - 1), F.slice(ts, 2, n - 1),
                       lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))),
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))

    pairs = F.element_at(F.transform(F.array(toks), _pairs), 1)
    bi = (spread(df).select(F.explode(pairs).alias("p"))
          .select("p.w1", "p.w2")
          .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt")))
    # Both windows share the same partitioning AND ordering (the total
    # uses an unbounded frame, so the sort is harmless) — one Exchange,
    # one Sort, one Window node instead of two.
    rank = Window.partitionBy("w1").orderBy(F.col("cnt").desc(), F.col("w2"))
    win = rank.rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing)
    return (bi.withColumn("w1_total", F.sum("cnt").over(win))
            .withColumn("rank", F.row_number().over(rank))
            .where(F.col("rank") <= topk)
            .select("w1", "w2",
                    F.col("cnt").cast("long").alias("cnt"),
                    F.col("w1_total").cast("long").alias("w1_total"),
                    (F.col("cnt") / F.col("w1_total")).alias("p"),
                    F.col("rank").cast("long").alias("rank")))


# ---------------------------------------------------------------------------
# BPE merge-candidate counting (tokenizer training's inner loop)
# ---------------------------------------------------------------------------

def bpe_pair_counts(df: DataFrame, text_col: str, id_col: str,
                    topk: int = 20) -> DataFrame:
    """Adjacent-character-pair frequencies over the corpus vocabulary —
    the first merge-candidate scan of byte-pair-encoding tokenizer
    training (Sennrich et al., "Neural Machine Translation of Rare
    Words with Subword Units", ACL'16): every word contributes its
    adjacent symbol pairs weighted by the word's corpus frequency; the
    top pair is the next BPE merge.

    Scale shape: the corpus-sized pass is ONE word-count groupBy
    (partial aggregation — hot words combine map-side).  Pair explosion
    then runs over the DISTINCT vocabulary, weighted by the counts, so
    the quadratic-ish per-word work is vocabulary-bounded, not
    corpus-bounded — the classic aggregate-then-expand rewrite.  The
    pair array reads the LAMBDA-BOUND word (``w``) so the substring
    per position is O(2) on the materialized value.

    Output: ``pair, cnt, rank`` (rank ≤ topk; ties → pair asc).
    """
    from pyspark.sql import Window

    words = (spread(df)
             .select(F.explode(tokens(F.col(text_col))).alias("w"))
             .groupBy("w").agg(F.count(F.lit(1)).alias("wc")))
    pairs = F.when(
        F.length(F.col("w")) >= 2,
        F.element_at(
            F.transform(
                F.array(F.col("w")),
                lambda w: F.transform(
                    F.sequence(F.lit(1), F.length(w) - 1),
                    lambda i: w.substr(i, F.lit(2)))), 1),
    ).otherwise(F.array().cast("array<string>"))
    counts = (words.select(F.col("wc"), F.explode(pairs).alias("pair"))
              .groupBy("pair").agg(F.sum("wc").alias("cnt")))
    rank = Window.orderBy(F.col("cnt").desc(), F.col("pair"))
    # the global rank window only ever sees the pair-vocabulary
    # aggregate (symbol-pair cardinality, not corpus cardinality)
    return (counts.withColumn("rank", F.row_number().over(rank))
            .where(F.col("rank") <= topk)
            .select("pair", F.col("cnt").cast("long").alias("cnt"),
                    F.col("rank").cast("long").alias("rank")))


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction
# ---------------------------------------------------------------------------

def tfidf_topk(df: DataFrame, text_col: str, id_col: str,
               k: int = 3) -> DataFrame:
    """Top-``k`` TF-IDF terms per document: ``tf = count in doc``,
    ``idf = ln((N + 1) / (df_t + 1))`` (smoothed), score = tf·idf —
    the classic per-document keyword extractor (idf distinguishes it
    from :func:`keyword_topk`'s raw-tf form).

    Plan: one explode → per-(doc, term) counts (partial agg); document
    frequencies as ``count(*) OVER (PARTITION BY term)`` over that SAME
    aggregate — one lineage, so the corpus is exploded once (a separate
    ``groupBy(term)`` + join back re-evaluates the explode as the probe
    side: one extra corpus scan and one extra exchange for identical
    shuffle bytes — the tf rows are already one-per-(doc,term), so
    partial aggregation has nothing to combine for the df count
    either way).  The N scalar is a broadcast one-row cross join.
    Final per-doc top-k is a window bounded by the document's own
    distinct-term count.  ``ln`` is NOT bit-portable across engines
    (JVM Math.log and glibc log differ in the last ulp for some
    inputs — e.g. log(3.0); measured by the property test) — the
    round-6 contract projection absorbs that, and integer (tf, df)
    gaps dwarf one ulp so rankings cannot flip.

    Output: ``id, term, tf, df, score, rank`` (rank ≤ k; ties → term asc).
    """
    from pyspark.sql import Window

    tf = (spread(df)
          .select(F.col(id_col).alias("id"),
                  F.explode(tokens(F.col(text_col))).alias("term"))
          .groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf")))
    n_docs = df.select(F.count(F.lit(1)).alias("__n__"))
    dfw = Window.partitionBy("term")
    scored = (tf.withColumn("df", F.count(F.lit(1)).over(dfw))
              .crossJoin(F.broadcast(n_docs))
              .select("id", "term", "tf", "df",
                      (F.col("tf")
                       * F.log((F.col("__n__") + F.lit(1)).cast("double")
                               / (F.col("df") + F.lit(1)).cast("double")))
                      .alias("score")))
    w = Window.partitionBy("id").orderBy(F.col("score").desc(), F.col("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("id", "term", F.col("tf").cast("long").alias("tf"),
                    F.col("df").cast("long").alias("df"), "score",
                    F.col("rank").cast("long").alias("rank")))


# ---------------------------------------------------------------------------
# Cross-document novelty (how much of a doc is already in earlier docs)
# ---------------------------------------------------------------------------

def doc_novelty(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document novelty against the id-ordered prefix corpus: the
    fraction of the document's DISTINCT bigrams not seen in any
    document with a smaller id — the curation signal for incremental
    ingestion ("how much genuinely new content does this shard add?",
    the aggregate form of the per-batch dedup decision).

    Plan: bigram explode → distinct (doc, bigram) via groupBy [partial
    agg] → global first-seer per bigram as ``min(id) OVER (PARTITION BY
    bg)`` over that SAME aggregate — one lineage, so the corpus is
    exploded once (a separate ``groupBy(bg)`` + join back re-evaluates
    the explode as the probe side; the distinct rows offer the min
    nothing to combine map-side either way) → per-doc mean of
    ``first_seer == own id``.  Nothing quadratic, nothing corpus-wide
    in one reducer; the widest window partition is a bigram's document
    frequency.

    Output: ``id, n_bigrams, n_novel, novelty`` (novelty = n_novel /
    n_bigrams; documents with < 2 tokens report 0 bigrams, novelty 1.0
    by convention — an empty doc adds nothing but duplicates nothing).
    """
    toks = tokens(F.col(text_col))

    def _bigrams(ts):
        n = F.size(ts)
        return F.when(
            n >= 2,
            F.zip_with(F.slice(ts, 1, n - 1), F.slice(ts, 2, n - 1),
                       lambda a, b: F.concat(a, F.lit(" "), b)),
        ).otherwise(F.array().cast("array<string>"))

    from pyspark.sql import Window

    bg = (spread(df)
          .select(F.col(id_col).alias("id"),
                  F.explode(F.element_at(
                      F.transform(F.array(toks), _bigrams), 1)).alias("bg"))
          .groupBy("id", "bg").agg(F.count(F.lit(1)).alias("_c")))
    first_id = F.min("id").over(Window.partitionBy("bg"))
    per_doc = (bg.withColumn("first_id", first_id)
               .groupBy("id")
               .agg(F.count(F.lit(1)).alias("n_bigrams"),
                    F.sum(F.when(F.col("first_id") == F.col("id"), 1)
                          .otherwise(0)).alias("n_novel")))
    base = df.select(F.col(id_col).alias("id"))
    return (base.join(per_doc, "id", "left")
            .select("id",
                    F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long")
                     .alias("n_bigrams"),
                    F.coalesce(F.col("n_novel"), F.lit(0)).cast("long")
                     .alias("n_novel"),
                    F.when(F.coalesce(F.col("n_bigrams"), F.lit(0)) == 0,
                           F.lit(1.0))
                     .otherwise(F.col("n_novel").cast("double")
                                / F.col("n_bigrams").cast("double"))
                     .alias("novelty")))


def bpe_train(df: DataFrame, text_col: str, id_col: str,
              n_merges: int = 10) -> list[tuple[str, str]]:
    """Iterative BPE tokenizer training (Sennrich et al., ACL'16): run
    ``n_merges`` rounds of count-pairs → pick the most frequent → merge
    it greedily left-to-right in every vocabulary word.  Returns the
    ordered merge list — the artifact a BPE tokenizer ships.

    Spark-first iterative shape (the :func:`~.graph.pagerank`
    discipline applied to text): the corpus is touched ONCE (word-count
    groupBy, partial agg); every round then runs on the distinct
    vocabulary weighted by counts — pair counting is a
    vocabulary-bounded explode+groupBy, the argmax is a
    TakeOrderedAndProject of ONE row (the only driver collect,
    metadata-sized), and the merge application is a map-only Catalyst
    fold over each word's symbol array (greedy left-to-right, standard
    BPE semantics: ``aab`` + merge (a,a) → ``[aa, b]``, not
    ``[a, ab]``).  ``localCheckpoint`` truncates the per-round lineage.
    Ties break toward the lexicographically smaller pair —
    deterministic across runs and engines.
    """
    vocab = (spread(df)
             .select(F.explode(tokens(F.col(text_col))).alias("w"))
             .groupBy("w").agg(F.count(F.lit(1)).alias("wc"))
             .select(F.expr("transform(sequence(1, length(w)), "
                            "i -> substring(w, i, 1))").alias("syms"),
                     "wc")
             .localCheckpoint(eager=False))
    merges: list[tuple[str, str]] = []
    for _ in range(max(n_merges, 0)):
        pairs = (vocab.where(F.size("syms") >= 2)
                 .select("wc", F.explode(F.expr(
                     "transform(sequence(1, size(syms) - 1), "
                     "i -> struct(element_at(syms, i) as a, "
                     "element_at(syms, i + 1) as b))")).alias("p"))
                 .groupBy("p.a", "p.b").agg(F.sum("wc").alias("cnt")))
        top = (pairs.orderBy(F.col("cnt").desc(), F.col("a"), F.col("b"))
               .limit(1).collect())
        if not top:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        merged = f"concat({a!r}, {b!r})"
        # greedy left-to-right fold: append each symbol unless it forms
        # (a, b) with the CURRENT last element of the accumulator
        fold = (
            "aggregate(syms, cast(array() as array<string>), (acc, s) -> "
            f"case when size(acc) > 0 and element_at(acc, -1) = {a!r} "
            f"and s = {b!r} "
            "then concat(slice(acc, 1, size(acc) - 1), "
            f"array({merged})) "
            "else concat(acc, array(s)) end)")
        vocab = (vocab.select(F.expr(fold).alias("syms"), "wc")
                 .localCheckpoint(eager=False))
    return merges


def bpe_apply(df: DataFrame, text_col: str, id_col: str,
              merges: list[tuple[str, str]]) -> DataFrame:
    """Distributed BPE tokenizer INFERENCE: apply an ordered merge list
    (from :func:`bpe_train` or any trained tokenizer) to every
    document — per word, split to characters, then fold each merge in
    training order with the same greedy left-to-right semantics the
    trainer used.

    Map-only: the merges ride as literals inside one composed Catalyst
    expression (n_merges chained array folds per word — expression
    depth grows with the merge count, which is why production
    tokenizers cap the hot-path merge list; the corpus never
    shuffles).  Output: ``id, n_words, n_tokens, tokens``
    (``array<string>`` of subword units in document order).
    """
    word_syms = "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
    expr = word_syms
    for a, b in merges:
        expr = (
            f"aggregate({expr}, cast(array() as array<string>), (acc, s) -> "
            f"case when size(acc) > 0 and element_at(acc, -1) = {a!r} "
            f"and s = {b!r} "
            "then concat(slice(acc, 1, size(acc) - 1), "
            f"array(concat({a!r}, {b!r}))) "
            "else concat(acc, array(s)) end)")
    per_word = (f"transform(toks, w -> {expr})")
    packed = (f"transform(array(filter(split(trim({text_col}), '\\\\s+'), "
              f"t -> t <> '')), toks -> flatten({per_word}))")
    return (spread(df)
            .select(F.col(id_col).alias("id"),
                    token_count(F.col(text_col)).cast("long")
                     .alias("n_words"),
                    F.expr(f"element_at({packed}, 1)").alias("tokens"))
            .select("id", "n_words",
                    F.size("tokens").cast("long").alias("n_tokens"),
                    "tokens"))


def _unigram_viterbi(word: str, logp: dict, max_piece_len: int,
                     unk_logp: float) -> list:
    """Max-probability segmentation of one word under a unigram piece
    LM (Kudo, ACL'18 §3 — the inference half of SentencePiece's
    unigram model): DP over end positions, candidates scanned from the
    LONGEST in-window piece down (``i`` ascending), strict ``>``
    comparison — so ties deterministically prefer the longer final
    piece, the rule the oracle replication and the trainer both pin.
    Out-of-vocabulary single characters score ``unk_logp`` (coverage:
    any string segments)."""
    n = len(word)
    best: list = [0.0] + [None] * n
    back = [0] * (n + 1)
    for j in range(1, n + 1):
        bs, bi = None, 0
        for i in range(max(0, j - max_piece_len), j):
            if best[i] is None:
                continue
            s = logp.get(word[i:j])
            if s is None:
                if j - i != 1:
                    continue
                s = unk_logp
            cand = best[i] + s
            if bs is None or cand > bs:
                bs, bi = cand, i
        best[j], back[j] = bs, bi
    pieces: list = []
    j = n
    while j > 0:
        i = back[j]
        pieces.append(word[i:j])
        j = i
    pieces.reverse()
    return pieces


_UNK_OFFSET = 10.0  # unk single-char penalty below the rarest piece


def _unk_logp(logp: dict) -> float:
    return (min(logp.values()) if logp else 0.0) - _UNK_OFFSET


def unigram_train(df: DataFrame, text_col: str, vocab_size: int = 200,
                  max_piece_len: int = 4, iters: int = 2,
                  ) -> list[tuple[str, float]]:
    """Unigram-LM tokenizer training (Kudo, ACL'18), hard-EM/Viterbi
    variant — the OTHER major subword family next to :func:`bpe_train`
    (SentencePiece ships both).  Returns ``[(piece, logp), ...]``
    sorted by piece — the artifact a unigram tokenizer ships.

    Spark-first iterative shape (the :func:`bpe_train` discipline):
    the corpus is touched ONCE (word-count groupBy, partial agg — at
    100 TB the distinct-word vocabulary is ~10⁷ rows, metadata next to
    the corpus); seeding explodes each distinct word's ≤``L``-char
    substrings weighted by word count (vocabulary-bounded, exact
    integer sums — no float order-dependence crosses an exchange),
    takes the top ``vocab_size`` by (count desc, piece asc) plus ALL
    single characters (coverage guarantee); each hard-EM round then
    re-segments only the distinct words under the broadcast piece
    table (Arrow-batched ``mapInPandas``), re-counts piece uses
    (integer groupBy), and re-estimates ``logp = ln(cnt/total)``
    driver-side on the vocab-sized count table.  Pieces that win no
    uses are pruned; single characters persist with count ≥ 1 so
    coverage never regresses.  Every float is computed driver-side
    from exact integers — bit-reproducible, which is what lets the
    oracle replication pin segmentations value-exactly.
    """
    if max_piece_len < 1:
        raise ValueError(f"max_piece_len must be >= 1, got {max_piece_len}")
    import math

    words = (spread(df)
             .select(F.explode(tokens(F.col(text_col))).alias("w"))
             .groupBy("w").agg(F.count(F.lit(1)).alias("wc"))
             .persist())
    try:
        sub = words.select("wc", F.explode(F.expr(
            "flatten(transform(sequence(1, length(w)), i -> "
            f"transform(sequence(i, least(i + {max_piece_len - 1}, "
            "length(w))), j -> substring(w, i, j - i + 1))))"))
            .alias("piece"))
        counts = sub.groupBy("piece").agg(F.sum("wc").alias("cnt"))
        top = (counts.orderBy(F.col("cnt").desc(), "piece")
               .limit(vocab_size).collect())
        chars = counts.where(F.length("piece") == 1).collect()
        cnt = {r["piece"]: int(r["cnt"]) for r in top}
        for r in chars:
            cnt.setdefault(r["piece"], int(r["cnt"]))
        single = [p for p in cnt if len(p) == 1]

        def probs(c: dict) -> dict:
            tot = sum(c.values())
            return {p: math.log(v / tot) for p, v in c.items()}

        lp = probs(cnt)
        for _ in range(max(iters, 0)):
            seg = _segment_words(words, lp, max_piece_len)
            used = {r["piece"]: int(r["cnt"]) for r in
                    seg.groupBy("piece").agg(
                        F.sum("cnt").alias("cnt")).collect()}
            nxt = {p: v for p, v in used.items() if v > 0}
            for ch in single:
                nxt[ch] = max(nxt.get(ch, 0), 1)
            lp = probs(nxt)
        return sorted(lp.items())
    finally:
        words.unpersist()


def _segment_words(words: DataFrame, logp: dict,
                   max_piece_len: int) -> DataFrame:
    """Viterbi-segment each distinct word; one output row per (word,
    piece) use, pre-weighted by the word's corpus count.  Arrow-batched
    map-only pass — the piece table rides as a task closure
    (vocab-sized, ~KBs)."""
    from pyspark.sql import types as T

    unk = _unk_logp(logp)
    out_schema = T.StructType([
        T.StructField("piece", T.StringType(), False),
        T.StructField("cnt", T.LongType(), False),
    ])

    def run(batches):
        for pdf in batches:
            ps, cs = [], []
            for w, wc in zip(pdf["w"], pdf["wc"]):
                for p in _unigram_viterbi(str(w), logp, max_piece_len, unk):
                    ps.append(p)
                    cs.append(int(wc))
            yield pd.DataFrame({"piece": pd.array(ps, dtype="string"),
                                "cnt": pd.array(cs, dtype="int64")})

    return words.mapInPandas(run, schema=out_schema)


def unigram_apply(df: DataFrame, text_col: str, id_col: str,
                  vocab: list[tuple[str, float]]) -> DataFrame:
    """Distributed unigram tokenizer INFERENCE: Viterbi-segment every
    whitespace word of every document under a trained piece table
    (:func:`unigram_train` or any shipped unigram vocab).  Map-only:
    the vocab rides as a task closure (vocab-sized), the corpus never
    shuffles.  Out-of-vocabulary single characters segment at the unk
    floor, so any input tokenizes (the coverage contract).  Output:
    ``id, n_words, n_tokens, tokens`` (``array<string>`` of subword
    units in document order) — the :func:`bpe_apply` shape, so the two
    tokenizer families are drop-in comparable.
    """
    from pyspark.sql import types as T

    logp = dict(vocab)
    max_piece_len = max((len(p) for p in logp), default=1)
    unk = _unk_logp(logp)
    out_schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("n_words", T.LongType(), False),
        T.StructField("n_tokens", T.LongType(), False),
        T.StructField("tokens", T.ArrayType(T.StringType(), False), False),
    ])

    def run(batches):
        for pdf in batches:
            ids, nw, nt, tk = [], [], [], []
            for did, text in zip(pdf["id"], pdf["t"]):
                ws = str(text).split() if text is not None else []
                toks: list = []
                for w in ws:
                    toks.extend(
                        _unigram_viterbi(w, logp, max_piece_len, unk))
                ids.append(int(did))
                nw.append(len(ws))
                nt.append(len(toks))
                tk.append(toks)
            yield pd.DataFrame({"id": pd.array(ids, dtype="int64"),
                                "n_words": pd.array(nw, dtype="int64"),
                                "n_tokens": pd.array(nt, dtype="int64"),
                                "tokens": pd.Series(tk, dtype="object")})

    return (spread(df)
            .select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
            .mapInPandas(run, schema=out_schema))


def normalize_text(df: DataFrame, text_col: str, id_col: str,
                   strip_urls: bool = True,
                   strip_emails: bool = True) -> DataFrame:
    """Canonical text normalization — the first pass of every corpus
    pipeline (dedup keys, tokenizer input, contamination checks all
    assume it): Unicode NFC composition, lowercasing, URL/email
    removal, whitespace collapse + trim.

    The URL/email strip and whitespace collapse are JVM-side
    ``regexp_replace`` (whole-stage codegen); only the NFC composition
    crosses into Python, as an Arrow-batched ``pandas_udf`` over
    ``unicodedata.normalize`` (ASCII-only corpora pass through it
    unchanged; it exists for the composed/decomposed-codepoint
    collisions — e.g. ``é`` vs ``e + U+0301`` — that silently defeat
    exact dedup).  Order: NFC → lower → strip → collapse, so the
    regexes see composed lowercase text.

    Output: ``id, text (normalized), n_chars, changed (bool)``.
    """
    import unicodedata

    @F.pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        return s.map(lambda x: unicodedata.normalize("NFC", x)
                     if x is not None else None)

    t = F.lower(_nfc(F.col(text_col)))
    if strip_urls:
        t = F.regexp_replace(t, r"\bhttps?://\S+", " ")
    if strip_emails:
        t = F.regexp_replace(t, r"\b[\w.+-]+@[\w-]+(\.[\w-]+)+\b", " ")
    t = F.trim(F.regexp_replace(t, r"\s+", " "))
    return (spread(df)
            .select(F.col(id_col).alias("id"),
                    F.col(text_col).alias("__orig__"),
                    t.alias("text"))
            .select("id", "text",
                    F.length("text").cast("long").alias("n_chars"),
                    (~F.col("text").eqNullSafe(F.col("__orig__")))
                     .alias("changed")))


def content_chunks(df: DataFrame, text_col: str, id_col: str,
                   k: int = 8, mask_bits: int = 6) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS rolling-hash technique;
    Muthitacharoen et al., "A Low-Bandwidth Network File System",
    SOSP'01): cut each document where the char ``k``-gram hash ends a
    window whose value ≡ 0 (mod ``2^mask_bits``) — so chunk boundaries
    follow CONTENT, not offsets, and an insertion early in a document
    shifts only the one chunk it lands in (fixed-offset chunking would
    shift every later boundary).  The standard primitive for
    block-level dedup of near-identical documents: shared chunk hashes
    = shared storage/processing.

    Expected chunk length ≈ ``2^mask_bits`` chars.  A gram starting at
    char ``i`` whose hash matches cuts at char ``i + k - 1``; the final
    chunk always ends at the document end.  Positions and lengths count
    characters, not bytes.  NULL/empty documents emit no rows.

    Plan: one Arrow ``mapInPandas`` pass (hashlib md5 per gram, numpy
    boundary scan) — map-only, zero shuffles.  Why a kernel: the
    Catalyst form's interpreted higher-order-function lambdas measured
    4.16× of the DuckDB baseline at sf1 — the worst of the
    corpus-linear tail — and 1.40× with the kernel (1.74 s vs 1.16 s at
    sf0.1, warm, noop sink, ``local[4]``).

    Output: ``id, chunk_idx (1-based), start_char (1-based), length,
    chunk_hash`` (60-bit portable md5 of the chunk text).
    """
    id_type = df.schema[id_col].dataType.simpleString()
    schema = (f"id {id_type}, chunk_idx long, start_char long, "
              "length long, chunk_hash long")
    m = 1 << mask_bits

    def run(batches):
        import numpy as np
        import pandas as pd

        from ..functions.pykernels import gram_hashes, md5_60

        for pdf in batches:
            ids, cidx, starts, lens, chashes = [], [], [], [], []
            for did, t in zip(pdf["__id__"], pdf["__t__"]):
                if t is None or len(t) == 0:
                    continue
                hs = gram_hashes(t, k)
                # 1-based gram cut indices -> 1-based char end positions
                cuts = np.flatnonzero(hs % m == 0) + 1
                ends = np.unique(np.concatenate(
                    [cuts + (k - 1), np.array([len(t)], np.int64)]))
                start = 1
                for j, e in enumerate(ends, start=1):
                    e = int(e)
                    chunk = t[start - 1:e]
                    ids.append(did)
                    cidx.append(j)
                    starts.append(start)
                    lens.append(e - start + 1)
                    chashes.append(md5_60(chunk.encode("utf-8")))
                    start = e + 1
            yield pd.DataFrame({"id": ids, "chunk_idx": cidx,
                                "start_char": starts, "length": lens,
                                "chunk_hash": chashes})

    return (spread(df)
            .select(F.col(id_col).alias("__id__"),
                    F.col(text_col).alias("__t__"))
            .mapInPandas(run, schema))


# ---------------------------------------------------------------------------
# Corpus drift monitoring
# ---------------------------------------------------------------------------

def vocab_drift(df_a: DataFrame, df_b: DataFrame, text_col: str,
                top: int = 30) -> DataFrame:
    """Token-distribution drift between two corpus snapshots — the
    continuous-ingestion QA gauge (did yesterday's crawl change what
    the corpus talks about?): unigram probabilities ``p`` (snapshot A)
    and ``q`` (snapshot B) over the union vocabulary, reported as the
    ``top`` tokens by absolute probability shift together with each
    token's Jensen-Shannon divergence contribution
    ``½·p·ln(p/m) + ½·q·ln(q/m)``, ``m = (p+q)/2`` (zero counts
    contribute zero — the standard JS convention, no smoothing
    needed because JS is finite at the boundary).

    Plan — ONE shuffle for the whole gauge: both snapshots explode
    into (token, side) rows and a single tagged union feeds one
    ``groupBy(token)`` with conditional sums, so ``cnt_a``/``cnt_b``
    come out of one exchange (a full-outer join of two per-side
    aggregates computes the same table with 4 shuffle stages and ~8
    AQE stage barriers — measured 2× the wall at sf0.1).  Totals are
    one more vocab-sized aggregate broadcast back as a one-row cross
    join; the per-token arithmetic is single-expression bit-
    reproducible pure libm, and the global top-k is
    ``TakeOrderedAndProject`` (never a rank window over the whole
    vocabulary).  Nothing holds vocabulary-sized state on the driver.
    """
    def side(d: DataFrame, tag: int):
        return (spread(d)
                .select(F.explode(tokens(F.col(text_col))).alias("token"),
                        F.lit(tag).alias("side")))

    u = side(df_a, 0).unionByName(side(df_b, 1))
    counts = (u.groupBy("token")
              .agg(F.sum(F.when(F.col("side") == 0, 1).otherwise(0))
                    .alias("cnt_a"),
                   F.sum(F.when(F.col("side") == 1, 1).otherwise(0))
                    .alias("cnt_b")))
    tot = counts.agg(F.sum("cnt_a").alias("tot_cnt_a"),
                     F.sum("cnt_b").alias("tot_cnt_b"))
    j = counts.crossJoin(F.broadcast(tot))
    p = F.col("cnt_a") / F.col("tot_cnt_a").cast("double")
    q = F.col("cnt_b") / F.col("tot_cnt_b").cast("double")
    sel = j.select("token",
                   F.col("cnt_a").cast("long").alias("cnt_a"),
                   F.col("cnt_b").cast("long").alias("cnt_b"),
                   p.alias("p"), q.alias("q"))
    m = (F.col("p") + F.col("q")) / F.lit(2.0)
    js = (F.lit(0.5) * F.when(F.col("p") > 0,
                              F.col("p") * F.log(F.col("p") / m))
           .otherwise(F.lit(0.0))
          + F.lit(0.5) * F.when(F.col("q") > 0,
                                F.col("q") * F.log(F.col("q") / m))
             .otherwise(F.lit(0.0)))
    return (sel.withColumn("js_term", js)
            .orderBy(F.abs(F.col("p") - F.col("q")).desc(),
                     F.col("token").asc())
            .limit(top))


def dup_ngram_stats(df: DataFrame, text_col: str, group_col: str,
                    n: int = 8) -> DataFrame:
    """Corpus-level duplicate n-gram rate per group (the measurement
    behind Lee et al. 2022's "Deduplicating Training Data Makes
    Language Models Better" analysis): for each group (source,
    snapshot, ...), the fraction of word-``n``-gram OCCURRENCES that
    are repeats of an earlier occurrence —
    ``dup_frac = 1 − distinct/total`` — plus the raw totals.  High
    ``dup_frac`` flags internally-repetitive sources (boilerplate
    mirrors, templated spam) before any pairwise dedup runs.

    Plan: lambda-bound n-gram explode (each gram sliced from the
    materialized token array — O(tokens·n) per doc, never a
    re-tokenize per position) → one partial-aggregating
    ``groupBy(group, gram)`` → a group-bounded final aggregate.  Both
    counts come out of the same aggregate (``sum``/``count`` over the
    per-gram rows), so the corpus is exploded exactly once.

    Why there is no Arrow (``mapInPandas``) form: one that pre-aggregated
    (group, gram) counts per partition MEASURED EQUAL at sf1 (arrow
    1.58 s vs sql 1.63 s, round 11) and the attribution shows why:
    in-worker compute is 0.27 s — the wall is the corpus-sized distinct
    exchange, because word-8-grams are ~100% unique (2.36 M grams,
    2.36 M distinct at sf1), so local pre-aggregation collapses NOTHING
    and every gram must cross to its reducer exactly once on either
    path.  That exchange is the operator's floor on any multi-process
    engine, so the one form is the pure-Catalyst plan (no Python-worker
    dependency, whole plan JVM-side).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    toks = tokens(F.col(text_col))

    def _grams(ts):
        cnt = F.size(ts) - F.lit(n - 1)
        return F.when(
            cnt >= 1,
            F.transform(F.sequence(F.lit(1), cnt),
                        lambda i: F.array_join(F.slice(ts, i, n),
                                               " "))).otherwise(
            F.array().cast("array<string>"))

    grams = F.element_at(F.transform(F.array(toks), _grams), 1)
    per_gram = (spread(df)
                .select(F.col(group_col).alias("grp"),
                        F.explode(grams).alias("gram"))
                .groupBy("grp", "gram").agg(F.count(F.lit(1)).alias("cnt")))
    return (per_gram.groupBy("grp")
            .agg(F.sum("cnt").cast("long").alias("total_ngrams"),
                 F.count(F.lit(1)).cast("long").alias("distinct_ngrams"))
            .withColumn("dup_frac",
                        F.lit(1.0) - F.col("distinct_ngrams")
                        / F.col("total_ngrams").cast("double"))
            .select(F.col("grp").alias(group_col), "total_ngrams",
                    "distinct_ngrams", "dup_frac"))


def token_fertility(df: DataFrame, text_col: str, lang_col: str) -> DataFrame:
    """Tokenizer fertility per language — the tokenizer-QA gauge
    (Rust et al. 2021, "How Good is Your Tokenizer?"): sub-tokens per
    whitespace word (``fertility``) and characters per sub-token, by
    language.  High fertility for a language means the tokenizer
    fragments its words — that language pays more sequence length for
    the same text, skewing both training cost and effective context.
    Uses :func:`word_token_count`'s deterministic BPE-ish proxy (the
    container has no tokenizer libs; the shape of the gauge is the
    deliverable, and the proxy is engine-portable).

    One scan → per-language partial aggregate (language-bounded rows);
    ratios are single divisions over exact integer sums —
    bit-reproducible.  Output: ``lang, n_docs, n_words, n_subwords,
    n_chars, fertility, chars_per_subword``.
    """
    base = spread(df).select(
        F.col(lang_col).alias("lang"),
        token_count(F.col(text_col)).cast("long").alias("w"),
        word_token_count(F.col(text_col)).alias("sw"),
        F.length(F.col(text_col)).cast("long").alias("ch"))
    return (base.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("w").cast("long").alias("n_words"),
                 F.sum("sw").cast("long").alias("n_subwords"),
                 F.sum("ch").cast("long").alias("n_chars"))
            .select("lang", "n_docs", "n_words", "n_subwords", "n_chars",
                    (F.col("n_subwords")
                     / F.col("n_words").cast("double")).alias("fertility"),
                    (F.col("n_chars")
                     / F.col("n_subwords").cast("double"))
                    .alias("chars_per_subword")))


def remove_boilerplate_lines(df: DataFrame, text_col: str, id_col: str,
                             min_docs: int | None = None,
                             min_frac: float = 0.5,
                             delimiter: str = "\n") -> DataFrame:
    """Corpus-frequency boilerplate-line removal (the line-wise corpus
    filter of RefinedWeb §3 / Lee et al. 2022): a line that appears in
    at least ``min_docs`` DISTINCT documents (or ``ceil(min_frac ·
    n_docs)`` when ``min_docs`` is None) is boilerplate — nav bars,
    cookie banners, license headers — and is removed from EVERY
    document; each document is reassembled from its surviving lines in
    original order.  This is the cross-document complement of the
    within-document ``repetition_profile`` gate.

    Scale shape: one ``posexplode`` of the corpus; the line census
    groups on the 60-bit portable ``md5_int64(line)`` — the exchange
    carries (id, hash) pairs, never line text; the boilerplate set is
    removed with a LEFT ANTI equi-join on the hash (AQE converts it to
    a broadcast join at runtime when the set is small, which it is in
    practice — its size is bounded by lines repeated across ≥ the
    threshold of documents); reassembly is one key-bounded
    ``groupBy(id)`` with an in-group ``array_sort`` — never a global
    window.  The threshold denominator is a 1-row count broadcast via
    cross join (metadata-sized, plan-hygiene allowlisted).

    ``delimiter`` must be a regex-free literal (it is passed to both
    Spark's regex ``split`` and the oracle's literal ``string_split``).
    Empty lines are excluded from the census (a blank separator present
    in every document is structure, not boilerplate) and therefore
    always survive.

    Output: ``id, clean_text, n_kept, n_removed`` — one row per input
    document; a fully-boilerplate document yields ``clean_text = ''``.
    """
    if min_frac <= 0.0 or min_frac > 1.0:
        raise ValueError(f"min_frac must be in (0, 1], got {min_frac}")
    base = spread(df).select(F.col(id_col).alias("id"),
                             F.col(text_col).alias("text"))
    lines = base.select(
        "id",
        F.posexplode(F.split(F.col("text"), delimiter)).alias("pos", "line"))
    hashed = lines.withColumn("h", md5_int64(F.col("line")))
    census = (hashed.filter(F.col("line") != "")
              .select("id", "h").distinct()
              .groupBy("h").agg(F.count(F.lit(1)).alias("cnt")))
    if min_docs is not None:
        bad = census.filter(F.col("cnt") >= F.lit(int(min_docs))).select("h")
    else:
        total = base.select(F.count(F.lit(1)).alias("n_docs"))
        bad = (census.crossJoin(F.broadcast(total))
               .filter(F.col("cnt")
                       >= F.ceil(F.lit(float(min_frac)) * F.col("n_docs")))
               .select("h"))
    # Reassembly (the dup_span_removal doctrine, round 6): aggregate
    # each document's REMOVED positions into one sorted array — the
    # exchange carries only boilerplate occurrences as (id, pos) ints,
    # never line text — then rebuild per doc with array ops
    # (array_except keeps surviving positions in order, element_at
    # re-reads each surviving line in O(1)).  The previous form
    # shuffled every surviving line as a (pos, text) struct through a
    # groupBy(id) + per-doc struct sort — a corpus-sized text exchange.
    removed = (hashed.join(bad, "h", "semi")
               .groupBy("id")
               .agg(F.array_sort(F.collect_set("pos")).alias("rem_arr")))
    # staged selects so each array expression evaluates ONCE per row
    # (a single projection would re-evaluate split/array_except for
    # every consumer — CollapseProject keeps multi-use expensive
    # expressions staged)
    arr = F.split(F.col("text"), delimiter)
    staged = (base.join(removed, "id", "left")
              .select("id", arr.alias("__arr__"), "rem_arr")
              .withColumn("__n__", F.size("__arr__")))
    all_pos = F.when(F.col("__n__") > 0,
                     F.sequence(F.lit(0), F.col("__n__") - 1)) \
        .otherwise(F.array().cast("array<int>"))
    staged = staged.withColumn(
        "__kept__",
        F.array_except(all_pos,
                       F.coalesce(F.col("rem_arr"),
                                  F.array().cast("array<int>"))))
    return staged.select(
        "id",
        F.array_join(
            F.transform(F.col("__kept__"),
                        lambda p: F.element_at(F.col("__arr__"), p + 1)),
            delimiter).alias("clean_text"),
        F.size("__kept__").cast("long").alias("n_kept"),
        (F.col("__n__") - F.size("__kept__")).cast("long")
        .alias("n_removed"))


# ---------------------------------------------------------------------------
# Phrase-dictionary tagging (taxonomy / topic tagging)
# ---------------------------------------------------------------------------

def dictionary_tag(df: DataFrame, text_col: str, id_col: str,
                   phrases: list[str], max_dict: int = 1_000_000) -> DataFrame:
    """Tag documents against a phrase dictionary — the corpus-curation
    step that routes documents to taxonomy buckets (topic lists, unsafe-
    content term lists, domain keyword sets).  The single-node classic
    is an Aho-Corasick / FlashText automaton walked over each document.

    Plan: one Arrow ``mapInPandas`` pass, FlashText-shaped: each
    document's hits are counted IN the kernel against the dictionary
    set, with a first-token prefilter per phrase length so multi-token
    grams are only materialized at positions where a phrase could
    start.  One document lives in one row, so the (doc, phrase) counts
    are final in the kernel — zero shuffles, no join.  Why a kernel:
    the Catalyst form (explode document n-grams at every dictionary
    length + broadcast join + hash aggregate) measured 3.83 s against
    the kernel's 1.26 s at sf1 (1.21 s vs 0.39 s at sf0.1, warm, noop
    sink, ``local[4]``).

    The dictionary rides the serialized task closure, so it is bounded
    by ``max_dict`` entries — a valve, raised loudly, because a
    corpus-sized "dictionary" belongs in a pre-staged table joined on a
    hash bucket.

    Output: one row per (document, matched phrase):
    ``doc_id, phrase, n_hits`` (occurrence count at any alignment).
    """
    if len(phrases) > max_dict:
        raise ValueError(
            f"dictionary has {len(phrases)} entries > max_dict={max_dict}; "
            "a dictionary this large should be a pre-staged table joined "
            "on a hash bucket, not a broadcast literal")
    # Normalize dictionary whitespace up front: document n-grams are
    # single-space token joins, so a phrase carrying a double space or a
    # tab could never match ANY alignment — its raw form would sit in the
    # dictionary as a silent zero-match.  The normalized form is also
    # what the output `phrase` column reports.
    norm = sorted({" ".join(p.split()) for p in phrases if p.strip()})
    lengths = sorted({len(p.split()) for p in norm})
    if not lengths:
        raise ValueError("empty phrase dictionary")
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"doc_id {id_type}, phrase string, n_hits long"
    pset = frozenset(norm)
    singles = frozenset(p for p in norm if " " not in p)
    multi_lengths = [n for n in lengths if n > 1]
    # first token of every multi-token phrase at each length — the
    # prefilter that skips the set lookup at positions that cannot match
    first_tok = {n: frozenset(p.split()[0] for p in norm
                              if len(p.split()) == n)
                 for n in multi_lengths}

    def run(batches):
        from collections import Counter

        import pandas as pd

        from ..functions.pykernels import py_tokens

        for pdf in batches:
            ids, phs, hits = [], [], []
            for did, t in zip(pdf["__id__"], pdf["__t__"]):
                toks = py_tokens(t)
                c: Counter = Counter()
                if singles:
                    for tok in toks:
                        if tok in singles:
                            c[tok] += 1
                for nlen in multi_lengths:
                    ft = first_tok[nlen]
                    for i in range(len(toks) - (nlen - 1)):
                        if toks[i] in ft:
                            g = " ".join(toks[i:i + nlen])
                            if g in pset:
                                c[g] += 1
                for ph, cnt in c.items():
                    ids.append(did)
                    phs.append(ph)
                    hits.append(cnt)
            yield pd.DataFrame({"doc_id": ids, "phrase": phs,
                                "n_hits": hits})

    return (spread(df)
            .select(F.col(id_col).alias("__id__"),
                    F.col(text_col).alias("__t__"))
            .mapInPandas(run, schema))


# ---------------------------------------------------------------------------
# Vocabulary-coverage (OOV rate) gauge
# ---------------------------------------------------------------------------

def oov_rate(df: DataFrame, text_col: str, lang_col: str,
             vocab_size: int = 500) -> DataFrame:
    """Out-of-vocabulary rate per language against the corpus top-V
    vocabulary — the tokenizer-coverage gauge run before committing a
    vocab size: a language whose OOV rate stays high at the chosen V
    will fragment into UNK/bytes and train badly (the cross-lingual
    coverage argument of Rust et al. 2021, the same QA family as
    :func:`token_fertility`).

    Plan: one explode → (token) count aggregate → top-V by
    ``(count desc, token asc)`` as a TakeOrderedAndProject (never a
    global sort), broadcast back against a second per-language count —
    the corpus is scanned twice but shuffled only as counts; the
    vocabulary itself is driver-bounded at V rows.

    Output: ``lang, n_tokens, n_oov, oov_rate`` (rate is the IEEE
    double of the exact integer division — bit-reproducible).
    """
    toks = (spread(df)
            .select(F.col(lang_col).alias("lang"),
                    F.explode(tokens(F.col(text_col))).alias("token")))
    vocab = (toks.groupBy("token").agg(F.count("*").alias("cnt"))
             .orderBy(F.desc("cnt"), F.asc("token"))
             .limit(int(vocab_size))
             .select("token"))
    flagged = toks.join(F.broadcast(vocab.withColumn("__in__", F.lit(1))),
                        "token", "left")
    return (flagged.groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_tokens"),
                 F.sum(F.when(F.col("__in__").isNull(), 1)
                       .otherwise(0)).cast("long").alias("n_oov"))
            .withColumn("oov_rate",
                        F.col("n_oov").cast("double")
                        / F.col("n_tokens").cast("double")))
