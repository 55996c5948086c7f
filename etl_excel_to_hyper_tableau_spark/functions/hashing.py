"""Engine-portable deterministic hashing column functions.

Everything here is built from ``md5`` + integer arithmetic so that an
external SQL oracle (DuckDB in the tests) can reproduce values
bit-for-bit — Spark's native ``hash``/``xxhash64`` are Spark-specific
and unverifiable cross-engine.  All functions return Catalyst ``Column``
expressions (JVM-side, codegen'd; no Python UDFs in the hot path).

``md5_int64(c)``: first 15 hex digits of md5 → non-negative int64
(60 bits — fits bigint in every engine).
``minhash_signature``: k-permutation MinHash via the standard
``(a_i * h + b_i) mod p`` family over shingle hashes.
``simhash64``: 64-bit SimHash over token hashes (bit-majority).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Mersenne prime 2^61 - 1: the classic universal-hash modulus; products
# a_i * h with h < 2^60 and a_i < 2^31 stay under 2^91... which would
# overflow int64 — so the permutation family uses 31-bit multipliers on
# *rehashed* 31-bit values to keep all arithmetic inside int64 exactly
# (portable to any engine with 64-bit integers).
MERSENNE61 = (1 << 61) - 1

# deterministic 31-bit odd multipliers / offsets (seeded, hardcoded so the
# oracle SQL can embed the same constants)
def perm_constants(k: int) -> list[tuple[int, int]]:
    """k (a, b) pairs, deterministic. a odd, 31-bit; b 31-bit."""
    consts = []
    a, b = 0x9E3779B1, 0x85EBCA77  # golden-ratio / murmur constants (public)
    x = 1
    for _ in range(k):
        x = (x * a + b) % (1 << 31)
        a_i = x | 1
        x = (x * a + b) % (1 << 31)
        b_i = x
        consts.append((a_i, b_i))
    return consts


def md5_int64(col: Column) -> Column:
    """Portable 60-bit hash: ``cast(conv(substr(md5(x),1,15),16,10) as bigint)``.

    DuckDB equivalent: ``cast(('0x' || substr(md5(x),1,15)) as bigint)``.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def char_ngrams(col: Column, n: int = 3) -> Column:
    """Array of character n-grams of a string column (JVM-side:
    ``transform(sequence(...))``).  Strings shorter than n yield an
    empty array.

    DuckDB equivalent: ``[substring(x, i, n) for i in range(1, length(x)-n+2)]``.
    """
    length = F.length(col)
    idx = F.when(length >= n, F.sequence(F.lit(1), length - (n - 1))) \
        .otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: col.substr(i, F.lit(n)))


def shingle_hashes(col: Column, n: int = 3) -> Column:
    """Distinct md5-int64 hashes of the n-gram set, reduced to 31 bits so
    minhash permutation arithmetic stays in int64."""
    grams = F.array_distinct(char_ngrams(col, n))
    return F.transform(grams, lambda g: md5_int64(g) % F.lit(1 << 31))


def minhash_from_hashes(hashes: Column, k: int = 32) -> Column:
    """MinHash signature from an already-materialized shingle-hash array.

    For each permutation i: ``min over shingles s of (a_i * h(s) + b_i) mod M61``.
    31-bit h × 31-bit a + 31-bit b < 2^63 — exact in int64 everywhere.
    Empty shingle sets yield nulls (caller filters).

    Take ``hashes`` from a **separate projection** (see
    :func:`minhash_signature`'s note): the k permutation scans reference
    the same array; inlining :func:`shingle_hashes` here would make
    Catalyst evaluate the md5-per-shingle work k times.
    """

    def perm(a_i: int, b_i: int):
        return lambda h: (h * F.lit(a_i) + F.lit(b_i)) % F.lit(MERSENNE61)

    return F.array(*[
        F.array_min(F.transform(hashes, perm(a_i, b_i)))
        for a_i, b_i in perm_constants(k)
    ])


def minhash_signature(col: Column, k: int = 32, n: int = 3) -> Column:
    """MinHash signature of a text column: array of k int64 values.

    ⚠ single-expression form: the shingle-hash subtree is duplicated
    into every one of the k permutation mins, so the md5 work runs k
    times.  Correct but slow — prefer projecting
    ``shingle_hashes(col, n)`` to a column first and applying
    :func:`minhash_from_hashes` to it (what ``operators.dedup`` does);
    kept for expression-level composability and as the semantics
    reference.
    """
    return minhash_from_hashes(shingle_hashes(col, n), k)


def simhash_from_hashes(token_hashes: Column) -> Column:
    """60-bit SimHash from an already-materialized token-hash array
    (bit-majority).  As with :func:`minhash_from_hashes`: materialize
    the hashes in their own projection first — the 60 per-bit vote
    aggregates all reference the array, and inlining the md5 transform
    here would evaluate it 60 times."""
    bits = []
    for j in range(60):
        votes = F.aggregate(
            token_hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc + F.when(h.bitwiseAND(F.lit(1 << j)) != 0, 1).otherwise(-1),
        )
        bits.append(F.when(votes > 0, F.lit(1 << j)).otherwise(F.lit(0)).cast("long"))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def simhash64(tokens: Column) -> Column:
    """64-bit SimHash of an array-of-tokens column — single-expression
    form (md5 transform duplicated into all 60 votes; see
    :func:`simhash_from_hashes` for the fast two-projection form)."""
    return simhash_from_hashes(F.transform(tokens, lambda t: md5_int64(t)))


