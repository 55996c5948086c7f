"""Parquet sink — the scale-native export target (not in the reference;
added because a 100 TB pipeline's results are themselves large).

One parquet directory per query result under ``{path}/{query_name}/``,
written fully distributed (no driver collect).  This is the sink every
intermediate stage should use; Hyper/Excel are final-mile exports of
small aggregates.

:func:`compact_parquet` is the table-maintenance half: incremental
pipelines (per-batch ingests, streaming sinks) accrete small files, and
at 100 TB "too many small files" is the top operational failure mode —
every downstream scan pays per-file open/footer costs and the
scheduler drowns in splits.  Compaction rewrites a directory at a
target file size, optionally clustering rows for downstream pruning.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession


def write_parquet(path: str, results: list[tuple[str, DataFrame]]) -> str:
    for name, df in results:
        df.write.mode("overwrite").parquet(f"{path.rstrip('/')}/{name}")
    return path


def has_parquet_files(path: str) -> bool:
    """Existence gate shared by the incremental readers (streaming
    ingest, staged indexes): True iff ``path`` is a directory holding
    at least one parquet data file.  Centralized so a future refinement
    (e.g. skipping `_temporary` dirs left by an interrupted write)
    lands in every caller at once."""
    return os.path.isdir(path) and any(
        f.endswith(".parquet") or f.startswith("part-")
        for _r, _d, fs in os.walk(path) for f in fs)


def parquet_file_stats(path: str) -> tuple[int, int]:
    """(n_files, total_bytes) of the parquet data files under ``path``
    (driver-side directory listing — metadata only, no data read)."""
    n, total = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            # data files only: part-* Spark outputs can carry .crc /
            # _SUCCESS siblings in mixed dirs — counting those skews
            # the compaction sizing
            if f.endswith(".parquet"):
                n += 1
                total += os.path.getsize(os.path.join(root, f))
    return n, total


def compact_parquet(spark: SparkSession, in_dir: str, out_dir: str,
                    target_file_mb: int = 512,
                    sort_within_by: list[str] | None = None) -> dict:
    """Rewrite a small-file parquet directory into ~``target_file_mb``
    files.

    Sizing comes from the *on-disk compressed* bytes (file listing, no
    data scan), so the output file count tracks real storage, not
    decompressed in-memory width.  With ``sort_within_by`` the rewrite
    also clusters rows inside each file (``sortWithinPartitions`` —
    per-partition sort, no global shuffle beyond the repartition), which
    tightens parquet min/max column stats so downstream range filters
    prune row groups.

    Uses ``repartition`` (round-robin shuffle) rather than ``coalesce``:
    coalesce merges whole input partitions — it cannot split a skewed
    one, and it collapses the write parallelism to the output file
    count for the entire preceding stage.  The one shuffle moves each
    byte once; a compaction job's cost budget is exactly that.

    Returns {"files_in", "bytes_in", "files_out", "partitions"}.
    """
    if os.path.abspath(out_dir) == os.path.abspath(in_dir):
        # overwrite-in-place would delete the input out from under the
        # lazy read and destroy the table
        raise ValueError(
            f"compact_parquet: out_dir must differ from in_dir ({in_dir})")
    files_in, bytes_in = parquet_file_stats(in_dir)
    parts = max(1, math.ceil(bytes_in / (target_file_mb << 20)))
    df = spark.read.parquet(in_dir).repartition(parts)
    if sort_within_by:
        df = df.sortWithinPartitions(*sort_within_by)
    df.write.mode("overwrite").parquet(out_dir)
    files_out, _ = parquet_file_stats(out_dir)
    return {"files_in": files_in, "bytes_in": bytes_in,
            "files_out": files_out, "partitions": parts}


def zorder_key(cols: list, bits: int = 16):
    """Z-order (Morton) clustering key for multi-column data skipping —
    the Delta/Iceberg ``OPTIMIZE ZORDER BY`` primitive: each column is
    rank-normalized to ``bits`` bits elsewhere (or passed raw if
    already small-range), and the key interleaves the columns' bits so
    sorting by it clusters rows that are close in EVERY dimension.
    Parquet min/max stats per file then stay narrow for all the
    z-ordered columns at once, where a lexicographic multi-column sort
    narrows only the leading column's ranges.

    Pure Catalyst bit arithmetic (shiftleft/shiftright/AND fold) — one
    expression, no UDF.  Columns must be non-negative integers that fit
    ``bits`` bits (rank/bucket upstream if not; at 100 TB the
    normalization is an ntile-style bucket assignment).
    """
    from pyspark.sql import functions as F

    n = len(cols)
    if n < 2:
        raise ValueError("zorder needs >= 2 columns")
    if bits * n > 63:
        # bit 63 is the long's sign bit (negative keys range-sort before
        # everything, destroying the clustering) and shift counts >= 64
        # wrap under the JVM's shift-count masking, silently colliding
        # different columns' bits — refuse rather than corrupt
        raise ValueError(
            f"zorder key needs bits*len(cols) <= 63 (got {bits}*{n}); "
            f"lower bits to <= {63 // n}")
    terms = []
    for b in range(bits):
        for ci, c in enumerate(cols):
            src_bit = F.call_function(
                "shiftright", F.col(c).cast("long"), F.lit(b).cast("int")
            ).bitwiseAND(F.lit(1).cast("long"))
            terms.append(F.call_function(
                "shiftleft", src_bit, F.lit(b * n + ci).cast("int")))
    out = terms[0]
    for t in terms[1:]:
        out = out.bitwiseOR(t)
    return out


def stage_zordered(spark: SparkSession, in_dir: str, out_dir: str,
                   zorder_by: list[str], bits: int = 16,
                   target_file_mb: int = 512,
                   partitions: int | None = None) -> dict:
    """Compact + Z-ORDER a parquet directory: range-repartition and
    sort by the Morton key of ``zorder_by`` so every output file covers
    a tight hyper-rectangle of the z-ordered columns — range filters on
    ANY of them prune files/row groups via parquet min/max stats.

    The z-key is computed, sorted on, and dropped; data columns are
    unchanged.  One range-exchange total (the same budget as
    :func:`compact_parquet`'s round-robin).  Returns the same stats
    dict plus ``zorder_by``.
    """
    if os.path.abspath(out_dir) == os.path.abspath(in_dir):
        raise ValueError(
            f"stage_zordered: out_dir must differ from in_dir ({in_dir})")
    files_in, bytes_in = parquet_file_stats(in_dir)
    parts = partitions or max(1, math.ceil(bytes_in / (target_file_mb << 20)))
    # auto-fit the per-column bit budget to the int64 key (see
    # zorder_key's sign-bit/shift-wrap guard): more columns → coarser
    # per-column resolution, the standard z-order tradeoff
    bits = min(bits, 63 // len(zorder_by))
    df = (spark.read.parquet(in_dir)
          .withColumn("__z__", zorder_key(zorder_by, bits=bits)))
    (df.repartitionByRange(parts, "__z__")
       .sortWithinPartitions("__z__")
       .drop("__z__")
       .write.mode("overwrite").parquet(out_dir))
    files_out, _ = parquet_file_stats(out_dir)
    return {"files_in": files_in, "bytes_in": bytes_in,
            "files_out": files_out, "partitions": parts,
            "zorder_by": list(zorder_by)}


def quantile_buckets(df: DataFrame, col: str, bits: int = 16,
                     relative_error: float = 0.001):
    """Scale-safe rank normalization for :func:`zorder_key`: bucket a
    numeric column of ANY distribution into ``2^bits`` approximately
    equal-population buckets via ``approxQuantile`` boundaries — the
    normalizer that makes z-ordering work on skewed/wide-range columns
    (raw values would concentrate all rows in a few Morton cells).

    The quantile sketch is one aggregate pass (GK sketch — fixed-size
    partial-agg state); the boundaries come back driver-side
    (``2^bits`` doubles — metadata-sized) and the bucket assignment is
    a map-only binary search over the literal array: a bit-by-bit
    refinement (``aggregate`` over the descending powers of two —
    ``acc := acc + 2^b`` whenever that index's boundary is still
    ``<= value``), i.e. O(bits) ``element_at`` probes per row, NOT a
    linear scan of the 2^bits-1 boundaries.  The boundary literal is
    bound once inside the aggregate lambda, so the expression size is
    one copy of the array regardless of ``bits``.  An ``ntile`` window
    would be the single-reducer global sort this module's operators
    exist to avoid.

    Returns a Column: the bucket index in ``[0, 2^bits)`` — the count
    of boundaries ``<=`` the value (NULLs land in bucket 0).
    """
    from pyspark.sql import functions as F

    n = 1 << bits
    probs = [i / n for i in range(1, n)]
    bounds = df.approxQuantile(col, probs, relative_error)
    m = len(bounds)  # n - 1 sorted (ascending) boundaries, 1-indexed below
    arr = "array(" + ",".join(f"{b!r}D" for b in bounds) + ")"
    steps = "array(" + ",".join(str(1 << b) + "L"
                                for b in range(bits - 1, -1, -1)) + ")"
    v = (f"coalesce(cast({col} as double), "
         f"cast('-Infinity' as double))")
    # Classic Fenwick-style monotone-predicate search: after folding
    # all bit weights, acc = largest c with bounds[c] <= v = the
    # number of boundaries <= v.  Duplicated boundaries keep the
    # predicate monotone, so ties produce the same count as the old
    # linear-scan form (pinned by tests at bits=4).
    return F.expr(
        f"cast(aggregate({steps}, 0L, (acc, s) -> "
        f"CASE WHEN acc + s <= {m} AND "
        f"element_at({arr}, cast(acc + s AS int)) <= {v} "
        f"THEN acc + s ELSE acc END) as int)")
