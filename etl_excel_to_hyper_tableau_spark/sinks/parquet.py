"""Parquet sink — the scale-native export target (not in the reference;
added because a 100 TB pipeline's results are themselves large).

One parquet directory per query result under ``{path}/{query_name}/``,
written fully distributed (no driver collect), each result's write on
its own driver thread.  This is the sink every intermediate stage should
use; Hyper/Excel are final-mile exports of small aggregates.

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

from ..session import run_concurrently


def write_parquet(path: str, results: list[tuple[str, DataFrame]]) -> str:
    """Write each ``(name, df)`` to ``{path}/{name}/``, overwriting it.

    The results are independent, and a small result's write is mostly
    per-job driver overhead, so they are written side by side
    (:func:`run_concurrently`); the first failing result is raised once
    every write finished."""
    run_concurrently(
        SparkSession.active(),
        lambda r: r[1].write.mode("overwrite").parquet(f"{path.rstrip('/')}/{r[0]}"),
        results)
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

