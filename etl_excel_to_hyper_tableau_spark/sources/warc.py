"""WARC web-archive source — the raw-input format of a crawl-scale
pipeline (CommonCrawl ships ``.warc.gz``; a 100 TB text corpus ENTERS
as WARC, and everything in :mod:`..operators.html` /
:mod:`..operators.web` runs downstream of this scan).

Two halves, the media-factory pattern:

* :func:`parse_warc_column` — the real parse: a binary column of
  archives parsed on executors through the stdlib codec
  (:mod:`..functions.warc`), one output row per ``response`` record.
  Unparseable archives/records are dropped (quarantine-and-continue,
  the media-decoder contract).
* :func:`make_warc_media` — deterministic archive synthesis from the
  documents table, entirely inside ``mapInPandas`` (REAL per-record
  gzip members, pinned mtime — byte-deterministic), so tests and the
  driver oracle can pin the parse output by construction.

Scale shape: both halves are map-only — archive bytes never shuffle;
the output rows carry only url/status/headers/body.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

from ..functions import warc as _w
from ..operators.parallelism import spread


def parse_warc_column(df: DataFrame, content_col: str,
                      id_col: str) -> DataFrame:
    """Parse a BINARY column of WARC archives (one archive per row —
    the shape :func:`make_warc_media` produces and a message-queue
    ingest delivers): one output row per ``response`` record:
    ``id, record_idx, url, status, content_type, body``.  Map-only."""
    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("record_idx", T.LongType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("status", T.IntegerType(), True),
        T.StructField("content_type", T.StringType(), True),
        T.StructField("body", T.BinaryType(), True),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("id", "record_idx", "url", "status",
                                    "content_type", "body")}
            for rid, blob in zip(pdf["__id__"], pdf["__c__"]):
                if blob is None:
                    continue
                try:
                    recs = _w.parse_warc(bytes(blob))
                except (ValueError, OSError):
                    continue
                for i, (hdr, payload) in enumerate(recs):
                    if hdr.get("WARC-Type") != "response":
                        continue
                    try:
                        status, hhdr, body = _w.parse_http_response(payload)
                    except ValueError:
                        continue
                    rows["id"].append(int(rid))
                    rows["record_idx"].append(i)
                    rows["url"].append(hdr.get("WARC-Target-URI"))
                    rows["status"].append(status)
                    rows["content_type"].append(hhdr.get("Content-Type"))
                    rows["body"].append(body)
            yield pd.DataFrame({
                "id": pd.array(rows["id"], dtype="int64"),
                "record_idx": pd.array(rows["record_idx"], dtype="int64"),
                "url": pd.array(rows["url"], dtype="string"),
                "status": pd.array(rows["status"], dtype="int32"),
                "content_type": pd.array(rows["content_type"],
                                         dtype="string"),
                "body": rows["body"],
            })

    # parallelism guard (no-op once partitions >= defaultParallelism):
    # a single-row-group local input must not gzip-decode every archive
    # on one core
    return (spread(df.select(F.col(id_col).alias("__id__"),
                             F.col(content_col).alias("__c__")))
            .mapInPandas(run, schema=schema))


def make_warc_media(df: DataFrame, id_col: str, html_col: str,
                    per_record_gzip: bool = True) -> DataFrame:
    """Deterministic one-record-per-row WARC synthesis from an HTML
    column (REAL archives through the stdlib writer: response record,
    HTTP/1.1 payload, per-record gzip member with pinned mtime).  URL
    is ``http://example.com/doc/{id}``; WARC-Date is pinned — archives
    are byte-deterministic, the construction-oracle requirement."""
    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("content", T.BinaryType(), False),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for rid, page in zip(pdf["__id__"], pdf["__h__"]):
                body = ("" if page is None else str(page)).encode("utf-8")
                rec = (
                    "response",
                    {"WARC-Target-URI":
                         f"http://example.com/doc/{int(rid)}",
                     "WARC-Date": "2026-01-01T00:00:00Z",
                     "WARC-Record-ID":
                         f"<urn:uuid:{int(rid):032x}>",
                     "Content-Type": "application/http; msgtype=response"},
                    _w.build_http_response(body),
                )
                ids.append(int(rid))
                blobs.append(_w.build_warc([rec],
                                           per_record_gzip=per_record_gzip))
            yield pd.DataFrame({"id": pd.array(ids, dtype="int64"),
                                "content": blobs})

    # same parallelism guard as the parse half: gzip ENCODE is the
    # costlier Python stage and must not serialize on one row group
    return (spread(df.select(F.col(id_col).alias("__id__"),
                             F.col(html_col).alias("__h__")))
            .mapInPandas(run, schema=schema))
