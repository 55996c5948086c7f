"""WARC codec + source: record round trips (plain and per-record
gzip), HTTP payload split, malformed-input quarantine, and the distributed
binary-column parse."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from etl_excel_to_hyper_tableau_spark.functions import warc as w
from etl_excel_to_hyper_tableau_spark.sources.warc import (
    make_warc_media, parse_warc_column,
)


def _resp(url: str, body: bytes, status: int = 200):
    return ("response",
            {"WARC-Target-URI": url, "WARC-Date": "2026-01-01T00:00:00Z"},
            w.build_http_response(body, status=status))


# ---------------------------------------------------------------------------
# pure codec
# ---------------------------------------------------------------------------

def test_round_trip_plain():
    recs = [_resp("http://a", b"hello"), _resp("http://b", b"world")]
    data = w.build_warc(recs)
    out = w.parse_warc(data)
    assert len(out) == 2
    for (hdr, payload), (_, want_h, want_p) in zip(out, recs):
        assert hdr["WARC-Type"] == "response"
        assert hdr["WARC-Target-URI"] == want_h["WARC-Target-URI"]
        assert payload == want_p


def test_round_trip_gzip_members():
    recs = [_resp("http://a", b"x" * 1000), _resp("http://b", b"y")]
    data = w.build_warc(recs, per_record_gzip=True)
    assert data[:2] == b"\x1f\x8b"
    out = w.parse_warc(data)
    assert [h["WARC-Target-URI"] for h, _ in out] == ["http://a", "http://b"]
    # determinism: pinned mtime ⇒ byte-identical archives
    assert data == w.build_warc(recs, per_record_gzip=True)


def test_http_split():
    status, headers, body = w.parse_http_response(
        w.build_http_response(b"abc", status=404))
    assert status == 404
    assert headers["Content-Type"] == "text/html"
    assert body == b"abc"


def test_non_response_records_preserved_by_codec():
    recs = [("warcinfo", {"WARC-Record-ID": "<urn:uuid:0>"}, b"k: v"),
            _resp("http://a", b"body")]
    out = w.parse_warc(w.build_warc(recs))
    assert [h["WARC-Type"] for h, _ in out] == ["warcinfo", "response"]


def test_payload_may_contain_crlf_and_warc_magic():
    tricky = b"line1\r\n\r\nWARC/1.0\r\nfake: header\r\n\r\nmore"
    out = w.parse_warc(w.build_warc([_resp("http://t", tricky)]))
    assert len(out) == 1
    _, _, body = w.parse_http_response(out[0][1])
    assert body == tricky


def test_malformed_raises():
    with pytest.raises(ValueError):
        w.parse_warc(b"WARC/1.0\r\nWARC-Type: response\r\n\r\n")  # no len
    ok = w.build_warc([_resp("http://a", b"hello")])
    with pytest.raises(ValueError):
        w.parse_warc(ok[:-12])  # truncated payload
    with pytest.raises(ValueError):
        w.parse_http_response(b"not http at all")


# ---------------------------------------------------------------------------
# Spark source paths
# ---------------------------------------------------------------------------


def test_parse_warc_column_round_trip(spark):
    df = spark.createDataFrame(
        [Row(doc_id=7, html="<p>seven</p>"), Row(doc_id=8, html=None)])
    recs = parse_warc_column(
        make_warc_media(df, "doc_id", "html"), "content", "id").collect()
    got = {r["id"]: (r["url"], r["status"], bytes(r["body"]).decode())
           for r in recs}
    assert got[7] == ("http://example.com/doc/7", 200, "<p>seven</p>")
    assert got[8] == ("http://example.com/doc/8", 200, "")


