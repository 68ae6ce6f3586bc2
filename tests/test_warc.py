"""WARC source (sources/warc.py + the 'warc' DataSource): writer/parser
round-trip, Content-Length delimiting (payload containing the record
magic must not split), header case/order laxity, truncation errors, and
file-based DataSource parity with the mapInPandas path."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from skyway_spark.sources.generate import generate_pages
from skyway_spark.sources.warc import (
    CRLF,
    pages_to_warc,
    parse_warc_bytes,
    read_warc,
)


def _record(wtype: str, uri: str, payload: bytes, extra: str = "", version="WARC/1.0") -> bytes:
    head = (
        f"{version}{CRLF}WARC-Type: {wtype}{CRLF}WARC-Target-URI: {uri}{CRLF}"
        f"WARC-Date: 2024-01-01T00:00:00Z{CRLF}{extra}"
        f"Content-Length: {len(payload)}{CRLF}{CRLF}"
    )
    return head.encode() + payload + b"\r\n\r\n"


def test_content_length_delimits_not_magic():
    # payload embeds a fake record header: a magic-splitting parser
    # would produce 3 records / wrong lengths
    evil = b"HTTP/1.1 200 OK\r\n\r\n<html>\r\n\r\nWARC/1.0\r\nContent-Length: 0\r\n\r\n</html>"
    data = _record("response", "https://a/x", evil) + _record(
        "request", "https://a/y", b"GET /y HTTP/1.1\r\n\r\n"
    )
    recs = list(parse_warc_bytes(data))
    assert [(r[1], r[3]) for r in recs] == [
        ("response", "https://a/x"),
        ("request", "https://a/y"),
    ]
    assert recs[0][7] == "<html>\r\n\r\nWARC/1.0\r\nContent-Length: 0\r\n\r\n</html>"
    assert recs[0][6] == 200 and recs[1][6] is None


def test_header_case_and_order_insensitive():
    payload = b"HTTP/1.1 301 Moved\r\nLocation: https://b\r\n\r\n"
    raw = (
        f"WARC/1.1{CRLF}content-length: {len(payload)}{CRLF}"
        f"warc-target-uri: https://a{CRLF}WARC-TYPE: response{CRLF}"
        f"X-Unknown: keep-calm{CRLF}warc-date: 2024-06-01T12:34:56Z{CRLF}{CRLF}"
    ).encode() + payload + b"\r\n\r\n"
    (rec,) = parse_warc_bytes(raw)
    assert rec[1] == "response" and rec[3] == "https://a"
    assert rec[4] == dt.datetime(2024, 6, 1, 12, 34, 56)
    assert rec[6] == 301
    assert rec[7] == ""  # empty body after the HTTP header block


def test_truncation_raises():
    good = _record("response", "https://a", b"HTTP/1.1 200 OK\r\n\r\nhi")
    with pytest.raises(ValueError, match="truncated WARC payload"):
        list(parse_warc_bytes(good[:-10]))
    with pytest.raises(ValueError, match="truncated WARC header"):
        list(parse_warc_bytes(b"WARC/1.0\r\nWARC-Type: response"))
    with pytest.raises(ValueError, match="bad WARC version"):
        list(parse_warc_bytes(b"HTTP/1.1 200\r\n\r\n"))


def test_roundtrip_byte_identical_html(spark):
    pages = generate_pages(spark, 60, partitions=4).cache()
    files = pages_to_warc(pages, records_per_file=7, request_every=3)
    parsed = read_warc(files)
    resp = parsed.where(F.col("warc_type") == "response")
    joined = (
        resp.join(pages.select("url", F.decode("html", "utf-8").alias("want")), "url")
        .select("url", "html", "want", "warc_date", "content_length")
        .collect()
    )
    assert len(joined) == 60
    assert all(r.html == r.want for r in joined)  # byte-identical per url
    # request records only where id % 3 == 0, no html, no status
    reqs = parsed.where(F.col("warc_type") == "request").collect()
    assert len(reqs) == 20
    assert all(r.html is None and r.http_status is None for r in reqs)
    # rec_no dense per file in (i, request-before-response) order
    per_file = parsed.groupBy("file_id").agg(
        F.count("*").alias("n"), F.max("rec_no").alias("mx")
    ).collect()
    assert all(r.mx == r.n - 1 for r in per_file)


def test_read_warc_single_scan_no_shuffle(spark):
    plan = (
        read_warc(pages_to_warc(generate_pages(spark, 10)))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # exactly the one shuffle the file-grouping agg needs, none for parse
    assert plan.count("Exchange") <= 2  # partial+final agg exchange pair
