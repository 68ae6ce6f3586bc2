"""WARC (Web ARChive, ISO 28500) reader + writer for Common-Crawl-style
web pages — the container format the input_hint's (url, warc_ts, html)
tables are loaded from in production.

Writer: pure Column expressions (`warc_record`, `http_response_payload`,
`pages_to_warc`) serialize page rows into spec-shaped `WARC/1.0` records
and concatenate them into file blobs — zero Python in the plan, so the
sink scales with executors like every other serializer in this repo
(sources/opl.py, sources/jsonio.py).

Reader: `read_warc` is a real byte-level parser inside one mapInPandas
scan — records are delimited by the `Content-Length` header, NEVER by
searching for the next magic (a payload containing the literal bytes
``WARC/1.0`` must not split a record; tests/test_warc.py pins this).
One scan, no shuffle; blob bytes never leave the scan stage.

Format notes (public spec, iipc/warc-specifications): header block is
``WARC/1.0\\r\\n`` + ``Name: value`` lines terminated by a blank line;
``Content-Length`` counts payload bytes exactly; two CRLFs trail each
record. Header names are case-insensitive (parser lowercases; writer
emits canonical casing). `response`/`request` records carry an HTTP
message as payload; the HTML body of a response starts after the HTTP
header block's own blank line.
"""

from __future__ import annotations

import datetime as dt
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

CRLF = "\r\n"

WARC_SCHEMA = StructType(
    [
        StructField("file_id", LongType(), False),
        StructField("rec_no", IntegerType(), False),
        StructField("warc_type", StringType(), True),
        StructField("record_id", StringType(), True),
        StructField("url", StringType(), True),
        StructField("warc_date", TimestampType(), True),
        StructField("content_length", LongType(), False),
        StructField("http_status", IntegerType(), True),
        StructField("html", StringType(), True),
    ]
)


# ---------------------------------------------------------------------------
# writer — Column expressions only
# ---------------------------------------------------------------------------


def warc_date_str(ts: Column) -> Column:
    """Column: timestamp -> the spec's UTC `WARC-Date` string."""
    return F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")


def http_response_payload(html: Column) -> Column:
    """Column: HTML string -> the HTTP response message a WARC
    `response` record carries as payload."""
    return F.concat(
        F.lit(f"HTTP/1.1 200 OK{CRLF}Content-Type: text/html{CRLF}{CRLF}"),
        html,
    )


def http_request_payload(url: Column) -> Column:
    """Column: url -> the HTTP request message of a `request` record."""
    return F.concat(
        F.lit("GET "),
        F.parse_url(url, F.lit("PATH")),
        F.lit(f" HTTP/1.1{CRLF}Host: "),
        F.parse_url(url, F.lit("HOST")),
        F.lit(CRLF + CRLF),
    )


def warc_record(warc_type: str, uri: Column, date: Column, payload: Column) -> Column:
    """Column: one serialized WARC/1.0 record (string; ASCII-safe
    payloads — `pages_to_warc` encodes the file blob to binary once).

    Record-ID is deterministic (type+URI) rather than a random UUID so
    the writer stays engine- and partitioning-independent; real crawls
    overwrite it per the spec's 'globally unique' requirement."""
    return F.concat(
        F.lit("WARC/1.0" + CRLF),
        F.lit("WARC-Type: " + warc_type + CRLF),
        F.lit(f"WARC-Record-ID: <urn:skyway:{warc_type}:"),
        uri,
        F.lit(">" + CRLF),
        F.lit("WARC-Target-URI: "),
        uri,
        F.lit(CRLF),
        F.lit("WARC-Date: "),
        date,
        F.lit(CRLF),
        F.lit(f"Content-Type: application/http; msgtype={warc_type}" + CRLF),
        F.lit("Content-Length: "),
        F.length(payload).cast("string"),
        F.lit(CRLF + CRLF),
        payload,
        F.lit(CRLF + CRLF),
    )


def pages_to_warc(
    pages: DataFrame,
    records_per_file: int = 25,
    request_every: int | None = 3,
) -> DataFrame:
    """Serialize (url, warc_ts, html) page rows into WARC file blobs:
    (file_id, data binary).

    Page id comes from the fixture url tail; records group into files
    of ``records_per_file`` consecutive pages, each page emitting an
    optional `request` record (ids divisible by ``request_every``,
    mirroring real crawls' request+response pairs) followed by its
    `response`. One groupBy on file_id is the only shuffle; record
    serialization happens map-side as Column concat.
    """
    i = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    date = warc_date_str(F.col("warc_ts"))
    resp = warc_record(
        "response", F.col("url"), date, http_response_payload(F.decode("html", "utf-8"))
    )
    req = warc_record("request", F.col("url"), date, http_request_payload(F.col("url")))
    per_page = F.concat(
        F.when((i % request_every) == 0, req).otherwise(F.lit(""))
        if request_every
        else F.lit(""),
        resp,
    )
    recs = pages.select(
        (i / records_per_file).cast("long").alias("file_id"),
        F.struct(i.alias("i"), per_page.alias("s")).alias("rec"),
    )
    return recs.groupBy("file_id").agg(
        F.encode(
            F.concat_ws(
                "",
                F.transform(F.array_sort(F.collect_list("rec")), lambda r: r["s"]),
            ),
            "utf-8",
        ).alias("data")
    )


# ---------------------------------------------------------------------------
# reader — Content-Length-delimited byte parser
# ---------------------------------------------------------------------------


def parse_warc_bytes(data: bytes) -> Iterator[tuple]:
    """Parse one WARC blob into record tuples
    (rec_no, warc_type, record_id, url, warc_date, content_length,
    http_status, html). A pure function, so tests can call the same
    parser the mapInPandas path runs."""
    pos, n, rec = 0, len(data), 0
    while pos < n:
        while data.startswith(b"\r\n", pos):
            pos += 2
        if pos >= n:
            break
        end = data.find(b"\r\n\r\n", pos)
        if end < 0:
            raise ValueError(f"truncated WARC header at byte {pos}")
        lines = data[pos:end].decode("utf-8", errors="replace").split(CRLF)
        if not lines[0].startswith("WARC/"):
            raise ValueError(f"bad WARC version line at byte {pos}: {lines[0]!r}")
        hdr: dict[str, str] = {}
        for ln in lines[1:]:
            name, _, value = ln.partition(":")
            hdr[name.strip().lower()] = value.strip()
        clen = int(hdr["content-length"])
        body = data[end + 4 : end + 4 + clen]
        if len(body) != clen:
            raise ValueError(f"truncated WARC payload at byte {end + 4}")
        pos = end + 4 + clen

        status = None
        if body.startswith(b"HTTP/"):
            first = body.split(b"\r\n", 1)[0].split(b" ")
            if len(first) >= 2 and first[1].isdigit():
                status = int(first[1])
        html = None
        if hdr.get("warc-type") == "response":
            sep = body.find(b"\r\n\r\n")
            if sep >= 0:
                html = body[sep + 4 :].decode("utf-8", errors="replace")
        date = hdr.get("warc-date")
        warc_date = (
            dt.datetime.strptime(date, "%Y-%m-%dT%H:%M:%SZ") if date else None
        )
        rid = hdr.get("warc-record-id")
        yield (
            rec,
            hdr.get("warc-type"),
            rid.strip("<>") if rid else None,
            hdr.get("warc-target-uri"),
            warc_date,
            clen,
            status,
            html,
        )
        rec += 1


def read_warc(files: DataFrame) -> DataFrame:
    """Parse WARC blobs into one row per record.

    Scale shape: a single mapInPandas scan — no shuffle; each Arrow
    batch yields its records immediately (generator, so a batch of
    1 GB blobs never buffers more than one blob's records). Output:
    WARC_SCHEMA.
    """

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for fid, blob in zip(pdf["file_id"], pdf["data"]):
                for tup in parse_warc_bytes(bytes(blob)):
                    rows.append((int(fid),) + tup)
            yield pd.DataFrame(rows, columns=[f.name for f in WARC_SCHEMA.fields])

    return files.select("file_id", "data").mapInPandas(parse, WARC_SCHEMA)
