"""Format dispatch — the engine's equivalent of the reference CLI's
--from/--to resolution (src/main.rs:23-48, src/readers/mod.rs:36-50,
src/writers/mod.rs:25-48) — and the one document assembly of every
writer.

Formats: read opl | json (OSM + Overpass) | xml | pbf, one reader
each; write opl | json | overpass | xml. o5m is omitted — disabled in
the reference itself (src/writers/mod.rs:27,40) with an unimplemented
element body and a latent descending-id bug we do not replicate
(SURVEY §7.5). OSMX is an unreachable stub in the reference
(src/readers/osmx.rs:12-14) and omitted.

Each output format is one ``_DOCUMENTS`` entry: element-line column,
header, footer and line rule. A document is ``header + sep.join(line +
end for line in lines) + footer``, lines in canonical (type, id) order,
and ``write_document`` is its one assembly: the CLI's file, its stdout
and ``serialize_string`` agree byte for byte.
"""

from __future__ import annotations

import io
import os
import shutil
import tempfile
from contextlib import nullcontext
from typing import Callable, NamedTuple, TextIO

from pyspark.sql import Column, DataFrame, SparkSession

from skyway_spark.schema import empty_metadata
from skyway_spark.sources import jsonio, opl, xmlio
from skyway_spark.sources._rowutil import canonical_order, write_enveloped

_READ_EXT = {".json": "json", ".opl": "opl", ".xml": "xml", ".pbf": "pbf"}
_WRITE_EXT = {".json": "json", ".opl": "opl", ".xml": "xml"}


def infer_format(path: str, table: dict) -> str:
    ext = os.path.splitext(path)[1].lower()
    if ext not in table:
        raise ValueError(f"cannot infer format from extension {ext!r} of {path!r}")
    return table[ext]


def read_elements(
    spark: SparkSession, path: str, fmt: str | None = None
) -> tuple[DataFrame, dict]:
    fmt = fmt or infer_format(path, _READ_EXT)
    if fmt not in _READERS:
        raise ValueError(f"unknown input format {fmt!r}")
    return _READERS[fmt](spark, path)


def read_pbf(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """Distributed PBF decode (sources/pbf.py): blob-index scan on the
    driver, per-blob pure-Python protobuf decode across executors —
    the reference's blob-parallel rayon decode
    (src/readers/pbf.rs:129-160) with executors instead of a 6-thread
    pool, and no native dependency."""
    from skyway_spark.sources import pbf as pbfio

    df = pbfio.read_pbf(spark, path)
    hdr = pbfio.read_pbf_metadata(path)
    md = empty_metadata()
    md["generator"] = hdr.get("generator")
    if any("OsmSchema-V0.6" in f for f in hdr.get("features", [])):
        md["version"] = "0.6"
    return df, md


_READERS = {"json": jsonio.read_json, "opl": opl.read_opl, "xml": xmlio.read_xml, "pbf": read_pbf}


class _Document(NamedTuple):
    ext: str  # of the ``_header``/``_footer`` side files
    line: Callable[[DataFrame], Column]  # the element line
    header: Callable[[dict], str]
    footer: str
    sep: str = ""  # between element lines
    end: str = ""  # after each element line


_JSON = _Document(
    "json", jsonio.element_json_col, lambda md: jsonio.create_header(md, False), "]}", sep=","
)
_DOCUMENTS = {
    "opl": _Document("opl", opl.opl_line, lambda md: "", "", end="\n"),
    "json": _JSON,
    "overpass": _JSON._replace(header=lambda md: jsonio.create_header(md, True)),
    "xml": _Document("xml", xmlio.element_xml_col, xmlio.xml_envelope_open, "</osm>"),
}


def _document(fmt: str | None) -> _Document:
    if fmt not in _DOCUMENTS:
        raise ValueError(f"unknown output format {fmt!r}")
    return _DOCUMENTS[fmt]


def write_elements(
    df: DataFrame, path: str, fmt: str | None = None, metadata: dict | None = None
) -> None:
    """Distributed write (scale path): element lines in canonical order
    across the ``part-*`` files in part order, plus ``_header.<ext>``
    and ``_footer.<ext>`` side files when not empty (JSON and XML). The
    lines carry no separator; ``write_document`` applies the line rule."""
    fmt = fmt or infer_format(path, _WRITE_EXT)
    doc = _document(fmt)
    values = canonical_order(df).select(doc.line(df).alias("value"))
    write_enveloped(values, path, doc.ext, doc.header(metadata or empty_metadata()), doc.footer)


def write_document(
    df: DataFrame, fmt: str | None, metadata: dict | None, out: str | TextIO
) -> None:
    """The reference's output: one document, to the file ``out`` (a
    path; ``fmt=None`` infers the format from it) or the text stream
    ``out``. ``write_elements`` writes a temporary directory (beside
    the file, or from ``tempfile.mkdtemp()`` for a stream); the driver
    streams the header, the part files in part order line by line
    under the line rule, and the footer, then removes the directory.
    It reads the directory as local files: Spark must write to a file
    system the driver shares.

    One line is one element: JSON and XML values cannot hold a raw
    newline (``json.dumps`` writes ``\\n``/``\\r`` escapes, ``xmlio._esc``
    ``&#10;``/``&#13;``); OPL's ``%…%`` escape covers every value but the
    timestamp, and the OPL rule keeps each line's ``\\n``, so splitting
    OPL there and writing it back is the identity."""
    to_file = isinstance(out, str)
    fmt = fmt or (infer_format(out, _WRITE_EXT) if to_file else None)
    doc = _document(fmt)
    tmp = tempfile.mkdtemp(
        prefix=".skyway-", dir=os.path.dirname(os.path.abspath(out)) if to_file else None
    )
    try:
        path = os.path.join(tmp, "elements")
        write_elements(df, path, fmt, metadata)
        parts = [n for n in os.listdir(path) if n.startswith("part-")]
        with open(out, "w", encoding="utf-8", newline="") if to_file else nullcontext(out) as f:
            f.write(doc.header(metadata or empty_metadata()))
            sep = ""
            for name in sorted(parts, key=lambda n: (int(n.split("-")[1]), n)):
                with open(os.path.join(path, name), encoding="utf-8", newline="\n") as lines:
                    for line in lines:
                        f.write(sep + line.removesuffix("\n") + doc.end)
                        sep = doc.sep
            f.write(doc.footer)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def serialize_string(df: DataFrame, fmt: str, metadata: dict | None = None) -> str:
    """The whole document as one string (fixture scale)."""
    buf = io.StringIO()
    write_document(df, fmt, metadata, buf)
    return buf.getvalue()
