"""Format dispatch — the engine's equivalent of the reference CLI's
--from/--to resolution (src/main.rs:23-48, src/readers/mod.rs:36-50,
src/writers/mod.rs:25-48).

Formats: read opl | json (OSM + Overpass) | xml | pbf, one reader
each; write opl | json | overpass | xml. o5m is omitted — disabled in
the reference itself (src/writers/mod.rs:27,40) with an unimplemented
element body and a latent descending-id bug we do not replicate
(SURVEY §7.5). OSMX is an unreachable stub in the reference
(src/readers/osmx.rs:12-14) and omitted.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from skyway_spark.sources import jsonio, opl, xmlio

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
    if fmt == "json":
        return jsonio.read_json(spark, path)
    if fmt == "opl":
        return opl.read_opl(spark, path)
    if fmt == "xml":
        return xmlio.read_xml(spark, path)
    if fmt == "pbf":
        return read_pbf(spark, path)
    raise ValueError(f"unknown input format {fmt!r}")


def read_pbf(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """Distributed PBF decode (sources/pbf.py): blob-index scan on the
    driver, per-blob pure-Python protobuf decode across executors —
    the reference's blob-parallel rayon decode
    (src/readers/pbf.rs:129-160) with executors instead of a 6-thread
    pool, and no native dependency."""
    from skyway_spark.sources import pbf as pbfio
    from skyway_spark.sources.jsonio import empty_metadata

    df = pbfio.read_pbf(spark, path)
    hdr = pbfio.read_pbf_metadata(path)
    md = empty_metadata()
    md["generator"] = hdr.get("generator")
    if any("OsmSchema-V0.6" in f for f in hdr.get("features", [])):
        md["version"] = "0.6"
    return df, md


def serialize_string(
    df: DataFrame, fmt: str, metadata: dict | None = None
) -> str:
    """Full-document serialization to one string (fixture scale)."""
    if fmt == "opl":
        return opl.serialize_opl_string(df)
    if fmt == "json":
        return jsonio.serialize_json_string(df, metadata)
    if fmt == "overpass":
        return jsonio.serialize_json_string(df, metadata, overpass=True)
    if fmt == "xml":
        return xmlio.serialize_xml_string(df, metadata)
    raise ValueError(f"unknown output format {fmt!r}")


def write_elements(
    df: DataFrame, path: str, fmt: str | None = None, metadata: dict | None = None
) -> None:
    """Distributed write (scale path)."""
    fmt = fmt or infer_format(path, _WRITE_EXT)
    if fmt == "opl":
        opl.write_opl(df, path)
    elif fmt == "json":
        jsonio.write_json(df, path, metadata)
    elif fmt == "overpass":
        jsonio.write_json(df, path, metadata, overpass=True)
    elif fmt == "xml":
        xmlio.write_xml(df, path, metadata)
    else:
        raise ValueError(f"unknown output format {fmt!r}")
