"""OSM-JSON / Overpass-JSON writer + reader.

Writer layout re-derived from src/writers/json.rs:
- element field order: ``type, (lat,lon | nodes | members), id,
  changeset, timestamp, uid, user, [visible], tags`` (:74-188);
- ``visible`` emitted ONLY when false (:165-168);
- member order ``ref, [type], role`` with ``role: null -> ""``
  (:118-137); member type None omits the "type" key (:127);
- tags object omitted entirely when empty (:171-185);
- OSM header: optional generator/copyright/license then
  ``"version":"0.6"`` (string, :54-69); Overpass header: optional
  generator then ``osm3s{timestamp_osm_base, copyright}`` and
  NUMERIC ``"version":0.6`` (:33-52).

The per-element string is built in one vectorized Arrow pandas UDF
(arrays/maps must be iterated anyway); floats use Python repr ==
shortest round-trip (lexical::to_string). Tag order canonicalized to
sorted keys (reference HashMap order is nondeterministic, SURVEY §7.5).
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from skyway_spark.plans.session import local_frame
from skyway_spark.schema import ELEMENTS_SCHEMA, empty_metadata
from skyway_spark.sources._rowutil import element_struct, node_xy, records, seq

_J = json.dumps  # compact string quoting, like json::stringify


def serialize_element_py(e: dict) -> str:
    """One element -> JSON string, exact field order of
    append_serialized_element (src/writers/json.rs:74-188)."""
    parts = ['{"type":']
    t = e["type"]
    if t == "node":
        lat, lon = node_xy(e)
        parts.append(f'"node","lat":{lat},"lon":{lon}')
    elif t == "way":
        parts.append('"way","nodes":[' + ",".join(str(int(n)) for n in seq(e["nodes"])) + "]")
    else:
        mparts = []
        for m in seq(e["members"]):
            s = '{"ref":' + str(int(m["ref"]))
            if m["type"] in ("node", "way", "relation"):
                s += f',"type":"{m["type"]}"'
            role = m["role"]
            s += ',"role":' + (_J(role) if role is not None else '""')
            mparts.append(s + "}")
        parts.append('"relation","members":[' + ",".join(mparts) + "]")
    parts.append(f',"id":{int(e["id"])}')
    if e.get("changeset") is not None:
        parts.append(f',"changeset":{int(e["changeset"])}')
    if e.get("timestamp") is not None:
        parts.append(f',"timestamp":{_J(e["timestamp"])}')
    if e.get("uid") is not None:
        parts.append(f',"uid":{int(e["uid"])}')
    if e.get("user") is not None:
        parts.append(f',"user":{_J(e["user"])}')
    vis = e.get("visible")
    if vis is not None and not vis:  # only-if-false (json.rs:165-168)
        parts.append(',"visible":false')
    tags = e.get("tags") or {}
    if tags:
        body = ",".join(f"{_J(k)}:{_J(v)}" for k, v in sorted(tags.items()))
        parts.append(',"tags":{' + body + "}")
    parts.append("}")
    return "".join(parts)


@F.pandas_udf(StringType())
def _element_json_udf(rows: pd.DataFrame) -> pd.Series:
    return pd.Series([serialize_element_py(r) for r in records(rows)])


def create_header(metadata: dict, overpass: bool) -> str:
    """Document header (src/writers/json.rs:23-72)."""
    h = "{"
    if metadata.get("generator") is not None:
        h += f'"generator":{_J(metadata["generator"])},'
    if overpass:
        h += '"osm3s":{'
        appended = False
        if metadata.get("timestamp") is not None:
            h += f'"timestamp_osm_base":{_J(metadata["timestamp"])}'
            appended = True
        if metadata.get("copyright") is not None:
            if appended:
                h += ","
            h += f'"copyright":{_J(metadata["copyright"])}'
        h += '},"version":0.6,"elements":['
    else:
        if metadata.get("copyright") is not None:
            h += f'"copyright":{_J(metadata["copyright"])},'
        if metadata.get("license") is not None:
            h += f'"license":{_J(metadata["license"])},'
        h += '"version":"0.6","elements":['
    return h


def element_json_col(df: DataFrame):
    """Column of per-element JSON strings (vectorized UDF over the
    full row struct)."""
    return _element_json_udf(element_struct())


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------


def _parse_metadata(doc: dict) -> dict:
    """MetadataDef semantics (src/readers/json.rs:101-138): version
    accepts number-or-string; copyright/timestamp from nested osm3s or
    flat copyright."""
    md = empty_metadata()
    v = doc.get("version")
    if v is not None:
        md["version"] = v if isinstance(v, str) else repr(float(v))
    md["generator"] = doc.get("generator")
    md["license"] = doc.get("license")
    if isinstance(doc.get("osm3s"), dict):
        md["timestamp"] = doc["osm3s"].get("timestamp_osm_base")
        md["copyright"] = doc["osm3s"].get("copyright")
    else:
        md["copyright"] = doc.get("copyright")
    return md


def _int_field(v):
    """An optional integer field: a JSON float is a type error, as in
    the reference's serde structs (Arrow would truncate it)."""
    if isinstance(v, float):
        raise TypeError(f"expected an integer, got {v!r}")
    return v


def _element_from_json(d: dict) -> tuple:
    t = d.get("type")
    members = None
    if t == "relation":
        members = [
            (m.get("type"), int(m["ref"]), m.get("role")) for m in d.get("members", [])
        ]
    return (
        t,
        int(d["id"]),
        float(d["lat"]) if t == "node" else None,
        float(d["lon"]) if t == "node" else None,
        [int(n) for n in d.get("nodes", [])] if t == "way" else None,
        members,
        {str(k): str(v) for k, v in (d.get("tags") or {}).items()},
        _int_field(d.get("changeset")),
        _int_field(d.get("uid")),
        d.get("user"),
        _int_field(d.get("version")),
        d.get("timestamp"),
        d.get("visible"),
    )


def parse_json_document(spark: SparkSession, text: str) -> tuple[DataFrame, dict]:
    """Whole-document parse (reference does the same driver-side,
    src/readers/json.rs:163-192). Unknown fields (Overpass bounds/
    geometry) are ignored, matching serde's lenient structs.

    The rows become an Arrow ``LocalRelation`` (``local_frame``): no
    per-row pickling, and later jobs read the rows without unpickling
    them again."""
    doc = json.loads(text)
    md = _parse_metadata(doc)
    rows = [_element_from_json(e) for e in doc.get("elements", [])]
    return local_frame(spark, rows, ELEMENTS_SCHEMA), md


def read_json(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    with open(path, encoding="utf-8") as f:
        return parse_json_document(spark, f.read())
