"""OSM-XML writer + reader.

Writer layout re-derived from src/writers/xml.rs:
- document: ``<?xml version="1.0" encoding="UTF-8"?>`` then one
  ``<osm>`` root with version/generator/copyright/license attributes,
  each skipped when absent (:108-119 skip_serializing_if);
- elements grouped nodes -> ways -> relations (:120-130, 158-198);
- node attrs ``lat lon id user uid visible version changeset
  timestamp`` (struct order :61-70 + flattened meta :43-58); way:
  meta then ``<nd ref>`` then tags; relation: meta then ``<member
  type ref role>`` then tags;
- ``visible`` defaults to true when null (:172);
- None attributes omitted, matching quick-xml's Option handling.

The reference buffers the ENTIRE dataset in RAM before serializing
(:200-213). We don't: per-element XML fragments are produced by a
vectorized Arrow UDF and written distributed; only the tiny envelope
is driver-side. Canonical (type, id) order; tags sorted by key
(SURVEY §7.5).

Reader (src/readers/xml.rs): whole-document parse; emits nodes, then
ways, then relations (:250-273); ``bounds`` ignored (:146-157);
permissive string->number/bool coercions (:4-7, 69-95). The parsed
rows reach Spark as an Arrow ``LocalRelation``, not an RDD of pickled
rows.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from skyway_spark.plans.session import local_frame
from skyway_spark.schema import ELEMENTS_SCHEMA, empty_metadata
from skyway_spark.sources._rowutil import element_struct, node_xy, records, seq


def _esc(v: str) -> str:
    # quick-xml escapes &<>'" only; we additionally write \n \r \t as
    # numeric character references, since XML attribute-value
    # normalization would otherwise turn them into spaces on read —
    # preserving round-trip fidelity the reference silently loses.
    return (
        v.replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
        .replace("'", "&apos;")
        .replace("\n", "&#10;")
        .replace("\r", "&#13;")
        .replace("\t", "&#9;")
    )


def serialize_element_xml_py(e: dict) -> str:
    t = e["type"]
    attrs: list[tuple[str, str]] = []
    if t == "node":
        lat, lon = node_xy(e)
        attrs += [("lat", lat), ("lon", lon)]
    # flattened XmlElementMeta order (src/writers/xml.rs:43-58)
    attrs.append(("id", str(int(e["id"]))))
    if e.get("user") is not None:
        attrs.append(("user", e["user"]))
    if e.get("uid") is not None:
        attrs.append(("uid", str(int(e["uid"]))))
    vis = e.get("visible")
    attrs.append(("visible", "true" if (vis is None or bool(vis)) else "false"))
    if e.get("version") is not None:
        attrs.append(("version", str(int(e["version"]))))
    if e.get("changeset") is not None:
        attrs.append(("changeset", str(int(e["changeset"]))))
    if e.get("timestamp") is not None:
        attrs.append(("timestamp", e["timestamp"]))

    children: list[str] = []
    if t == "way":
        children += [f'<nd ref="{int(n)}"/>' for n in seq(e["nodes"])]
    elif t == "relation":
        for m in seq(e["members"]):
            mattrs = []
            if m["type"] is not None:
                mattrs.append(f'type="{_esc(m["type"])}"')
            mattrs.append(f'ref="{int(m["ref"])}"')
            if m["role"] is not None:
                mattrs.append(f'role="{_esc(m["role"])}"')
            children.append("<member " + " ".join(mattrs) + "/>")
    for k in sorted((e.get("tags") or {}).keys()):
        children.append(f'<tag k="{_esc(k)}" v="{_esc(e["tags"][k])}"/>')

    attr_s = " ".join(f'{k}="{_esc(v)}"' for k, v in attrs)
    if children:
        return f"<{t} {attr_s}>" + "".join(children) + f"</{t}>"
    return f"<{t} {attr_s}/>"


@F.pandas_udf(StringType())
def _element_xml_udf(rows: pd.DataFrame) -> pd.Series:
    return pd.Series([serialize_element_xml_py(r) for r in records(rows)])


def xml_envelope_open(metadata: dict) -> str:
    attrs = []
    for k in ("version", "generator", "copyright", "license"):
        if metadata.get(k) is not None:
            attrs.append(f'{k}="{_esc(metadata[k])}"')
    head = '<?xml version="1.0" encoding="UTF-8"?>'
    return head + ("<osm " + " ".join(attrs) + ">" if attrs else "<osm>")


def element_xml_col(df: DataFrame):
    return _element_xml_udf(element_struct())


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------


def _opt_int(el: ET.Element, name: str):
    v = el.get(name)
    return int(v) if v is not None else None


def _opt_bool(el: ET.Element, name: str):
    v = el.get(name)
    if v is None:
        return None
    return v.strip().lower() in ("true", "1")


def _tags_of(el: ET.Element) -> dict:
    return {t.get("k"): t.get("v") for t in el.findall("tag")}


def _meta_of(el: ET.Element) -> tuple:
    return (
        _opt_int(el, "changeset"),
        _opt_int(el, "uid"),
        el.get("user"),
        _opt_int(el, "version"),
        el.get("timestamp"),
        _opt_bool(el, "visible"),
    )


def parse_xml_document(spark: SparkSession, text: str) -> tuple[DataFrame, dict]:
    """Whole-document parse on the driver, as the reference does; the
    rows become an Arrow ``LocalRelation`` (``local_frame``)."""
    root = ET.fromstring(text)
    md = empty_metadata()
    for k in ("version", "generator", "copyright", "license"):
        md[k] = root.get(k)
    rows = []
    # nodes, then ways, then relations (src/readers/xml.rs:250-273);
    # <bounds> ignored (:146-157)
    for el in root.findall("node"):
        cs, uid, user, ver, ts, vis = _meta_of(el)
        rows.append(
            ("node", int(el.get("id")), float(el.get("lat")), float(el.get("lon")),
             None, None, _tags_of(el), cs, uid, user, ver, ts, vis)
        )
    for el in root.findall("way"):
        cs, uid, user, ver, ts, vis = _meta_of(el)
        nodes = [int(nd.get("ref")) for nd in el.findall("nd")]
        rows.append(
            ("way", int(el.get("id")), None, None, nodes, None,
             _tags_of(el), cs, uid, user, ver, ts, vis)
        )
    for el in root.findall("relation"):
        cs, uid, user, ver, ts, vis = _meta_of(el)
        members = [
            (m.get("type"), int(m.get("ref")), m.get("role")) for m in el.findall("member")
        ]
        rows.append(
            ("relation", int(el.get("id")), None, None, None, members,
             _tags_of(el), cs, uid, user, ver, ts, vis)
        )
    return local_frame(spark, rows, ELEMENTS_SCHEMA), md


def read_xml(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    with open(path, encoding="utf-8") as f:
        return parse_xml_document(spark, f.read())
