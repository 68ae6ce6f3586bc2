"""Geo-entity extraction from web pages (north-rule stage 1).

pages(url, warc_ts, html, text, lang) -> one row per geo mention in
``text``, in the canonical elements schema (type='node'), plus the
pass-through ``text`` column so the byte-identical-text-per-url
invariant (BASELINE.json input_hint) is checkable end-to-end.

Pure Column exprs: regexp_extract_all + explode; no Python touches
the rows. Extraction NEVER rewrites ``text`` — the invariant holds by
construction and is asserted in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# @geo(<lat>,<lon>;name=<slug>;amenity=<kind>)
GEO_RE = r"@geo\((-?[0-9.]+),(-?[0-9.]+);name=([^;]+);amenity=([^)]+)\)"


def extract_geo_entities(pages: DataFrame) -> DataFrame:
    """One output row per mention: url, text (byte-identical), lat,
    lon, tags{name, amenity}, plus a deterministic entity id.

    One regex pass finds the mentions; the fields are then cut out of
    the match by position instead of four more regex evaluations per
    mention. The match is exactly ``@geo(`` + lat + ``,`` + lon +
    ``;name=`` + name + ``;amenity=`` + amenity + ``)``, where lat and
    lon hold no ``,``/``;`` and name holds no ``;`` (amenity may hold
    ``;``, ``=`` and ``(``), so each field equals its regex group.
    Numbers the regex admits but a double cast does not (``1.2.3``,
    ``.``) give a null lat/lon rather than failing the job."""
    mentions = pages.select(
        "url",
        "text",
        "lang",
        F.posexplode(F.regexp_extract_all("text", F.lit(GEO_RE), 0)).alias("pos", "mention"),
    )
    mention = F.col("mention")
    inner = mention.substr(F.lit(6), F.length(mention) - 6)  # strip "@geo(" and ")"
    # the ";"-split array is aliased ONCE here and referenced four
    # times below — Catalyst's cost-aware CollapseProject keeps a
    # non-cheap multi-referenced producer un-collapsed, so the byte
    # scans run once per mention, not once per output field (and not
    # AGAIN inside downstream filters)
    parts_df = mentions.select(
        "url", "text", "lang", "pos", F.split(inner, ";", 3).alias("__parts")
    )
    parts = F.col("__parts")  # [lat,lon | name=slug | amenity=kind]
    latlon = F.split(F.element_at(parts, 1), ",", 2)
    lat = F.element_at(latlon, 1).try_cast("double")
    lon = F.element_at(latlon, 2).try_cast("double")
    name = F.substring(F.element_at(parts, 2), len("name=") + 1, 1 << 30)
    amenity = F.substring(F.element_at(parts, 3), len("amenity=") + 1, 1 << 30)
    return parts_df.select(
        "url",
        "text",
        "lang",
        F.lit("node").alias("type"),
        # deterministic, collision-resistant id per (url, position);
        # xxhash64 deliberately (64-bit, no collisions at 10^12 rows) —
        # 'pos' rides along as the portable mention ordinal so contract
        # queries can be oracle-checked without mirroring xxhash64
        F.xxhash64("url", "pos").alias("id"),
        F.col("pos").cast("int").alias("pos"),
        lat.alias("lat"),
        lon.alias("lon"),
        # create_map (not map_from_arrays): Catalyst's
        # SimplifyExtractValueOps only matches CreateMap, so a
        # downstream tags["amenity"] collapses to the amenity
        # expression instead of re-running the whole parse chain to
        # build a 2-entry map per row just to index it
        F.create_map(
            F.lit("name"), name, F.lit("amenity"), amenity
        ).alias("tags"),
    )


def pages_to_elements(pages: DataFrame) -> DataFrame:
    """Strict elements-schema projection of the extraction (drops the
    page columns; use extract_geo_entities when the url/text lineage
    must flow further)."""
    e = extract_geo_entities(pages)
    return e.select(
        "type",
        "id",
        "lat",
        "lon",
        F.lit(None).cast("array<bigint>").alias("nodes"),
        F.lit(None).cast("array<struct<type:string,ref:bigint,role:string>>").alias("members"),
        "tags",
        F.lit(None).cast("bigint").alias("changeset"),
        F.lit(None).cast("int").alias("uid"),
        F.lit(None).cast("string").alias("user"),
        F.lit(None).cast("int").alias("version"),
        F.lit(None).cast("string").alias("timestamp"),
        F.lit(None).cast("boolean").alias("visible"),
    )
