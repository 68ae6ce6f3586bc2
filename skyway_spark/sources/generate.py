"""Deterministic synthetic data generators (seed-stable, no external
data): the elements fixture table, the Common-Crawl-style pages
table (BASELINE.json input_hint schema), and the polygons table.

Pages are generated DISTRIBUTED via spark.range -> Column exprs +
one vectorized UDF-free path, so the bench can synthesize 10^6+ rows
without driver involvement; lat/lon skew is power-law-ish: 80% of
geo mentions drawn from 5 "hot city" disks (FIXTURES.md §1) to
exercise hot-cell salting.
"""

from __future__ import annotations

import datetime as dt
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skyway_spark.plans.session import local_frame
from skyway_spark.schema import ELEMENTS_SCHEMA, POLYGONS_SCHEMA

# ---------------------------------------------------------------------------
# elements fixture (FIXTURES.md §2) — 300 rows, driver-side, seeded
# ---------------------------------------------------------------------------

_TAG_KEYS = ("highway", "footway", "surface", "amenity", "type", "name")
_TAG_VALUES = (
    "tertiary", "sidewalk", "concrete", "cafe", "route", "Main St",
    "a b", "x,y", "k=v", "a@b", "50%", "line\nbreak", "😱", "𒄈", "",
)
_USERS = ("alice", "bob w space", "émile", "😱user", None)


def element_rows(n_nodes=150, n_ways=100, n_rels=50, seed=42) -> list[tuple]:
    """Pure-Python fixture rows (no Spark) — the same list backs
    ``generate_elements`` and the DuckDB VALUES oracle of
    q_pbf_roundtrip, so oracle construction never needs a session.
    Python's Mersenne Twister is version-stable, so the fixture is
    identical everywhere."""
    rng = random.Random(seed)
    rows = []

    def meta(i):
        return (
            rng.randrange(1, 10_000) if rng.random() < 0.8 else None,  # changeset
            rng.randrange(1, 5_000) if rng.random() < 0.7 else None,  # uid
            rng.choice(_USERS),  # user
            rng.randrange(1, 30) if rng.random() < 0.9 else None,  # version
            f"2024-0{rng.randrange(1, 10)}-1{i % 10}T0{i % 10}:00:00Z"
            if rng.random() < 0.6
            else None,  # timestamp (opaque string)
            rng.choice([True, False, None]),  # visible
        )

    def tags():
        n = rng.randrange(0, 9)
        return {rng.choice(_TAG_KEYS): rng.choice(_TAG_VALUES) for _ in range(n)}

    for i in range(n_nodes):
        lat = round(rng.uniform(-85.0, 85.0), 7)
        lon = round(rng.uniform(-180.0, 180.0), 7)
        rows.append(("node", 1000 + i, lat, lon, None, None, tags(), *meta(i)))
    for i in range(n_ways):
        nds = [rng.randrange(1000, 1000 + n_nodes) for _ in range(rng.randrange(2, 41))]
        rows.append(("way", 5000 + i, None, None, nds, None, tags(), *meta(i)))
    for i in range(n_rels):
        members = [
            (
                rng.choice(["node", "way", "relation"]),
                rng.randrange(1000, 6000),
                rng.choice(["outer", "inner", "", "stop", None]),
            )
            for _ in range(rng.randrange(1, 8))
        ]
        rows.append(("relation", 9000 + i, None, None, None, members, tags(), *meta(i)))
    return rows


def generate_elements(spark: SparkSession) -> DataFrame:
    return local_frame(spark, element_rows(), ELEMENTS_SCHEMA)


# ---------------------------------------------------------------------------
# pages table — distributed, deterministic (hash-based, no RNG state)
# ---------------------------------------------------------------------------

# 5 hot cities (FIXTURES.md §1): ~80% of geo mentions cluster here
HOT_CITIES = (
    (40.7128, -74.0060),   # nyc
    (51.5074, -0.1278),    # london
    (35.6762, 139.6503),   # tokyo
    (-23.5505, -46.6333),  # sao paulo
    (28.6139, 77.2090),    # delhi
)

_GEO_KINDS = ("cafe", "bench", "station", "museum", "park")


# Portable page-generator arithmetic: every draw is integer math mod
# the Mersenne prime 2^31-1. Chained multiplications alone stay AFFINE
# mod P, which made same-row draws for different salts perfectly
# correlated (all cold points on one wrapped line); the hash is
# therefore the PRODUCT OF TWO DISTINCT AFFINE FORMS — quadratic in
# the row id (kills the correlation; disk-hit ratios ~1.0 across
# random 2-D windows), overflow-safe ((P-1)^2 has 62 bits), and each
# subexpression appears exactly ONCE so whole-stage codegen never
# blows the 64KB method limit (an x*x formulation triples a large
# expression tree textually and forced interpreted fallback). The
# SAME rows are derivable in plain SQL on any engine — that is what
# gives q_extract_entities / q_pages_pipeline / q_media_features
# exact DuckDB oracles. Coordinates are integer MICRODEGREES rendered
# to fixed 6-decimal strings with integer ops only (double->string
# formatting is not portable across engines).
PAGE_PRIME = 2_147_483_647
_PH_A1, _PH_A2 = 16807, 48271
_PH_B1, _PH_B2 = 2_654_435_761, 1_103_515_245
HOT_CITIES_U = tuple(
    (int(round(lat * 1e6)), int(round(lon * 1e6))) for lat, lon in HOT_CITIES
)


def _ph(i, salt: int):
    """Column: deterministic hash of (row id, salt) in [0, PAGE_PRIME)."""
    r = F.pmod(i, F.lit(PAGE_PRIME))
    f1 = F.pmod(r * _PH_A1 + F.lit((salt * _PH_B1) % PAGE_PRIME + 1), F.lit(PAGE_PRIME))
    f2 = F.pmod(r * _PH_A2 + F.lit((salt * _PH_B2) % PAGE_PRIME + 3), F.lit(PAGE_PRIME))
    return F.pmod(f1 * f2, F.lit(PAGE_PRIME))


def _fmt_microdeg(u):
    """Column: signed integer microdegrees -> '[-]D.DDDDDD' string,
    integer-built (portable to SQL bit-for-bit)."""
    a = F.abs(u)
    return F.concat(
        F.when(u < 0, F.lit("-")).otherwise(F.lit("")),
        F.floor(a / 1_000_000).cast("long").cast("string"),
        F.lit("."),
        F.lpad(F.pmod(a, 1_000_000).cast("string"), 6, "0"),
    )


def generate_pages(spark: SparkSession, n_rows: int, partitions: int | None = None) -> DataFrame:
    """(url, warc_ts, html, text, lang) with 0-5 deterministic geo
    mentions ``@geo(<lat>,<lon>;name=<slug>;amenity=<kind>)`` embedded
    in text. Pure Column exprs over spark.range — scales linearly with
    executors; identical output for a given n_rows regardless of
    parallelism (hash-of-id determinism, no RNG sequence), and exactly
    reproducible in SQL (see _page_mentions_sql in __spark_entry__).

    Note on codegen: the mention arithmetic is a large expression
    tree, and ``prose`` feeds two output columns (html, text).  The
    expression is therefore built in three stacked projections
    (coordinates, prose, output) whose multi-referenced columns
    Catalyst's cost-aware CollapseProject keeps apart, so ``prose`` is
    computed exactly once and each projection compiles to modest
    methods.  Without the split, CollapseProject re-inlines the tree
    per use when a consumer fuses extraction regexes on top, and the
    fused stage blows Janino's 64 KB method limit into interpreted
    fallback (round-3 exit sweep: 9 of the 12 "Code grows beyond 64
    KB" hits were consumers of this generator --
    BENCH/SWEEP_r03c.log).  A Generate barrier is wrong here: the
    whole struct payload becomes one unsplittable method."""
    df = spark.range(0, n_rows, 1, partitions or spark.sparkContext.defaultParallelism)
    i = F.col("id")

    # Projection 1: the per-mention microdegree coordinates, one output
    # column each.  ProjectExec splits independent outputs into their
    # own Janino methods, so each ~4 KB coordinate tree compiles on its
    # own; and because _fmt_microdeg references each coordinate THREE
    # times downstream, Catalyst's cost-aware CollapseProject never
    # re-inlines them (non-cheap multi-referenced producers are kept).
    def lat_lon_u(j: int):
        hot = _ph(i, 10 + j) < (PAGE_PRIME * 4) // 5  # 80% hot
        city = _ph(i, 20 + j) % len(HOT_CITIES_U)
        dlat = _ph(i, 30 + j) % 200_001 - 100_000  # +-0.1 deg
        dlon = _ph(i, 40 + j) % 200_001 - 100_000
        hot_lat = F.element_at(
            F.array(*[F.lit(c[0]) for c in HOT_CITIES_U]), city.cast("int") + 1
        ) + dlat
        hot_lon = F.element_at(
            F.array(*[F.lit(c[1]) for c in HOT_CITIES_U]), city.cast("int") + 1
        ) + dlon
        cold_lat = _ph(i, 50 + j) % 170_000_001 - 85_000_000
        cold_lon = _ph(i, 60 + j) % 360_000_001 - 180_000_000
        return (
            F.when(hot, hot_lat).otherwise(cold_lat),
            F.when(hot, hot_lon).otherwise(cold_lon),
        )

    coord_cols = []
    for j in range(5):
        lat_u, lon_u = lat_lon_u(j)
        coord_cols += [lat_u.alias(f"__lat{j}"), lon_u.alias(f"__lon{j}")]
    base = df.select(i.alias("id"), *coord_cols)
    i = F.col("id")

    # Projection 2: prose assembled from the coordinate ATTRIBUTES —
    # the remaining mention text (kind pick, name slug, n_mentions
    # gate) is small, so the whole string tree stays one modest method.
    def mention(j: int):
        kind = F.element_at(
            F.array(*[F.lit(k) for k in _GEO_KINDS]),
            (_ph(i, 70 + j) % len(_GEO_KINDS)).cast("int") + 1,
        )
        return F.concat(
            F.lit(" @geo("),
            _fmt_microdeg(F.col(f"__lat{j}")),
            F.lit(","),
            _fmt_microdeg(F.col(f"__lon{j}")),
            F.lit(";name=place-"),
            i.cast("string"),
            F.lit("-" + str(j)),
            F.lit(";amenity="),
            kind,
            F.lit(")"),
        )

    n_mentions = (_ph(i, 1) % 6).cast("int")  # 0..5
    mentions = F.concat(
        *[F.when(n_mentions > j, mention(j)).otherwise(F.lit("")) for j in range(5)]
    )
    prose = F.concat(
        F.lit("Page "),
        i.cast("string"),
        F.lit(" tells a story about travel and places."),
        mentions,
        F.lit(" The end."),
    )
    lv = _ph(i, 2)
    lang = (
        F.when(lv < (PAGE_PRIME * 90) // 100, "en")
        .when(lv < (PAGE_PRIME * 94) // 100, "de")
        .when(lv < (PAGE_PRIME * 98) // 100, "fr")
        .otherwise("und")
    )
    ts0 = F.lit(dt.datetime(2024, 1, 1)).cast("timestamp")
    # Projection 3: prose aliased once here, referenced twice (html,
    # text) by the outer projection — again protected from collapse by
    # the cost-aware rule, so the string tree is codegen'd ONCE.
    # (A Generate/inline barrier is WRONG for this: the whole struct
    # payload becomes one unsplittable 1.4 MB Janino method.)
    mid = base.select(i.alias("id"), prose.alias("__prose"), lang.alias("lang"))
    i, prose = F.col("id"), F.col("__prose")
    return mid.select(
        F.concat(F.lit("https://example.org/p/"), i.cast("string")).alias("url"),
        F.timestamp_add("SECOND", i.cast("int"), ts0).alias("warc_ts"),
        F.encode(
            F.concat(F.lit("<html><body>"), prose, F.lit("</body></html>")), "utf-8"
        ).alias("html"),
        prose.alias("text"),
        F.col("lang").alias("lang"),
    )


# ---------------------------------------------------------------------------
# polygons — driver-side, seeded, broadcastable
# ---------------------------------------------------------------------------


def _regular_ring(lat0, lon0, r_deg, n):
    import math

    pts = []
    for k in range(n):
        a = 2 * math.pi * k / n
        pts.append((lat0 + r_deg * math.sin(a), lon0 + r_deg * math.cos(a)))
    pts.append(pts[0])  # closed ring
    return pts


def polygon_rows(n_scatter=35, seed=42) -> list[tuple]:
    """Pure-Python polygon fixture rows (no Spark) — shared by
    generate_polygons and the DuckDB edge-table oracle of
    q_pages_pipeline."""
    rng = random.Random(seed)
    rows = []
    pid = 0
    for lat0, lon0 in HOT_CITIES:
        rows.append((pid, f"hot-{pid}", _regular_ring(lat0, lon0, 0.15, 12), "outer"))
        pid += 1
    for s in range(n_scatter):
        lat0 = rng.uniform(-60.0, 60.0)
        lon0 = rng.uniform(-170.0, 170.0)
        shape = s % 3
        if shape == 0:  # convex
            ring = _regular_ring(lat0, lon0, rng.uniform(0.5, 3.0), rng.randrange(4, 10))
        elif shape == 1:  # concave (jittered star)
            import math

            r = rng.uniform(0.5, 3.0)
            pts = []
            n = rng.randrange(5, 9) * 2
            for k in range(n):
                a = 2 * math.pi * k / n
                rr = r if k % 2 == 0 else r * 0.4
                pts.append((lat0 + rr * math.sin(a), lon0 + rr * math.cos(a)))
            pts.append(pts[0])
            ring = pts
        else:  # with hole: outer + hole row sharing polygon_id
            ring = _regular_ring(lat0, lon0, rng.uniform(1.0, 3.0), 8)
            rows.append((pid, f"poly-{pid}", ring, "outer"))
            rows.append(
                (pid, f"poly-{pid}", _regular_ring(lat0, lon0, 0.3, 6), "hole")
            )
            pid += 1
            continue
        rows.append((pid, f"poly-{pid}", ring, "outer"))
        pid += 1
    return rows


def generate_polygons(spark: SparkSession, n_scatter=35, seed=42) -> DataFrame:
    """~40 polygons: 5 covering the hot-city disks (salting exercise),
    the rest scattered; mix of convex / concave / one with a hole.

    A ``LocalRelation`` (``local_frame``), so ``point_in_polygon``
    collects its rings without running a Spark job."""
    return local_frame(spark, polygon_rows(n_scatter, seed), POLYGONS_SCHEMA)


# ---------------------------------------------------------------------------
# linked pages — distributed, deterministic web-graph fixture
# ---------------------------------------------------------------------------

LINK_HOSTS = 40
_LINK_WORDS = ("visit", "see", "map", "guide", "info")


def generate_linked_pages(spark: SparkSession, n_rows: int) -> DataFrame:
    """Common-Crawl-style pages whose ``html`` carries 0-3 deterministic
    ``<a href>`` anchors to other pages in the same corpus — the
    substrate for the web link-graph operators (href extraction, host
    graph, anchor-text mining).  Same portable arithmetic contract as
    ``generate_pages``: every draw is the quadratic hash ``_ph`` mod the
    Mersenne prime, so the identical link stream is derivable in plain
    SQL on any engine (``_linked_pages_sql`` in __spark_entry__), and
    output is independent of parallelism.

    Page ``i`` lives on host ``h{i % LINK_HOSTS}.example``; link ``j``
    (emitted while ``_ph(i, 81) % 4 > j``) targets page
    ``t = _ph(i, 90 + j) % n_rows`` with anchor text
    ``"{word} place {t}"``.  Schema matches the BASELINE.json pages
    input_hint: (url, warc_ts, html:binary, text, lang).
    """
    df = spark.range(0, n_rows, 1, spark.sparkContext.defaultParallelism)
    i = F.col("id")
    src_host = F.concat(F.lit("h"), F.pmod(i, F.lit(LINK_HOSTS)).cast("string"), F.lit(".example"))

    n_links = (_ph(i, 81) % 4).cast("int")

    def atag(j: int):
        t = _ph(i, 90 + j) % n_rows
        word = F.element_at(
            F.array(*[F.lit(w) for w in _LINK_WORDS]),
            (_ph(i, 97 + j) % len(_LINK_WORDS)).cast("int") + 1,
        )
        href = F.concat(
            F.lit("https://h"), F.pmod(t, F.lit(LINK_HOSTS)).cast("string"),
            F.lit(".example/p/"), t.cast("string"),
        )
        anchor = F.concat(word, F.lit(" place "), t.cast("string"))
        return F.concat(F.lit('<a href="'), href, F.lit('">'), anchor, F.lit("</a>"))

    links = F.concat(
        *[F.when(n_links > j, atag(j)).otherwise(F.lit("")) for j in range(3)]
    )
    prose = F.concat(
        F.lit("Page "), i.cast("string"), F.lit(" of "), src_host, F.lit(".")
    )
    lv = _ph(i, 2)
    lang = (
        F.when(lv < (PAGE_PRIME * 90) // 100, "en")
        .when(lv < (PAGE_PRIME * 94) // 100, "de")
        .when(lv < (PAGE_PRIME * 98) // 100, "fr")
        .otherwise("und")
    )
    ts0 = F.lit(dt.datetime(2024, 1, 1)).cast("timestamp")
    return df.select(
        F.concat(F.lit("https://"), src_host, F.lit("/p/"), i.cast("string")).alias("url"),
        F.timestamp_add("SECOND", i.cast("int"), ts0).alias("warc_ts"),
        F.encode(
            F.concat(F.lit("<html><body><p>"), prose, F.lit("</p>"), links, F.lit("</body></html>")),
            "utf-8",
        ).alias("html"),
        prose.alias("text"),
        lang.alias("lang"),
    )
