"""Spatial operators vs brute-force oracles: PIP (convex/concave/
hole), bounded kNN, tiles, salting, extraction invariants."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from skyway_spark.functions import cells
from skyway_spark.functions.geo import haversine_km_np
from skyway_spark.operators import salt, tiles
from skyway_spark.operators.extract import extract_geo_entities, pages_to_elements
from skyway_spark.operators.knn import knn_join
from skyway_spark.operators.rangejoin import range_join
from skyway_spark.operators.pip import point_in_polygon, ray_cast_py
from skyway_spark.schema import POLYGONS_SCHEMA
from skyway_spark.sources.generate import generate_pages, generate_polygons


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, 2000, partitions=4).cache()


@pytest.fixture(scope="module")
def entities(spark, pages):
    return extract_geo_entities(pages).cache()


# ------------------------------ extraction ------------------------------


def test_extraction_counts_and_determinism(spark, pages, entities):
    n = entities.count()
    assert n > 2000  # ~2.5 mentions/page on average
    # deterministic: regenerate -> identical set of (url, id, lat, lon)
    again = extract_geo_entities(generate_pages(spark, 2000, partitions=8))
    a = {tuple(r) for r in entities.select("url", "id", "lat", "lon").collect()}
    b = {tuple(r) for r in again.select("url", "id", "lat", "lon").collect()}
    assert a == b  # independent of partitioning


def test_text_byte_identical_per_url(pages, entities):
    """input_hint invariant: extracted text is byte-identical per url."""
    joined = (
        pages.select("url", F.col("text").alias("orig"))
        .join(entities.select("url", "text"), "url")
        .where(F.col("orig") != F.col("text"))
    )
    assert joined.count() == 0


def test_extraction_adversarial_fields_equal_regex_groups(spark):
    """Each field is its GEO_RE group, whatever ``(``, ``)``, ``=`` or
    ``;`` the name and amenity hold; numbers a double cast rejects
    give null lat/lon instead of failing the job."""
    from skyway_spark.operators.extract import GEO_RE

    texts = [
        "@geo(1.5,2.5;name=a(b;amenity=cafe)",
        "@geo(1.5,2.5;name=a)b;amenity=cafe)",
        "x @geo(1.2.3,4;name=n;amenity=park) y @geo(.,-.;name=m;amenity=bench)",
        "@geo(1,2;name=a=b;amenity=caf;e) @geo(-3,4;name=x,y;amenity=k=v)",
        "@geo(40.7,-74.0;name=ok;amenity=(z)",
    ]
    pages = spark.createDataFrame(
        [(f"u{i}", t) for i, t in enumerate(texts)], "url string, text string"
    ).withColumn("lang", F.lit("en"))
    got = extract_geo_entities(pages).select(
        "url", "pos", "lat", "lon", F.col("tags")["name"].alias("name"),
        F.col("tags")["amenity"].alias("amenity"),
    )
    mention = F.col("mention")
    want = pages.select(
        "url", F.posexplode(F.regexp_extract_all("text", F.lit(GEO_RE), 0)).alias("pos", "mention")
    ).select(
        "url",
        "pos",
        F.regexp_extract(mention, GEO_RE, 1).try_cast("double").alias("lat"),
        F.regexp_extract(mention, GEO_RE, 2).try_cast("double").alias("lon"),
        F.regexp_extract(mention, GEO_RE, 3).alias("name"),
        F.regexp_extract(mention, GEO_RE, 4).alias("amenity"),
    )
    got_rows = sorted(tuple(r) for r in got.collect())
    assert got_rows == sorted(tuple(r) for r in want.collect())
    assert len(got_rows) == 7
    names = {r[4]: r for r in got_rows}
    assert {"a(b", "a)b", "a=b", "x,y"} <= set(names)
    assert names["a=b"][5] == "caf;e" and names["x,y"][5] == "k=v"
    assert names["n"][2] is None and names["n"][3] == 4.0
    assert names["m"][2] is None and names["m"][3] is None


def test_elements_projection_schema(entities, pages):
    els = pages_to_elements(pages)
    from skyway_spark.schema import ELEMENTS_SCHEMA

    assert [f.name for f in els.schema.fields] == [f.name for f in ELEMENTS_SCHEMA.fields]
    assert els.where(F.col("lat").isNull() | F.col("lon").isNull()).count() == 0


# ------------------------------ PIP ------------------------------


def _pip_oracle(points_rows, poly_rows):
    """Brute-force: inside any outer ring of pid and not inside a hole."""
    from collections import defaultdict

    rings = defaultdict(lambda: {"outer": [], "hole": []})
    for r in poly_rows:
        rings[r["polygon_id"]][r["ring_role"]].append(
            [(p["lat"], p["lon"]) for p in r["ring"]]
        )
    expected = set()
    for p in points_rows:
        for pid, rr in rings.items():
            in_outer = any(ray_cast_py(p["lat"], p["lon"], ring) for ring in rr["outer"])
            in_hole = any(ray_cast_py(p["lat"], p["lon"], ring) for ring in rr["hole"])
            if in_outer and not in_hole:
                expected.add((p["id"], pid))
    return expected


@pytest.mark.parametrize("res", [5, 7])
def test_pip_matches_oracle(spark, entities, res):
    polys = generate_polygons(spark)
    pts = entities.select("id", "lat", "lon").limit(3000).cache()
    got = {
        (r["id"], r["polygon_id"])
        for r in point_in_polygon(pts, polys, res=res)
        .select("id", "polygon_id")
        .collect()
    }
    want = _pip_oracle(pts.collect(), polys.collect())
    assert got == want
    assert len(want) > 0  # hot-city polygons guarantee hits


def _square_and_u(spark):
    """Explicit tiny polygons: a square with a hole (pid 1) and a
    concave "U" (pid 2)."""
    square = [(0.0, 0.0), (0.0, 4.0), (4.0, 4.0), (4.0, 0.0), (0.0, 0.0)]
    hole = [(1.0, 1.0), (1.0, 3.0), (3.0, 3.0), (3.0, 1.0), (1.0, 1.0)]
    u_shape = [(10.0, 0.0), (14.0, 0.0), (14.0, 1.0), (11.0, 1.0), (11.0, 3.0),
               (14.0, 3.0), (14.0, 4.0), (10.0, 4.0), (10.0, 0.0)]
    return spark.createDataFrame(
        [
            (1, "sq", [{"lat": a, "lon": b} for a, b in square], "outer"),
            (1, "sq", [{"lat": a, "lon": b} for a, b in hole], "hole"),
            (2, "u", [{"lat": a, "lon": b} for a, b in u_shape], "outer"),
        ],
        POLYGONS_SCHEMA,
    )


_SQUARE_AND_U_POINTS = [
    (1, 0.5, 0.5),    # in square, outside hole -> pid 1
    (2, 2.0, 2.0),    # inside hole -> nothing
    (3, 10.5, 0.5),   # in U arm -> pid 2
    (4, 12.0, 2.0),   # in U notch -> nothing
    (5, 13.5, 0.5),   # in U other arm... (lat 13.5, lon 0.5) -> pid 2
    (6, 50.0, 50.0),  # far away -> nothing
]


def _pip_pairs(pts, polys) -> set:
    return {
        (r["id"], r["polygon_id"])
        for r in point_in_polygon(pts, polys, res=4).select("id", "polygon_id").collect()
    }


def test_pip_hole_and_concave(spark):
    pts = spark.createDataFrame(_SQUARE_AND_U_POINTS, "id long, lat double, lon double")
    assert _pip_pairs(pts, _square_and_u(spark)) == {(1, 1), (3, 2), (5, 2)}


def test_pip_null_coordinate_rows_add_no_pairs(spark):
    """A point whose lat or lon is null gets a null cell from
    ``cell_encode``, so it joins no polygon: the pairs are exactly those
    of the frame without it, also where its other coordinate lies in
    a polygon's range."""
    polys = _square_and_u(spark)
    nulls = [(7, None, 0.5), (8, 0.5, None), (9, 10.5, None), (10, None, None)]
    with_nulls = spark.createDataFrame(
        _SQUARE_AND_U_POINTS + nulls, "id long, lat double, lon double"
    )
    without = with_nulls.where(F.col("lat").isNotNull() & F.col("lon").isNotNull())
    assert without.count() == len(_SQUARE_AND_U_POINTS)
    assert _pip_pairs(with_nulls, polys) == _pip_pairs(without, polys) == {(1, 1), (3, 2), (5, 2)}


def test_pip_empty_polygon_table(spark):
    """A 0-row polygon table yields 0 rows with the usual output schema
    (it used to fail analysis on a VOID-typed cell column). So does a
    polygon with only ``hole`` rings: it contains no point (the refine
    used to abort on it while building its bbox)."""
    pts = spark.createDataFrame(
        [(1, 1.0, 1.0), (2, 9.0, 9.0)], "id long, lat double, lon double"
    )
    square = [{"lat": a, "lon": b} for a, b in
              [(0.0, 0.0), (0.0, 4.0), (4.0, 4.0), (4.0, 0.0), (0.0, 0.0)]]
    one = spark.createDataFrame([(1, "sq", square, "outer")], POLYGONS_SCHEMA)
    hole_only = spark.createDataFrame([(2, "h", square, "hole")], POLYGONS_SCHEMA)
    empty = spark.createDataFrame([], POLYGONS_SCHEMA)
    got = point_in_polygon(pts, empty, res=4)
    assert got.collect() == []
    assert got.schema == point_in_polygon(pts, one, res=4).schema
    assert point_in_polygon(pts, hole_only, res=4).collect() == []
    mixed = point_in_polygon(pts, one.unionByName(hole_only), res=4)
    assert {(r["id"], r["polygon_id"]) for r in mixed.collect()} == {(1, 1)}


def test_edge_columns_carry_vertices_bit_exact(spark):
    """The broadcast edge columns of the refine carry every ring
    vertex bit for bit through Arrow and Spark: -0.0, subnormals,
    +-inf, NaN and a seeded fuzz of random bit patterns; a row that
    keeps no edge (an interior cell) is null."""
    import struct

    from skyway_spark.operators.pip import EDGE_LISTS_DDL, _edge_lists, _ring_edges
    from skyway_spark.plans.session import local_frame

    def bits(v):
        return struct.pack("<d", v)

    special = [-0.0, 5e-324, 2.2250738585072014e-308, 1.7976931348623157e308, 1e-05, 0.1 + 0.2]
    special += [-v for v in special] + [float("inf"), float("-inf"), float("nan")]
    rng = np.random.default_rng(20240611)
    rand = rng.integers(0, 2**64, size=1000, dtype=np.uint64).view(np.float64)
    vals = np.array(special + rand.tolist())
    rings = [(vals, vals[::-1].copy()), (vals[:5], vals[3:8])]
    edges, ring_of = _ring_edges(rings)
    keep = np.ones((2, edges.shape[1]), dtype=bool)
    keep[1] = False
    col = _edge_lists([(edges, ring_of, keep)], np.array([False, True]))
    got = local_frame(spark, pa.table({"e": col}), f"e {EDGE_LISTS_DDL}").collect()
    assert got[1]["e"] is None
    assert len(got[0]["e"]) == 2
    for (ys, xs), ring in zip(rings, got[0]["e"]):
        assert len(ring) == len(ys) - 1
        for k, e in enumerate(ring):
            want = (ys[k], xs[k], ys[k + 1], xs[k + 1])
            assert [bits(v) for v in e] == [bits(v) for v in want], (k, e, want)


def test_clipped_edges_never_cross(entities):
    """An edge a boundary cell drops never crosses the +lon ray of a
    point that cell_encode puts in that cell: cell corners one ulp
    either way, points on the cell sides, uniform points and the
    extracted entities, over the generated polygons plus a star with a
    hole, at two cover resolutions."""
    from skyway_spark.operators.pip import (
        _bbox,
        _cell_rects,
        _classify_cover,
        _clip_edges,
        _pick_cover_res,
        _ring_arrays,
        _ring_edges,
    )
    from skyway_spark.sources.generate import polygon_rows

    geoms = {}
    for pid, _name, ring, role in polygon_rows(n_scatter=12, seed=3):
        ys = np.array([p[0] for p in ring])
        xs = np.array([p[1] for p in ring])
        geoms.setdefault(pid, {"outer": [], "hole": []})[role].append((ys, xs))
    t = np.linspace(0, 2 * np.pi, 19)
    r = np.where(np.arange(19) % 2 == 0, 2.0, 0.8)
    geoms[99] = {
        "outer": [(-30 + r * np.sin(t), 60 + r * np.cos(t))],
        "hole": [_ring_arrays([{"lat": -30 + 0.4 * np.sin(a), "lon": 60 + 0.4 * np.cos(a)} for a in t[::3]])],
    }
    ents = entities.select("lat", "lon").toPandas()
    rng = np.random.default_rng(7)
    checked = dropped = 0
    for g in geoms.values():
        edges, _ring_of = _ring_edges(g["outer"] + g["hole"])
        y1, x1, y2, x2 = (v[None, :] for v in edges)
        for res in (4, 6):
            f = _pick_cover_res(*_bbox(g["outer"] + g["hole"]), res)
            ids, _inter = _classify_cover(g, f)
            keep = _clip_edges(edges, ids, f)
            _b, xlo, xhi, ylo, yhi = _cell_rects(ids, f)
            py, px = [ents["lat"].to_numpy()], [ents["lon"].to_numpy()]
            for cy in (ylo, yhi):
                for cx in (xlo, xhi):
                    for dy in (np.inf, -np.inf):
                        for dx in (np.inf, -np.inf):
                            py.append(np.nextafter(cy, dy))
                            px.append(np.nextafter(cx, dx))
            u = rng.random((2, 8, len(ids)))
            py += [ylo + u[0, k] * (yhi - ylo) for k in range(8)] + [ylo + u[0, 0] * (yhi - ylo)] * 2
            px += [xlo + u[1, k] * (xhi - xlo) for k in range(8)] + [xlo, xhi]
            py, px = np.concatenate(py), np.concatenate(px)
            cell = cells.cell_encode_np(py, px, f)
            order = np.argsort(ids)
            pos = np.clip(np.searchsorted(ids[order], cell), 0, len(ids) - 1)
            hit = ids[order][pos] == cell
            row = order[pos[hit]]
            py, px = py[hit][:, None], px[hit][:, None]
            with np.errstate(divide="ignore", invalid="ignore"):
                crosses = ((y1 > py) != (y2 > py)) & (px < (x2 - x1) * (py - y1) / (y2 - y1) + x1)
            assert not (crosses & ~keep[row]).any(), f
            checked += len(row)
            dropped += int((~keep).sum())
    assert checked > 100_000 and dropped > 10_000, (checked, dropped)


def test_pip_jvm_build_py4j_calls_flat_in_edges(spark):
    """The PIP plan holds no geometry: the ring edges ride in
    the broadcast cell table, so a 1 024-edge ring costs about as many
    gateway commands as a 16-edge one (it used to cost ~80 per edge),
    and the optimized plan's join condition, where the refine predicate
    lands, reads the same for both once expression ids are masked.
    Memory (``m``) commands are not counted: they detach proxies that
    Python's garbage collector frees, whenever it happens to run."""
    import math
    import re

    def ring_table(k):
        ring = [
            {"lat": 10 + math.sin(2 * math.pi * i / k), "lon": 20 + math.cos(2 * math.pi * i / k)}
            for i in range(k)
        ]
        ring.append(ring[0])
        return spark.createDataFrame([(1, "r", ring, "outer")], POLYGONS_SCHEMA)

    pts = spark.createDataFrame([(1, 10.0, 20.0)], "id long, lat double, lon double")
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    counts, conds = {}, {}
    for k in (16, 1024):
        polys = ring_table(k)
        n = 0

        def counting(command, *args, **kwargs):
            nonlocal n
            n += not command.startswith("m\n")
            return send(command, *args, **kwargs)

        client.send_command = counting
        try:
            out = point_in_polygon(pts, polys, res=4)
        finally:
            client.send_command = send
        counts[k] = n
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        (join,) = [ln for ln in plan.splitlines() if "Join Inner" in ln]
        conds[k] = re.sub(r"#\d+L?", "#", join)
        assert out.collect()[0]["polygon_id"] == 1
    assert counts[1024] < 1.2 * counts[16], counts
    assert conds[16] == conds[1024]
    assert "exists(" in conds[16] and "__outer" in conds[16]


# ------------------------------ kNN ------------------------------


def test_knn_matches_bruteforce(spark, entities):
    pts = entities.select("id", "lat", "lon").limit(4000).cache()
    qrows = [(i, r["lat"], r["lon"]) for i, r in enumerate(pts.limit(40).collect())]
    queries = spark.createDataFrame(qrows, "query_id long, lat double, lon double")
    k, radius = 5, 50.0
    got = knn_join(pts, queries, k=k, radius_km=radius).collect()

    prows = pts.collect()
    plat = np.array([r["lat"] for r in prows])
    plon = np.array([r["lon"] for r in prows])
    pid = np.array([r["id"] for r in prows])
    by_q = {}
    for qid, qlat, qlon in qrows:
        d = haversine_km_np(qlat, qlon, plat, plon)
        mask = d <= radius
        order = sorted(zip(d[mask], pid[mask]))[:k]
        by_q[qid] = [(p, round(dd, 9)) for dd, p in order]
    got_by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        got_by_q.setdefault(r["query_id"], []).append((r["id"], round(r["dist_km"], 9)))
    for qid in by_q:
        assert got_by_q.get(qid, []) == by_q[qid], f"query {qid}"


# ------------------------------ tiles ------------------------------


def test_tiles_counts(entities):
    z = 6
    vt = tiles.vector_tiles(entities.select("id", "lat", "lon"), z=z, max_features=100)
    total = vt.agg(F.sum("n_points")).first()[0]
    assert total == entities.count()
    # features capped
    assert vt.select(F.max(F.size("features"))).first()[0] <= 100
    rt = tiles.raster_tiles(entities.select("id", "lat", "lon"), z=4)
    assert rt.agg(F.sum("n_points")).first()[0] == entities.count()
    # pixel coords within the 256-grid
    mx = rt.select(
        F.max(F.expr("aggregate(pixels, 0L, (a, p) -> greatest(a, greatest(p.px, p.py)))"))
    ).first()[0]
    assert 0 <= mx < 256


# ------------------------------ salting ------------------------------


def test_salted_join_equals_plain_join(spark, entities):
    res = 6
    pts = entities.select(
        "id", "lat", "lon", cells.cell_encode(F.col("lat"), F.col("lon"), res).alias("cell")
    ).cache()
    # dim: distinct cells of the hot polygons region + some cold cells
    dim = pts.select("cell").distinct().withColumn("dim_tag", F.lit("d"))
    plain = pts.join(dim, "cell")
    salted = salt.salted_equi_join(pts, dim, n_salt=4, cell_col="cell", fact_id="id")
    assert salted.count() == plain.count()
    a = {tuple(r) for r in salted.select("id", "cell").collect()}
    b = {tuple(r) for r in plain.select("id", "cell").collect()}
    assert a == b


def test_hot_cells_found(entities):
    res = 6
    with_cell = entities.select(
        "id", cells.cell_encode(F.col("lat"), F.col("lon"), res).alias("cell")
    )
    hot = salt.hot_cells(with_cell, "cell")
    # the 5 hot cities dominate -> at least a few hot cells
    assert hot.count() >= 3


def test_range_join_matches_bruteforce(spark, entities):
    """Every (site, point) pair within the band, exactly once, incl. a
    high-latitude site (adaptive x-ring) and an antimeridian site."""
    pts = entities.select("id", "lat", "lon").limit(4000).cache()
    srows = [(i, r["lat"], r["lon"]) for i, r in enumerate(pts.limit(8).collect())]
    srows += [(100, 72.0, 10.0), (101, 0.0, 179.9)]
    sites = spark.createDataFrame(srows, "site_id long, lat double, lon double")
    radius = 120.0
    got = range_join(pts, sites, radius, point_id="id").collect()
    assert len(got) == len({(r["site_id"], r["id"]) for r in got})  # no dup pairs

    prows = pts.collect()
    plat = np.array([r["lat"] for r in prows])
    plon = np.array([r["lon"] for r in prows])
    pid = np.array([r["id"] for r in prows])
    want = set()
    for sid, slat, slon in srows:
        d = haversine_km_np(slat, slon, plat, plon)
        want |= {(sid, int(p)) for p in pid[d <= radius]}
    assert {(r["site_id"], r["id"]) for r in got} == want
    for r in got:
        assert r["dist_km"] <= radius


def test_cell_rollup_consistency(spark, entities):
    """parent-by-bit-math == direct encode at the coarser res, and the
    rollup of fine counts equals a direct coarse aggregation."""
    pts = entities.select("id", "lat", "lon").limit(3000)
    res, pres = 7, 3
    enc = pts.select(
        cells.cell_encode(F.col("lat"), F.col("lon"), res).alias("cell"),
        cells.cell_encode(F.col("lat"), F.col("lon"), pres).alias("direct"),
    ).withColumn("parent", cells.cell_parent(F.col("cell"), res, pres))
    assert enc.where(F.col("parent") != F.col("direct")).count() == 0

    fine = enc.groupBy("cell", "parent").count()
    rolled = {
        r["parent"]: r["n"]
        for r in fine.groupBy("parent").agg(F.sum("count").alias("n")).collect()
    }
    direct = {
        r["direct"]: r["n"]
        for r in enc.groupBy("direct").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert rolled == direct


def test_knn_high_latitude(spark):
    """Longitude cells shrink in km near the poles — the adaptive ring
    must still find neighbors ~radius away in the east-west direction."""
    import numpy as np

    qrows = [(0, 70.0, 10.0)]
    # points due east/west at lat 70: 1 deg lon ~ 38 km
    prows = [(i, 70.0, 10.0 + d) for i, d in enumerate([-7.0, -5.0, -2.5, 2.5, 5.0, 7.0])]
    pts = spark.createDataFrame(prows, "id long, lat double, lon double")
    queries = spark.createDataFrame(qrows, "query_id long, lat double, lon double")
    got = knn_join(pts, queries, k=6, radius_km=290.0).collect()
    plat = np.array([r[1] for r in prows])
    plon = np.array([r[2] for r in prows])
    d = haversine_km_np(70.0, 10.0, plat, plon)
    want_ids = {i for i, dd in enumerate(d) if dd <= 290.0}
    assert {r["id"] for r in got} == want_ids
    assert len(want_ids) >= 4  # the ±5 deg points are ~190 km away


def test_simplify_ways(spark):
    """Visvalingam simplification: endpoints survive, order kept,
    smallest-area vertices removed first; distributed output equals
    the per-geometry python mirror under any partitioning."""
    import random

    from skyway_spark.operators.geometry import simplify_polyline_py, simplify_ways

    rnd = random.Random(5)
    rows = []
    for wid in range(30):
        n = rnd.randint(2, 40)
        pts = [
            {"lat": rnd.uniform(-60, 60), "lon": rnd.uniform(-170, 170)}
            for _ in range(n)
        ]
        rows.append((wid, pts))
    df = spark.createDataFrame(
        rows, "way_id long, pts array<struct<lat:double,lon:double>>"
    )
    got = {r["way_id"]: r for r in simplify_ways(df.repartition(5), keep=6).collect()}
    assert len(got) == 30
    for wid, pts in rows:
        pl = [(p["lat"], p["lon"]) for p in pts]
        kept = simplify_polyline_py(pl, 6)
        g = got[wid]
        assert g["n_in"] == len(pl) and g["n_out"] == len(kept)
        assert [(p["lat"], p["lon"]) for p in g["pts"]] == [pl[i] for i in kept]
        # endpoints always survive; order monotone
        assert kept[0] == 0 and kept[-1] == len(pl) - 1
        assert kept == sorted(kept)
        assert len(kept) == min(len(pl), max(6, 2)) or len(pl) <= 6
    # straight-line degenerate: interior points are zero-area, all
    # removable down to `keep`
    line = [{"lat": 0.0, "lon": float(i)} for i in range(20)]
    ldf = spark.createDataFrame(
        [(1, line)], "way_id long, pts array<struct<lat:double,lon:double>>"
    )
    out = simplify_ways(ldf, keep=2).first()
    assert out["n_out"] == 2


def test_assemble_way_geometry(spark):
    """Geometry assembly vs a python oracle: ordered re-assembly,
    left-fold length, missing refs drop out."""
    import math

    from skyway_spark.operators.geometry import assemble_way_geometry

    nodes = spark.createDataFrame(
        [(i, float(i % 7) * 10 - 30, float(i % 11) * 20 - 100) for i in range(20)],
        "id long, lat double, lon double",
    )
    ways = spark.createDataFrame(
        [
            (1, [3, 1, 4, 1, 5]),      # repeated ref
            (2, [9, 2]),               # minimal
            (3, [7]),                  # single point -> length 0
            (4, [6, 99, 8]),           # ref 99 missing -> 2 points
        ],
        "way_id long, refs array<long>",
    )
    got = {r["way_id"]: (r["n_points"], r["length_km"])
           for r in assemble_way_geometry(ways, nodes).collect()}

    def hav(a, b):
        la1, lo1 = a
        la2, lo2 = b
        dlat = math.radians(la2 - la1) / 2
        dlon = math.radians(lo2 - lo1) / 2
        x = (math.sin(dlat) ** 2
             + math.cos(math.radians(la1)) * math.cos(math.radians(la2))
             * math.sin(dlon) ** 2)
        return 2 * 6371.0088 * math.asin(math.sqrt(x))

    coords = {i: (float(i % 7) * 10 - 30, float(i % 11) * 20 - 100) for i in range(20)}
    for wid, refs in [(1, [3, 1, 4, 1, 5]), (2, [9, 2]), (3, [7]), (4, [6, 8])]:
        pts = [coords[r] for r in refs]
        acc = 0.0
        for a, b in zip(pts[:-1], pts[1:]):
            acc += hav(a, b)
        assert got[wid][0] == len(pts)
        assert got[wid][1] == pytest.approx(round(acc, 6), abs=1e-6)


def test_relation_way_rollup(spark):
    from skyway_spark.operators.geometry import relation_way_rollup

    wg = spark.createDataFrame(
        [(10, 3, 5.5), (20, 4, 2.25), (30, 2, 1.125)],
        "way_id long, n_points int, length_km double",
    )
    rels = spark.createDataFrame(
        [
            (1, [("way", 20, "outer"), ("node", 7, "label"), ("way", 10, "inner")]),
            (2, [("way", 30, "outer"), ("way", 30, "outer")]),  # duplicate member
            (3, [("node", 1, "x")]),                            # no ways -> no row
        ],
        "rel_id long, members array<struct<type:string,ref:long,role:string>>",
    )
    got = {r["rel_id"]: r.asDict() for r in relation_way_rollup(rels, wg).collect()}
    assert set(got) == {1, 2}
    assert got[1]["n_ways"] == 2 and got[1]["n_outer"] == 1
    assert got[1]["total_points"] == 7
    assert got[1]["perimeter_km"] == pytest.approx(7.75)
    assert got[2]["n_ways"] == 2 and got[2]["n_outer"] == 2
    assert got[2]["perimeter_km"] == pytest.approx(2.25)


def _join_refine(out) -> str:
    """The optimized plan's ``Join Inner`` condition after its cell-key
    equality, with expression ids masked: the refine predicate."""
    import re

    plan = out._jdf.queryExecution().optimizedPlan().toString()
    (join,) = [ln for ln in plan.splitlines() if "Join Inner" in ln]
    return re.sub(r"#\d+L?", "#", join).split(" = __cell#)", 1)[1]


def test_pip_auto_refine_guardrail(spark):
    """One refine for every edge count: 2,000 polygons x 200 vertices =
    400k edges plans no Python evaluation, finds the hits the ray cast
    finds, and joins on the same refine predicate as the flagship
    polygons (the cell key differs with the cover levels, the refine
    does not)."""
    import math

    probe = spark.createDataFrame(
        [(1, -12.0, -10.0), (2, -11.75, -10.0), (3, 55.0, 120.0)],
        "id long, lat double, lon double",
    )
    flagship = point_in_polygon(probe, generate_polygons(spark), res=4)

    rows = []
    for pid in range(2000):
        lat0 = (pid % 50) * 0.5 - 12.0
        lon0 = (pid // 50) * 0.5 - 10.0
        ring = [
            {
                "lat": lat0 + 0.2 * math.sin(2 * math.pi * k / 200),
                "lon": lon0 + 0.2 * math.cos(2 * math.pi * k / 200),
            }
            for k in range(200)
        ]
        ring.append(ring[0])
        rows.append((pid, f"p{pid}", ring, "outer"))
    big = spark.createDataFrame(rows, POLYGONS_SCHEMA)
    out = point_in_polygon(probe, big, res=4)
    assert "EvalPython" not in out._jdf.queryExecution().executedPlan().toString()
    # point 1 sits at ring-0's center, point 2 between rings, point 3 far away
    assert {(r["id"], r["polygon_id"]) for r in out.collect()} == {(1, 0)}
    assert _join_refine(out) == _join_refine(flagship)
    assert "exists(" in _join_refine(out)


def test_pip_after_foreign_latlon_df(spark):
    """Regression: with an unrelated lat/lon DataFrame created first
    (shifting the exprId counter into a colliding alignment), Catalyst
    pushed the HOF ray-cast conjuncts of the broadcast PIP join below
    the exchange onto the polygon side — an invalid `!Filter` that
    failed attribute binding at runtime. pip.py anchors the
    element_at index with a plain lat/lon reference so the conjuncts
    can never be classified as right-side-only; this pins the exact
    failing configuration (foreign df, then the flagship pipeline)."""
    import __spark_entry__ as se

    spark.createDataFrame([(1.0, 2.0)], "lat double, lon double")
    plan = se.entry(spark)
    physical = plan._jdf.queryExecution().executedPlan().toString()
    assert "!Filter" not in physical
    rows = plan.collect()
    assert len(rows) > 0
