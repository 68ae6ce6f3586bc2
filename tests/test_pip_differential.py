"""Differential test of the two PIP refines against the plain-Python
ray cast, on the points where a clipped or mis-bucketed edge would
show: ring vertices and cell corners one ulp either way, points on
edges, coordinates that clamp into the border cells, and NaN, +-inf
and null.

The jvm refine ray-casts over the edges each cell keeps
(``pip._clip_edges``), the pandas refine over whole rings; both must
return exactly the (point, polygon) pairs ``ray_cast_py`` finds.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from skyway_spark.functions import cells
from skyway_spark.operators import pip as pip_mod
from skyway_spark.operators.pip import point_in_polygon, ray_cast_py
from skyway_spark.plans.session import local_frame
from skyway_spark.schema import POLYGONS_SCHEMA
from skyway_spark.sources.generate import polygon_rows


def _circle(lat0, lon0, r, n):
    pts = [
        (lat0 + r * math.sin(2 * math.pi * k / n), lon0 + r * math.cos(2 * math.pi * k / n))
        for k in range(n)
    ]
    return pts + pts[:1]


def _star(lat0, lon0, r, n=9):
    pts = [
        (
            lat0 + (r if k % 2 == 0 else 0.4 * r) * math.sin(math.pi * k / n),
            lon0 + (r if k % 2 == 0 else 0.4 * r) * math.cos(math.pi * k / n),
        )
        for k in range(2 * n)
    ]
    return pts + pts[:1]


def _polygons() -> dict[int, list]:
    """polygon_id -> [(role, [(lat, lon), ...closed])]: the generated
    set, a star with a hole, a ring against the antimeridian and one
    against the north pole."""
    polys: dict[int, list] = {}
    for pid, _name, ring, role in polygon_rows(n_scatter=10, seed=1):
        polys.setdefault(pid, []).append((role, [tuple(p) for p in ring]))
    polys[100] = [("outer", _star(-12.3, 47.1, 2.0)), ("hole", _circle(-12.3, 47.1, 0.5, 7))]
    polys[101] = [("outer", [(10.0, 178.5), (10.0, 180.0), (12.5, 180.0), (12.0, 179.1), (10.0, 178.5)])]
    polys[102] = [("outer", [(88.0, -20.0), (90.0, -20.0), (90.0, 30.0), (87.5, 5.0), (88.0, -20.0)])]
    return polys


def _points(polys: dict[int, list], rng) -> list[tuple]:
    lat, lon = [], []

    def add(a, b):
        lat.extend(np.broadcast_to(a, np.broadcast(a, b).shape).ravel())
        lon.extend(np.broadcast_to(b, np.broadcast(a, b).shape).ravel())

    up, down = np.inf, -np.inf
    for rings in polys.values():
        for _role, ring in rings:
            ys = np.array([p[0] for p in ring])
            xs = np.array([p[1] for p in ring])
            # each vertex, and one ulp off it in lat and in lon
            for dy in (None, up, down):
                for dx in (None, up, down):
                    add(ys if dy is None else np.nextafter(ys, dy), xs if dx is None else np.nextafter(xs, dx))
            # on each edge
            for t in (0.25, 0.5, 0.8):
                add(ys[:-1] + t * (ys[1:] - ys[:-1]), xs[:-1] + t * (xs[1:] - xs[:-1]))
        # cell corners of the cover at each resolution the tests use,
        # one ulp either way
        ys = np.concatenate([np.array([p[0] for p in ring]) for _r, ring in rings])
        xs = np.concatenate([np.array([p[1] for p in ring]) for _r, ring in rings])
        for res in (5, 6):
            f = pip_mod._pick_cover_res(ys.min(), ys.max(), xs.min(), xs.max(), res)
            ids = cells.cells_covering_bbox(ys.min(), ys.max(), xs.min(), xs.max(), f)
            ids = rng.choice(ids, size=min(len(ids), 60), replace=False)
            _border, xlo, xhi, ylo, yhi = pip_mod._cell_rects(ids, f)
            for cy in (ylo, yhi):
                for cx in (xlo, xhi):
                    for d in (None, up, down):
                        add(cy if d is None else np.nextafter(cy, d), cx if d is None else np.nextafter(cx, d))
                        add(cy if d is None else np.nextafter(cy, -d), cx if d is None else np.nextafter(cx, d))
        # clamped into the border cells
        mid_y, mid_x = (ys.min() + ys.max()) / 2, (xs.min() + xs.max()) / 2
        add(np.array([95.0, -95.0, mid_y, mid_y, 95.0]), np.array([mid_x, mid_x, 200.0, -200.0, -200.0]))
    rows = list(zip(lat, lon))
    special = [math.nan, math.inf, -math.inf, None, 0.0, 45.0]
    rows += [(a, b) for a in special for b in special]
    return [(i, None if a is None else float(a), None if b is None else float(b)) for i, (a, b) in enumerate(rows)]


def _oracle(points, polys):
    want = set()
    for pid, rings in polys.items():
        ys = [p[0] for _r, ring in rings for p in ring]
        ymin, ymax = min(ys), max(ys)
        for i, lat, lon in points:
            # a lat outside every ring's lat range crosses no edge
            if lat is None or lon is None or not ymin <= lat <= ymax:
                continue
            inside = any(ray_cast_py(lat, lon, ring) for r, ring in rings if r == "outer")
            if inside and not any(ray_cast_py(lat, lon, ring) for r, ring in rings if r == "hole"):
                want.add((i, pid))
    return want


@pytest.fixture(scope="module")
def case(spark):
    polys = _polygons()
    points = _points(polys, np.random.default_rng(20261020))
    poly_df = local_frame(
        spark,
        [(pid, f"p{pid}", [{"lat": a, "lon": b} for a, b in ring], role)
         for pid, rings in polys.items() for role, ring in rings],
        POLYGONS_SCHEMA,
    )
    pts_df = local_frame(spark, points, "id long, lat double, lon double").cache()
    return pts_df, poly_df, _oracle(points, polys), len(points)


@pytest.mark.parametrize("res", [5, 6])
def test_jvm_and_pandas_refines_match_ray_cast(case, res, monkeypatch):
    pts, polys, want, n = case
    assert n > 10_000 and len(want) > 1_000
    got = {}
    for refine, budget in (("jvm", 10**18), ("pandas", -1)):
        monkeypatch.setattr(pip_mod, "JVM_REFINE_MAX_EDGES", budget)
        out = point_in_polygon(pts, polys, res=res).select("id", "polygon_id")
        got[refine] = {(r["id"], r["polygon_id"]) for r in out.collect()}
    assert got["jvm"] == want, (len(got["jvm"] - want), len(want - got["jvm"]))
    assert got["pandas"] == want, (len(got["pandas"] - want), len(want - got["pandas"]))
