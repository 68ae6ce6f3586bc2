"""Round-3d operators: redirect resolution, Ripley's K, track
Hausdorff, grid clipping — each vs a brute-force python reference."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tests.conftest import spark  # noqa: F401


# ---------------------------------------------------------------------------
# resolve_redirects
# ---------------------------------------------------------------------------


def test_resolve_redirects_chain_terminal_cycle(spark):
    from skyway_spark.operators.graph import resolve_redirects

    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"),          # chain a->b->c (c terminal)
            ("x", "y"), ("y", "x"),          # 2-cycle
            ("w", "x"),                      # feeder into the cycle
        ],
        "src string, dst string",
    )
    got = {r.url: (r.final_url, r.hops, r.in_cycle)
           for r in resolve_redirects(edges, max_hops=8).collect()}
    assert got == {
        "a": ("c", 2, False),
        "b": ("c", 1, False),
        "c": ("c", 0, False),
        "x": (None, None, True),
        "y": (None, None, True),
        "w": (None, None, True),
    }


def test_resolve_redirects_long_chain_log_rounds(spark):
    """A 60-hop chain resolves with max_hops=64 (6 doubling rounds)."""
    from skyway_spark.operators.graph import resolve_redirects

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}") for i in range(60)], "src string, dst string"
    )
    got = {r.url: (r.final_url, r.hops)
           for r in resolve_redirects(edges, max_hops=64).collect()}
    assert got["n0"] == ("n60", 60)
    assert got["n59"] == ("n60", 1)
    assert got["n60"] == ("n60", 0)


# ---------------------------------------------------------------------------
# ripley_k
# ---------------------------------------------------------------------------


def _brute_pairs(pts, r):
    n = 0
    for i, (alat, alon) in enumerate(pts):
        for j, (blat, blon) in enumerate(pts):
            if i != j and (alat - blat) ** 2 + (alon - blon) ** 2 <= r * r:
                n += 1
    return n


def test_ripley_k_matches_brute_force(spark):
    from skyway_spark.operators.spatialstats import ripley_k

    pts = [(((i * 37) % 100) / 10.0 - 5.0, ((i * 53) % 140) / 10.0 - 7.0)
           for i in range(80)]
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pts)], "id long, lat double, lon double"
    )
    radii = [0.7, 1.5, 2.5]
    out = {r.r: (r.n_pairs, r.k_hat)
           for r in ripley_k(df, radii, res=6, id_col="id").collect()}
    n = len(pts)
    for r in radii:
        cnt = _brute_pairs(pts, r)
        assert out[r][0] == cnt
        assert out[r][1] == 64800.0 * cnt / (n * (n - 1.0))


def test_ripley_k_radius_guard(spark):
    from skyway_spark.operators.spatialstats import ripley_k

    df = spark.createDataFrame([(1, 0.0, 0.0)], "id long, lat double, lon double")
    with pytest.raises(ValueError, match="cell width"):
        ripley_k(df, [10.0], res=6, id_col="id")


# ---------------------------------------------------------------------------
# track_hausdorff
# ---------------------------------------------------------------------------


def _brute_hausdorff2(A, B):
    def h(P, Q):
        return max(min((p[0] - q[0]) ** 2 + (p[1] - q[1]) ** 2 for q in Q) for p in P)

    return max(h(A, B), h(B, A))


def test_track_hausdorff_matches_brute_force(spark):
    from skyway_spark.operators.trajectory import track_hausdorff

    tracks = {
        (1, 0): [(0.0, 0.0), (1.0, 1.0), (2.0, 0.5)],
        (1, 1): [(0.5, 0.0), (1.0, 2.0)],
        (1, 2): [(9.0, 9.0)],
        (2, 0): [(5.0, 5.0), (5.0, 6.0)],
        (2, 1): [(5.0, 5.0), (5.0, 6.0)],  # identical -> H = 0
    }
    rows = [(e, k, la, lo) for (e, k), pts in tracks.items() for la, lo in pts]
    df = spark.createDataFrame(rows, "entity long, track long, lat double, lon double")
    got = {(r.entity, r.track): r.h2 for r in track_hausdorff(df).collect()}
    want = {
        (1, 0): _brute_hausdorff2(tracks[(1, 0)], tracks[(1, 1)]),
        (1, 1): _brute_hausdorff2(tracks[(1, 1)], tracks[(1, 2)]),
        (2, 0): _brute_hausdorff2(tracks[(2, 0)], tracks[(2, 1)]),
    }
    assert got == want
    assert got[(2, 0)] == 0.0


def test_track_hausdorff_duplicate_points_collapse(spark):
    """Hausdorff is a set distance: duplicating a point changes nothing."""
    from skyway_spark.operators.trajectory import track_hausdorff

    base = [(1, 0, 0.0, 0.0), (1, 0, 1.0, 0.0), (1, 1, 0.0, 3.0)]
    dup = base + [(1, 0, 1.0, 0.0)] * 3
    df1 = spark.createDataFrame(base, "entity long, track long, lat double, lon double")
    df2 = spark.createDataFrame(dup, "entity long, track long, lat double, lon double")
    assert track_hausdorff(df1).collect() == track_hausdorff(df2).collect()


# ---------------------------------------------------------------------------
# clip_rings_to_grid
# ---------------------------------------------------------------------------


def _clip_brute(pts, lat0, lat1, lon0, lon1):
    def clip(poly, inside, inter):
        out = []
        for i in range(len(poly)):
            v1, v2 = poly[i], poly[(i + 1) % len(poly)]
            if inside(v2):
                if not inside(v1):
                    out.append(inter(v1, v2))
                out.append(v2)
            elif inside(v1):
                out.append(inter(v1, v2))
        return out

    def ixlon(c):
        return lambda a, b: (a[0] + (b[0] - a[0]) * ((c - a[1]) / (b[1] - a[1])), c)

    def ixlat(c):
        return lambda a, b: (c, a[1] + (b[1] - a[1]) * ((c - a[0]) / (b[0] - a[0])))

    p = pts
    for inside, inter in (
        (lambda v: v[1] >= lon0, ixlon(lon0)),
        (lambda v: v[1] <= lon1, ixlon(lon1)),
        (lambda v: v[0] >= lat0, ixlat(lat0)),
        (lambda v: v[0] <= lat1, ixlat(lat1)),
    ):
        if len(p) < 2:
            return []
        p = clip(p, inside, inter)
    return p


def test_clip_rings_to_grid_matches_per_cell_brute(spark):
    from skyway_spark.operators.geometry import clip_rings_to_grid

    res = 3
    nx, ny = 1 << (res + 1), 1 << res
    sx, sy = 360.0 / nx, 180.0 / ny
    ring = [(-10.0, -30.0), (35.0, -25.0), (40.0, 50.0), (-5.0, 45.0)]
    df = spark.createDataFrame(
        [(7, [{"lat": a, "lon": b} for a, b in ring + [ring[0]]])],
        "pid long, ring array<struct<lat:double,lon:double>>",
    )
    got = {
        (r.cx, r.cy): [(v["lat"], v["lon"]) for v in r.clipped]
        for r in clip_rings_to_grid(df, res).collect()
    }
    los = [p[1] for p in ring]
    las = [p[0] for p in ring]
    x0 = max(0, min(nx - 1, math.floor((min(los) + 180.0) / sx)))
    x1 = max(0, min(nx - 1, math.floor((max(los) + 180.0) / sx)))
    y0 = max(0, min(ny - 1, math.floor((90.0 - max(las)) / sy)))
    y1 = max(0, min(ny - 1, math.floor((90.0 - min(las)) / sy)))
    want = {}
    for cx in range(x0, x1 + 1):
        for cy in range(y0, y1 + 1):
            want[(cx, cy)] = _clip_brute(
                ring,
                90.0 - (cy + 1) * sy,
                90.0 - cy * sy,
                cx * sx - 180.0,
                (cx + 1) * sx - 180.0,
            )
    assert got == want
    assert len(got) == (x1 - x0 + 1) * (y1 - y0 + 1)


# ---------------------------------------------------------------------------
# idw_cells
# ---------------------------------------------------------------------------


def test_idw_cells_matches_ordered_brute(spark):
    from skyway_spark.operators.spatialstats import idw_cells

    res = 4
    nx, ny = 1 << (res + 1), 1 << res
    sx, sy = 360.0 / nx, 180.0 / ny
    pts = [(i, ((i * 37) % 160) / 1.0 - 80.0, ((i * 53) % 350) - 175.0,
            float((i * 7) % 100)) for i in range(60)]
    df = spark.createDataFrame(pts, "id long, lat double, lon double, value double")
    got = {(r.cell, r.n_stations): r.idw
           for r in idw_cells(df, res, id_col="id").collect()}

    def cellxy(la, lo):
        return (max(0, min(nx - 1, math.floor((lo + 180.0) / 360.0 * nx))),
                max(0, min(ny - 1, math.floor((90.0 - la) / 180.0 * ny))))

    targets = {cellxy(la, lo) for _, la, lo, _ in pts}
    want = {}
    for tx, ty in targets:
        clat, clon = 90.0 - (ty + 0.5) * sy, (tx + 0.5) * sx - 180.0
        ns = []
        for sid, la, lo, v in pts:
            px, py = cellxy(la, lo)
            if abs(py - ty) <= 1 and (abs(px - tx) <= 1 or abs(px - tx) == nx - 1):
                d2 = (clat - la) * (clat - la) + (clon - lo) * (clon - lo)
                if d2 > 0:
                    ns.append((d2, sid, v))
        ns.sort()
        den = 0.0
        num = 0.0
        for d2, _, v in ns:
            den = den + 1.0 / d2
            num = num + (1.0 / d2) * v
        cell = (res << 58) | (tx << 29) | ty
        want[(cell, len(ns))] = num / den
    assert got == want  # exact float equality: ordered folds


# ---------------------------------------------------------------------------
# crawl_budget
# ---------------------------------------------------------------------------


def test_crawl_budget_hamilton(spark):
    from skyway_spark.operators.urls import crawl_budget

    docs = spark.createDataFrame(
        [(f"h{i}",) for i in (0,) * 5 + (1,) * 3 + (2,) * 2 + (3,) * 1],
        "source string",
    )
    out = {r.host: (r.n_docs, r.alloc) for r in crawl_budget(docs, 10).collect()}
    # shares: h0 50/11*... budget 10 over counts 5,3,2,1 of total 11:
    # base floor(10*n/11) = 4,2,1,0; remainders 6,8,9,10 -> leftover 3
    # goes to h3(10), h2(9), h1(8)
    assert out == {"h0": (5, 4), "h1": (3, 3), "h2": (2, 2), "h3": (1, 1)}
    assert sum(a for _, a in out.values()) == 10


def test_crawl_budget_exact_total_and_ties(spark):
    from skyway_spark.operators.urls import crawl_budget

    docs = spark.createDataFrame(
        [(f"h{i % 7}",) for i in range(77)], "source string"
    )  # equal counts: all remainders equal -> ties break host asc
    out = {r.host: r.alloc for r in crawl_budget(docs, 10).collect()}
    assert sum(out.values()) == 10
    # 7 hosts, base 1 each, 3 leftover -> h0,h1,h2 get 2
    assert out == {"h0": 2, "h1": 2, "h2": 2, "h3": 1, "h4": 1, "h5": 1, "h6": 1}


# ---------------------------------------------------------------------------
# convex_hulls
# ---------------------------------------------------------------------------


def _hull_brute_maximal_edges(pts):
    """Independent O(n^3) maximal-edge characterization."""
    pts = sorted(set(pts))
    if len(pts) <= 2:
        return set(pts)
    verts = set()
    for a in pts:
        for b in pts:
            if a == b:
                continue
            ok = True
            for q in pts:
                if q == a or q == b:
                    continue
                cr = (b[0] - a[0]) * (q[1] - a[1]) - (b[1] - a[1]) * (q[0] - a[0])
                if cr < 0:
                    ok = False
                    break
                if cr == 0:
                    out_a = (q[0] - a[0]) * (b[0] - a[0]) + (q[1] - a[1]) * (b[1] - a[1]) < 0
                    out_b = (q[0] - b[0]) * (a[0] - b[0]) + (q[1] - b[1]) * (a[1] - b[1]) < 0
                    if out_a or out_b:
                        ok = False
                        break
            if ok:
                verts.add(a)
                verts.add(b)
    return verts


@pytest.mark.parametrize(
    "pts",
    [
        [(0, 0), (4, 0), (4, 4), (0, 4), (2, 2), (1, 3)],        # square + interior
        [(0, 0), (2, 0), (4, 0), (4, 4), (0, 4)],                # collinear edge point
        [(0, 0), (1, 1), (2, 2), (3, 3)],                        # fully collinear
        [(5, 5)],                                                # single point
        [(0, 0), (7, 3)],                                        # two points
        [((i * 13) % 17, (i * 7) % 11) for i in range(40)],      # pseudo-random
    ],
)
def test_convex_hulls_matches_maximal_edges(spark, pts):
    from skyway_spark.operators.geometry import convex_hulls

    df = spark.createDataFrame(
        [(1, x, y) for x, y in pts], "entity long, x long, y long"
    )
    got = {(r.hx, r.hy) for r in convex_hulls(df).collect()}
    assert got == _hull_brute_maximal_edges(pts)


# ---------------------------------------------------------------------------
# k_core
# ---------------------------------------------------------------------------


def _kcore_brute(edges, k):
    from collections import defaultdict

    adj = defaultdict(set)
    for s, t in edges:
        if s != t:
            adj[s].add(t)
            adj[t].add(s)
    while True:
        drop = [n for n, nb in adj.items() if len(nb) < k]
        if not drop:
            break
        for n in drop:
            for nb in adj[n]:
                adj[nb].discard(n)
            del adj[n]
    return {n: len(nb) for n, nb in adj.items()}


def test_k_core_peels_cascade(spark):
    from skyway_spark.operators.graph import k_core

    # K5 plus a pendant path: path peels in cascading rounds, K5 stays
    k5 = [(f"c{i}", f"c{j}") for i in range(5) for j in range(i + 1, 5)]
    path = [("c0", "p1"), ("p1", "p2"), ("p2", "p3")]
    edges = spark.createDataFrame(k5 + path, "src string, dst string")
    got = {r.node: r.degree for r in k_core(edges, 4).collect()}
    assert got == _kcore_brute(k5 + path, 4)
    assert set(got) == {f"c{i}" for i in range(5)} and all(v == 4 for v in got.values())


def test_k_core_empty_result(spark):
    from skyway_spark.operators.graph import k_core

    edges = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    assert k_core(edges, 3).count() == 0


# ---------------------------------------------------------------------------
# segment_crossings
# ---------------------------------------------------------------------------


def _cross_brute(A, B):
    def o(p, q, r):
        return (q[0] - p[0]) * (r[1] - p[1]) - (q[1] - p[1]) * (r[0] - p[0])

    out = set()
    for aid, a1, a2 in A:
        for bid, b1, b2 in B:
            o1, o2 = o(a1, a2, b1), o(a1, a2, b2)
            o3, o4 = o(b1, b2, a1), o(b1, b2, a2)
            if ((o1 > 0) != (o2 > 0) and o1 != 0 and o2 != 0
                    and (o3 > 0) != (o4 > 0) and o3 != 0 and o4 != 0):
                out.add((aid, bid))
    return out


def test_segment_crossings_matches_brute(spark):
    from skyway_spark.operators.geometry import segment_crossings

    A = [(i, ((i * 97) % 161 - 80, (i * 61) % 161 - 80),
          ((i * 97) % 161 - 80 + (i * 13) % 21 - 10,
           (i * 61) % 161 - 80 + (i * 17) % 21 - 10)) for i in range(60)]
    B = [(i, ((i * 89) % 161 - 80, (i * 71) % 161 - 80),
          ((i * 89) % 161 - 80 + (i * 19) % 21 - 10,
           (i * 71) % 161 - 80 + (i * 23) % 21 - 10)) for i in range(60)]
    mk = lambda S: spark.createDataFrame(  # noqa: E731
        [(i, p1[0], p1[1], p2[0], p2[1]) for i, p1, p2 in S],
        "id long, x1 long, y1 long, x2 long, y2 long",
    )
    got = {(r.a_id, r.b_id) for r in segment_crossings(
        mk(A), mk(B), res=10).collect()}
    want = _cross_brute(A, B)
    assert got == want and len(want) > 0


def test_segment_crossings_touch_is_not_crossing(spark):
    from skyway_spark.operators.geometry import segment_crossings

    a = spark.createDataFrame([(1, 0, 0, 10, 0)], "id long, x1 long, y1 long, x2 long, y2 long")
    # touches a's interior at (5,0); collinear overlap; proper cross
    b = spark.createDataFrame(
        [(1, 5, 0, 5, 5), (2, 2, 0, 8, 0), (3, 5, -5, 5, 5)],
        "id long, x1 long, y1 long, x2 long, y2 long",
    )
    got = {(r.a_id, r.b_id) for r in segment_crossings(
        a, b, res=11).collect()}
    assert got == {(1, 3)}


# ---------------------------------------------------------------------------
# int8_quantize_error
# ---------------------------------------------------------------------------


def test_int8_quantize_error_matches_brute(spark):
    from skyway_spark.operators.similarity import int8_quantize_error

    import numpy as np

    vecs = [[float(((i * 37 + d * 11) % 200) / 10.0 - 10.0) for d in range(8)]
            for i in range(30)]
    vecs[5] = [3.25] * 8  # exercises values away from extremes
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    got = {r.vec_id: r.max_abs_err for r in int8_quantize_error(df).collect()}
    arr = np.array(vecs, dtype=np.float32).astype(np.float64)
    mn, mx = arr.min(axis=0), arr.max(axis=0)
    want = {}
    for i, row in enumerate(arr):
        errs = []
        for d, v in enumerate(row):
            if mx[d] == mn[d]:
                errs.append(0.0)
                continue
            sc = (mx[d] - mn[d]) / 255.0
            q = min(255.0, max(0.0, np.floor((v - mn[d]) / sc + 0.5)))
            errs.append(abs(v - (mn[d] + q * sc)))
        want[i] = max(errs)
    for i in want:
        assert got[i] == pytest.approx(want[i], abs=1e-12)
    assert max(got.values()) <= 0.5 * (arr.max() - arr.min()) / 255.0 * 1.0001 + 1e-12


def test_int8_quantize_constant_dim_zero_error(spark):
    from skyway_spark.operators.similarity import int8_quantize_error

    df = spark.createDataFrame(
        [(0, [1.5, 2.0]), (1, [1.5, 3.0])], "vec_id long, embedding array<float>"
    )
    got = {r.vec_id: r.max_abs_err for r in int8_quantize_error(df).collect()}
    assert got[0] == 0.0 and got[1] == 0.0  # extremes reconstruct exactly


def test_resolve_redirects_chain_deeper_than_max_hops_is_dead(spark):
    """r5 review: a chain longer than max_hops is flagged in_cycle
    (dead) — after ceil(log2(max_hops)) doubling rounds its pointer
    still redirects, same observable state as a loop."""
    from skyway_spark.operators.graph import resolve_redirects

    edges = spark.createDataFrame(
        [(f"u{i}", f"u{i+1}") for i in range(10)], "src string, dst string"
    )
    got = {r.url: (r.final_url, r.hops, r.in_cycle)
           for r in resolve_redirects(edges, max_hops=4).collect()}
    # head of the 10-deep chain cannot resolve within 4 hops -> dead
    assert got["u0"] == (None, None, True)
    # the tail IS within reach and must still resolve exactly
    assert got["u8"] == ("u10", 2, False)
    assert got["u9"] == ("u10", 1, False)
    assert got["u10"] == ("u10", 0, False)


def test_crawl_budget_zero_budget(spark):
    """r5 review: budget=0 -> every host gets 0 (leftover==0, so the
    remainder rank awards nothing) and the sum-law still holds."""
    from skyway_spark.operators.urls import crawl_budget

    docs = spark.createDataFrame(
        [("h1",)] * 3 + [("h2",)] * 5, "source string"
    )
    rows = crawl_budget(docs, 0).collect()
    assert sorted((r.host, r.alloc) for r in rows) == [("h1", 0), ("h2", 0)]
