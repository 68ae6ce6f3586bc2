"""Round-3f operators: bibliographic coupling + link reciprocity
(operators/weblinks), integer heading octants (operators/trajectory),
and interval-union coverage (operators/timeseries) — behavior vs
brute-force references plus the exactness properties the docstrings
claim (no floats in octants, touching intervals merge)."""

from __future__ import annotations

import math
from itertools import combinations

import pytest
from pyspark.sql import functions as F


def _links_df(spark, rows):
    return spark.createDataFrame(rows, "src_host string, dst_host string")


# ----------------------------------------------------- bibliographic coupling


def test_bib_coupling_counts_shared_targets(spark):
    from skyway_spark.operators.weblinks import bibliographic_coupling

    rows = [
        ("a", "x"), ("a", "y"), ("a", "y"),  # duplicate edge collapses
        ("b", "x"), ("b", "y"),
        ("c", "y"),
        ("d", "z"),
    ]
    got = {
        (r.host_a, r.host_b): r.n_shared
        for r in bibliographic_coupling(_links_df(spark, rows), min_count=1).collect()
    }
    assert got == {("a", "b"): 2, ("a", "c"): 1, ("b", "c"): 1}


# --------------------------------------------------------------- reciprocity


def test_link_reciprocity_bruteforce(spark):
    from skyway_spark.operators.weblinks import link_reciprocity

    rows = [
        ("a", "b"), ("b", "a"),          # mutual pair
        ("a", "c"),                      # one-way
        ("c", "c"),                      # self-loop dropped
        ("a", "b"),                      # duplicate edge collapses
        ("d", "a"), ("a", "d"), ("d", "b"),
    ]
    got = {
        r.host: (r.n_out, r.n_mutual, r.reciprocity)
        for r in link_reciprocity(_links_df(spark, rows)).collect()
    }
    assert got == {
        "a": (3, 2, 2 / 3),
        "b": (1, 1, 1.0),
        "d": (2, 1, 0.5),
    }
    # 'c' has only a self-loop: no out-edges after the drop → absent
    assert "c" not in got


# ----------------------------------------------------------- heading octants


def _py_octant(dx, dy):
    o = 0
    if dy < 0:
        dx, dy = -dx, -dy
        o += 4
    if dx < 0:
        dx, dy = dy, -dx
        o += 2
    if dx < dy:
        o += 1
    return o


def test_octant_reduction_matches_atan2_off_boundaries(spark):
    # off the 45-degree rays, the integer octant equals floor(angle/45)
    for dx, dy in [(3, 1), (1, 3), (-1, 3), (-3, 1), (-3, -1), (-1, -3), (1, -3), (3, -1)]:
        ang = math.degrees(math.atan2(dy, dx)) % 360.0
        assert _py_octant(dx, dy) == int(ang // 45.0), (dx, dy)


def test_heading_octants_bruteforce(spark):
    from skyway_spark.operators.trajectory import heading_octants

    pts = [  # (user, t, x, y)
        (1, 0, 0, 0), (1, 1, 5, 1), (1, 2, 5, 1), (1, 3, 0, 0), (1, 4, 1, 9),
        (2, 0, 0, 0), (2, 1, -4, -4),
    ]
    df = spark.createDataFrame(pts, "user_id long, ts long, x long, y long")
    got = {
        (r.entity, r.octant): (r.heading, r.n_moves)
        for r in heading_octants(df, order_cols=("ts",)).collect()
    }
    moves = {}
    by_user = {}
    for u, t, x, y in sorted(pts):
        if u in by_user:
            px, py = by_user[u]
            if (x - px, y - py) != (0, 0):
                o = _py_octant(x - px, y - py)
                moves[(u, o)] = moves.get((u, o), 0) + 1
        by_user[u] = (x, y)
    names = ["E", "NE", "N", "NW", "W", "SW", "S", "SE"]
    assert got == {k: (names[k[1]], n) for k, n in moves.items()}
    # zero-displacement step (t=1 -> t=2) contributed nothing:
    # u1 has 3 real moves of its 4 steps, u2 has 1
    assert sum(n for (_, n) in got.values()) == 4


# ------------------------------------------------------------ interval union


def test_interval_union_merges_overlaps_and_touching(spark):
    from skyway_spark.operators.timeseries import interval_union

    rows = [  # key, id, s, e
        ("u", 1, 0, 10),
        ("u", 2, 5, 12),    # overlaps -> same island
        ("u", 3, 12, 15),   # touches  -> same island
        ("u", 4, 20, 25),   # gap      -> new island
        ("u", 5, 21, 22),   # contained
        ("v", 6, 0, 1),
    ]
    df = spark.createDataFrame(rows, "user_id string, id long, s long, e long")
    got = {
        r.user_id: (r.n_intervals, r.n_islands, r.covered)
        for r in interval_union(df, key="user_id", id_col="id").collect()
    }
    assert got == {"u": (5, 2, 20), "v": (1, 1, 1)}


def test_interval_union_bruteforce_random(spark):
    from skyway_spark.operators.timeseries import interval_union

    rows = []
    for i in range(200):  # deterministic pseudo-random intervals
        k = f"k{i % 5}"
        s = (i * 7919) % 97
        rows.append((k, i, s, s + (i * 104729) % 13 + 1))
    df = spark.createDataFrame(rows, "user_id string, id long, s long, e long")
    got = {
        r.user_id: (r.n_intervals, r.n_islands, r.covered)
        for r in interval_union(df, key="user_id", id_col="id").collect()
    }
    want = {}
    for k in {r[0] for r in rows}:
        ivs = sorted((s, e) for kk, _, s, e in rows if kk == k)
        islands = []
        for s, e in ivs:
            if islands and s <= islands[-1][1]:
                islands[-1][1] = max(islands[-1][1], e)
            else:
                islands.append([s, e])
        want[k] = (len(ivs), len(islands), sum(e - s for s, e in islands))
    assert got == want
