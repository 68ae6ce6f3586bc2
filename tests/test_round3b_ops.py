"""Round-3 continuation operators: Moran's I, n-gram containment,
cross-corpus LM scoring, snapshot diffing (batch + checkpoint
incremental read), adaptive quadtree tiles, left-outer stream join."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from skyway_spark.operators import dedup, spatialstats, textstats, tiles
from skyway_spark.operators.cdc import snapshot_diff


# ---------------------------------------------------------------------------
# Moran's I
# ---------------------------------------------------------------------------


def _morans_brute(cells: list[tuple[int, int, int]]) -> tuple:
    n = len(cells)
    s = sum(x for _, _, x in cells)
    z = {(cx, cy): n * x - s for cx, cy, x in cells}
    num = 0
    w = 0
    for (cx, cy), zi in z.items():
        for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1)):
            nb = (cx + dx, cy + dy)
            if nb in z:
                num += zi * z[nb]
                w += 1
    den = sum(v * v for v in z.values())
    return n, w, num, den


@pytest.mark.parametrize(
    "grid",
    [
        # clustered: two hot blocks -> positive autocorrelation
        [(0, 0, 9), (0, 1, 8), (1, 0, 7), (5, 5, 1), (5, 6, 1), (6, 5, 2)],
        # checkerboard-ish: alternating highs/lows -> negative
        [(0, 0, 9), (0, 1, 1), (0, 2, 9), (1, 0, 1), (1, 1, 9), (1, 2, 1)],
    ],
)
def test_morans_i_matches_bruteforce(spark, grid):
    df = spark.createDataFrame(
        [Row(cx=a, cy=b, x=c) for a, b, c in grid]
    )
    got = spatialstats.morans_i(df).first()
    n, w, num, den = _morans_brute(grid)
    assert (got.n_cells, got.w_pairs, got.num_z, got.den_z) == (n, w, num, den)
    assert got.morans_i == pytest.approx((n * num) / (w * den))


def test_morans_i_sign_for_clustered_vs_checker(spark):
    hot = [(x, y, 50) for x in range(3) for y in range(3)] + [
        (x + 10, y, 1) for x in range(3) for y in range(3)
    ]
    checker = [(x, y, 50 if (x + y) % 2 == 0 else 1) for x in range(4) for y in range(4)]
    i_hot = spatialstats.morans_i(spark.createDataFrame(
        [Row(cx=a, cy=b, x=c) for a, b, c in hot])).first().morans_i
    i_chk = spatialstats.morans_i(spark.createDataFrame(
        [Row(cx=a, cy=b, x=c) for a, b, c in checker])).first().morans_i
    assert i_hot > 0 > i_chk


# ---------------------------------------------------------------------------
# containment pairs
# ---------------------------------------------------------------------------


def test_containment_catches_embedded_doc(spark):
    short = "alpha beta gamma delta epsilon zeta"
    long = "intro words here " + short + " trailing content words again end"
    other = "completely different text with no overlap at all whatsoever"
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=short), Row(doc_id=2, text=long), Row(doc_id=3, text=other)]
    )
    pairs = dedup.ngram_containment_pairs(docs, threshold_pct=80).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    p = pairs[0]
    # every shingle of the short doc except the boundary-crossing ones
    # is contained in the long doc
    assert p.inter * 100 >= 80 * min(p.size_a, p.size_b)
    assert p.size_a < p.size_b


def test_containment_jaccard_would_miss_it(spark):
    # the same pair scores low on Jaccard (union-diluted) — the reason
    # containment exists as a separate operator
    short = "alpha beta gamma delta epsilon zeta"
    long = (
        "intro words here " + short + " plus a very long tail of extra filler "
        "tokens that keep growing the union set far beyond the short doc size"
    )
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=short, n_chars=len(short)),
         Row(doc_id=2, text=long, n_chars=len(long))]
    )
    pairs = dedup.ngram_containment_pairs(docs, threshold_pct=80).collect()
    assert len(pairs) == 1
    jac = dedup.ngram_jaccard_pairs(docs, threshold=0.0).collect()
    assert jac == []  # different n_chars buckets -> jaccard path pairs nothing


# ---------------------------------------------------------------------------
# cross-corpus LM scoring
# ---------------------------------------------------------------------------


def test_lm_cross_score_oov_and_quantization(spark):
    train = spark.createDataFrame(
        [Row(doc_id=1, text="the cat sat"), Row(doc_id=2, text="the cat ran")]
    )
    cand = spark.createDataFrame(
        [Row(doc_id=10, text="the cat sat"), Row(doc_id=11, text="a dog barked")]
    )
    rows = {r.doc_id: r for r in textstats.lm_cross_score(train, cand).collect()}
    seen = rows[10]
    # "the cat": c2=2, c1(the)=2 -> q=2^20; "cat sat": c2=1, c1(cat)=2 -> 2^19
    assert (seen.n_bigrams, seen.n_oov) == (2, 0)
    assert seen.lm_q == ((1 << 20) + (1 << 19)) // 2
    oov = rows[11]
    assert (oov.n_bigrams, oov.n_oov, oov.lm_q) == (2, 2, 0)


# ---------------------------------------------------------------------------
# snapshot diff + checkpoint incremental read
# ---------------------------------------------------------------------------


def test_snapshot_diff_classifies_iud(spark):
    old = spark.createDataFrame(
        [(1, 10, None), (2, 20, "x"), (3, 30, "y")], "k long, v long, w string"
    )
    new = spark.createDataFrame(
        [(2, 21, "x"), (3, 30, "y"), (4, 40, None)], "k long, v long, w string"
    )
    got = {r.k: r for r in snapshot_diff(old, new, ["k"], ["v", "w"]).collect()}
    assert set(got) == {1, 2, 4}  # k=3 unchanged -> dropped
    assert got[1].op == "D" and got[1].old_v == 10 and got[1].new_v is None
    assert got[2].op == "U" and (got[2].old_v, got[2].new_v) == (20, 21)
    assert got[4].op == "I" and got[4].new_v == 40
    # null-safe compare: w None == None must not flag an update
    both_null = snapshot_diff(
        spark.createDataFrame([(1, 1, None)], "k long, v long, w string"),
        spark.createDataFrame([(1, 1, None)], "k long, v long, w string"),
        ["k"], ["v", "w"],
    ).collect()
    assert both_null == []


# ---------------------------------------------------------------------------
# adaptive tiles
# ---------------------------------------------------------------------------


def test_adaptive_tiles_partition_properties(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    pts = ev.select(
        ((F.col("user_id") * 7919) % 17000 / 100.0 - 85.0).alias("lat"),
        ((F.col("event_id") * 104729) % 36000 / 100.0 - 180.0).alias("lon"),
    )
    out = tiles.adaptive_tiles(pts, base_z=3, max_z=5, threshold=10).collect()
    # exact coverage: every point lands in exactly one leaf
    assert sum(r.n_points for r in out) == pts.count()
    # budget respected except at the floor level
    for r in out:
        assert r.n_points <= 10 or r.z == 5
    # leaves are disjoint: no leaf is an ancestor of another
    cells = {(r.z, r.x, r.y) for r in out}
    for z, x, y in cells:
        zz, xx, yy = z, x, y
        while zz > 3:
            zz, xx, yy = zz - 1, xx // 2, yy // 2
            assert (zz, xx, yy) not in cells
    # skew actually triggered refinement
    assert {r.z for r in out} == {3, 4, 5}


def test_adaptive_tiles_base_equals_max(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(50)
    pts = ev.select(
        ((F.col("user_id") * 7919) % 17000 / 100.0 - 85.0).alias("lat"),
        ((F.col("event_id") * 104729) % 36000 / 100.0 - 180.0).alias("lon"),
    )
    out = tiles.adaptive_tiles(pts, base_z=4, max_z=4, threshold=1).collect()
    assert sum(r.n_points for r in out) == 50
    assert all(r.z == 4 for r in out)


# ---------------------------------------------------------------------------
# crawl frontier + plan shapes
# ---------------------------------------------------------------------------


def test_crawl_frontier_excludes_crawled(spark):
    from skyway_spark.operators import weblinks
    from skyway_spark.sources.generate import generate_linked_pages

    pages = generate_linked_pages(spark, 300)
    crawled = pages.where(
        F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long") % 3 != 0
    )
    links = weblinks.extract_links(crawled)
    out = weblinks.crawl_frontier(links, crawled.select("url"), k=10).collect()
    assert 0 < len(out) <= 10
    crawled_urls = {r.url for r in crawled.select("url").collect()}
    for r in out:
        assert r.href not in crawled_urls
        assert r.n_hosts <= r.n_refs
    # ranking is (n_hosts desc, n_refs desc, href asc)
    keys = [(-r.n_hosts, -r.n_refs, r.href) for r in out]
    assert keys == sorted(keys)


def test_new_op_plan_shapes(spark):
    """Scale-shape pins: containment pair-join is a shuffle hash/merge
    join on the gram key (no BNLJ/cartesian); morans_i has no
    CartesianProduct; adaptive_tiles rescans its input once."""
    from pyspark.sql import Row as R

    docs = spark.createDataFrame(
        [R(doc_id=i, text=f"w{i} x{i} y{i} z{i} common words here") for i in range(20)]
    )
    plan = (
        dedup.ngram_containment_pairs(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan

    cells_df = spark.createDataFrame(
        [R(cx=i % 5, cy=i // 5, x=i + 1) for i in range(25)]
    )
    mplan = (
        spatialstats.morans_i(cells_df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in mplan


# ---------------------------------------------------------------------------
# map matching to segments
# ---------------------------------------------------------------------------


def test_match_to_segments_brute_force(spark):
    """Spark argmin == exact-rational python argmin over the same
    candidate set; segment distance never exceeds best endpoint
    distance."""
    from fractions import Fraction

    from skyway_spark.functions import cells as cf
    from skyway_spark.operators.knn import match_to_segments

    segs_py = [
        # seg_id, way_id, A(y,x), B(y,x)  (centidegrees)
        (1, 0, (0, 0), (0, 1000)),
        (2, 0, (0, 1000), (800, 1000)),
        (3, 1, (-500, -500), (-500, -500)),  # degenerate zero-length
        (4, 1, (2000, -3000), (2500, -2500)),
    ]
    pts_py = [
        (10, (100, 500)),   # above the middle of seg 1
        (11, (0, 1200)),    # past B of seg 1, near seg 2 start
        (12, (-480, -520)), # near the degenerate segment
        (13, (2400, -2600)),
    ]
    segs = spark.createDataFrame(
        [
            (s, w, ay, ax, by, bx, ay / 100.0, ax / 100.0, by / 100.0, bx / 100.0)
            for s, w, (ay, ax), (by, bx) in segs_py
        ],
        "seg_id long, way_id long, ay_c long, ax_c long, by_c long, bx_c long,"
        "alat double, alon double, blat double, blon double",
    )
    pts = spark.createDataFrame(
        [(p, y, x, y / 100.0, x / 100.0) for p, (y, x) in pts_py],
        "point_id long, lat_c long, lon_c long, lat double, lon double",
    )
    got = {
        r.point_id: (r.seg_id, r.d2_num, r.d2_den)
        for r in match_to_segments(pts, segs, res=4, ring=1).collect()
    }

    def seg_d2(py, px, ay, ax, by, bx):
        dot = (py - ay) * (by - ay) + (px - ax) * (bx - ax)
        den = (by - ay) ** 2 + (bx - ax) ** 2
        if dot <= 0 or den == 0:
            return ((py - ay) ** 2 + (px - ax) ** 2, 1)
        if dot >= den:
            return ((py - by) ** 2 + (px - bx) ** 2, 1)
        return (((py - ay) ** 2 + (px - ax) ** 2) * den - dot * dot, den)

    for pid, (py, px) in pts_py:
        best = min(
            (
                (Fraction(*seg_d2(py, px, ay, ax, by, bx)), s)
                for s, _, (ay, ax), (by, bx) in segs_py
            ),
        )
        assert got[pid][0] == best[1], f"point {pid}"
        assert Fraction(got[pid][1], got[pid][2]) == best[0]
        # segment distance <= both endpoint distances
        s, _, (ay, ax), (by, bx) = segs_py[best[1] - 1]
        d_end = min((py - ay) ** 2 + (px - ax) ** 2, (py - by) ** 2 + (px - bx) ** 2)
        assert Fraction(got[pid][1], got[pid][2]) <= d_end


def test_match_to_segments_beats_vertex_snap(spark):
    """A point near the middle of a long edge matches that edge with a
    much smaller distance than the nearest vertex — the reason the
    edge-level operator exists."""
    from skyway_spark.operators.knn import match_to_segments, snap_to_sites

    segs = spark.createDataFrame(
        [(1, 0, 0, -2000, 0, 2000, 0.0, -20.0, 0.0, 20.0)],
        "seg_id long, way_id long, ay_c long, ax_c long, by_c long, bx_c long,"
        "alat double, alon double, blat double, blon double",
    )
    pts = spark.createDataFrame(
        [(7, 50, 0, 0.5, 0.0)],
        "point_id long, lat_c long, lon_c long, lat double, lon double",
    )
    m = match_to_segments(pts, segs, res=4, ring=1).first()
    assert (m.d2_num, m.d2_den) == (50 * 50 * (4000 * 4000), 4000 * 4000)
    sites = spark.createDataFrame(
        [(1, 0, -2000, 0.0, -20.0), (2, 0, 2000, 0.0, 20.0)],
        "site_id long, lat_c long, lon_c long, lat double, lon double",
    )
    v = snap_to_sites(pts, sites, res=4, ring=1).first()
    assert v.d2 == 50 * 50 + 2000 * 2000  # vertex snap is ~1600x farther


def test_hot_spots_bruteforce(spark):
    grid = [(0, 0, 50), (0, 1, 40), (1, 0, 45), (5, 5, 1), (5, 6, 2), (9, 9, 1)]
    df = spark.createDataFrame([Row(cx=a, cy=b, x=c) for a, b, c in grid])
    got = {(r.cx, r.cy): r for r in spatialstats.hot_spots(df).collect()}
    n, s = len(grid), sum(x for _, _, x in grid)
    vals = {(a, b): c for a, b, c in grid}
    assert set(got) == set(vals)
    for (cx, cy), v in vals.items():
        nbs = [
            vals[k]
            for k in [(cx, cy), (cx + 1, cy), (cx - 1, cy), (cx, cy + 1), (cx, cy - 1)]
            if k in vals
        ]
        r = got[(cx, cy)]
        assert (r.nb_sum, r.n_nb) == (sum(nbs), len(nbs))
        assert r.hot == (sum(nbs) * n > len(nbs) * s)
    # the dense block is hot, the sparse tail is not
    assert got[(0, 0)].hot and not got[(5, 5)].hot


def test_rasterize_segments_dda_properties(spark):
    """Walk includes both endpoints, is 8-connected, never revisits a
    cell, and matches a python mirror cell-for-cell."""
    segs_py = [(0, 0, 5, 2), (3, 3, 3, 3), (-2, 4, 2, -4), (10, 0, 0, 10)]
    segs = spark.createDataFrame(
        segs_py, "ax long, ay long, bx long, by long"
    )
    got = {
        (r.x, r.y): r.n_segs
        for r in tiles.rasterize_segments(segs).collect()
    }

    def walk(ax, ay, bx, by):
        adx, ady = abs(bx - ax), abs(by - ay)
        steps = max(adx, ady)
        s1 = max(steps, 1)
        sx = (bx > ax) - (bx < ax)
        sy = (by > ay) - (by < ay)
        return [
            (ax + sx * ((2 * k * adx + s1) // (2 * s1)),
             ay + sy * ((2 * k * ady + s1) // (2 * s1)))
            for k in range(steps + 1)
        ]

    from collections import Counter

    want = Counter()
    for ax, ay, bx, by in segs_py:
        cells_w = walk(ax, ay, bx, by)
        assert cells_w[0] == (ax, ay) and cells_w[-1] == (bx, by)
        assert len(set(cells_w)) == len(cells_w)  # no revisits
        for (x1, y1), (x2, y2) in zip(cells_w, cells_w[1:]):
            assert max(abs(x2 - x1), abs(y2 - y1)) == 1  # 8-connected
        want.update(cells_w)
    assert got == dict(want)


# ---------------------------------------------------------------------------
# product quantization
# ---------------------------------------------------------------------------


def test_pq_codes_block_consistency(spark):
    """Per block, PQ codes equal a standalone k-means run on that
    slice, and dist_j is the distance to the chosen sub-centroid."""
    from skyway_spark.operators.kmeans import kmeans_fit_assign, pq_codes

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = pq_codes(emb, m=4, k=4, iters=1)
    rows = {r.vec_id: r for r in out.collect()}
    assert rows and all(0 <= rows[v][f"code_{j}"] < 4 for v in rows for j in range(4))
    # block 2 == standalone kmeans on the same slice
    sub = emb.select(
        "vec_id", F.slice("embedding", 2 * 16 + 1, 16).alias("embedding")
    )
    ref = {r.vec_id: r for r in kmeans_fit_assign(sub, k=4, iters=1).collect()}
    for v, r in rows.items():
        assert (r.code_2, r.dist_2) == (ref[v].cluster, ref[v].dist)


def test_pq_topk_recall_against_exact(spark):
    """ADC ranking is an approximation — but the query's own vector
    must rank first (distortion-only distance), and the top-10 must
    overlap substantially with the exact quantized top-10."""
    from skyway_spark.operators.kmeans import pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = pq_topk(emb, query_id=7, topk=10, m=4, k=8, iters=2).collect()
    assert len(got) == 10
    assert got == sorted(got, key=lambda r: (r.approx_dist, r.vec_id))
    ids = [r.vec_id for r in got]
    assert 7 in ids  # the query itself survives quantization distortion
    # exact top-10 by true squared distance (python, same quantization);
    # the synthetic embeddings are near-uniform random, where 8-centroid
    # codebooks retain little distance structure — so the bar is
    # better-than-chance overlap (chance: 10/500 per slot), not recall
    import math

    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}
    q = [math.floor(x * (1 << 20)) for x in vecs[7]]
    exact = sorted(
        (
            sum(
                (math.floor(x * (1 << 20)) - qq) ** 2
                for x, qq in zip(vecs[vid], q)
            ),
            vid,
        )
        for vid in vecs
    )[:10]
    overlap = len(set(ids) & {vid for _, vid in exact})
    assert overlap >= 2, f"ADC overlap not above chance: {overlap}/10"


def test_pq_train_joint_equals_per_block(spark):
    """pq_train's one-scan-per-iteration joint Lloyd must be
    bit-identical to training each sub-block separately with
    kmeans_train (the blocks never interact — the joint pass only
    stacks the m independent aggregates), across an m that exercises
    both the explode stacking and the empty-cluster carry-over."""
    from skyway_spark.operators.kmeans import kmeans_train, pq_train

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for m, k, iters in [(2, 4, 2), (4, 8, 1)]:
        bs = 64 // m
        joint = pq_train(emb, m=m, k=k, iters=iters)
        for j in range(m):
            sub = emb.select(
                "vec_id", F.slice("embedding", j * bs + 1, bs).alias("embedding")
            )
            solo, qdf = kmeans_train(sub, k=k, iters=iters)
            qdf.unpersist()
            assert joint[j] == solo, f"m={m} block {j} diverged"


# ---------------------------------------------------------------------------
# online anomaly detection
# ---------------------------------------------------------------------------


def test_running_zscore_hand_case(spark):
    """5 calm points then a spike: only the spike flags, judged
    against PRIOR moments only."""
    from skyway_spark.operators.stats import running_zscore_flags

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(minutes=i), 1, "x", v, "{}")
        for i, v in enumerate([10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 50.0, 10.05])
    ]
    ddl = ("event_id long, ts timestamp, user_id long, event_type string, "
           "value double, props string")
    df = spark.createDataFrame(rows, ddl)
    got = running_zscore_flags(df).collect()
    assert [(r.point_id, r.n_prior) for r in got] == [(6, 6)]
    # the spike inflates the variance: the return to 10.05 must NOT
    # flag (its deviation is dominated by the spike's contribution)
    assert all(r.point_id != 7 for r in got)


def test_staging_pins_hold(spark):
    """The PLANS.md census claims: after the localCheckpoint pins, the
    final plans of morans_i / hot_spots / adaptive_tiles never rescan
    the parquet source (the corpus aggregate is paid once, in the pin
    job), and their shuffle counts stay bounded."""
    import re

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    pts = ev.select(
        (((F.col("user_id") * 7919) % 17000) / F.lit(100)).cast("long").alias("cx"),
        (((F.col("event_id") * 104729) % 36000) / F.lit(100)).cast("long").alias("cy"),
    )

    def census(df):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        sh = len(re.findall(
            r"\bExchange hashpartitioning|\bExchange rangepartitioning"
            r"|\bExchange SinglePartition", plan))
        return plan, sh

    mplan, msh = census(spatialstats.morans_i(spatialstats.cell_counts(pts)))
    assert "Scan parquet" not in mplan and msh <= 6

    hplan, hsh = census(spatialstats.hot_spots(spatialstats.cell_counts(pts)))
    assert "Scan parquet" not in hplan and hsh <= 6

    gpts = ev.select(
        ((F.col("user_id") * 7919) % 17000 / 100.0 - 85.0).alias("lat"),
        ((F.col("event_id") * 104729) % 36000 / 100.0 - 180.0).alias("lon"),
    )
    aplan, ash = census(tiles.adaptive_tiles(gpts, base_z=3, max_z=5, threshold=10))
    assert "Scan parquet" not in aplan and ash <= 2


def test_graph_ops_empty_graph(spark):
    from skyway_spark.operators.graph import hits_int, pagerank_int

    empty = spark.createDataFrame([], "src long, dst long")
    assert pagerank_int(empty).collect() == []
    assert hits_int(empty).collect() == []
    from skyway_spark.operators.graph import bellman_ford

    # an empty graph also yields a None driver-scalar source id
    assert bellman_ford(empty, [None], iters=2).collect() == []


def test_next_fit_bins_properties(spark):
    from skyway_spark.operators.packing import next_fit_bins

    items = spark.createDataFrame(
        [(i, s) for i, s in enumerate([3, 3, 3, 10, 1, 1, 25, 2])],
        "item long, n_points long",
    )
    out = sorted(
        next_fit_bins(items, capacity=8, order_cols=["n_points", "item"]).collect(),
        key=lambda r: (r.n_points, r.item),
    )
    # running_start is the exclusive prefix sum in (n_points, item) order
    run = 0
    for r in out:
        assert r.running_start == run
        assert r.bin == run // 8
        run += r.n_points
    # every item in exactly one bin; bins consecutive from 0
    bins = {r.bin for r in out}
    assert bins == set(range(max(bins) + 1))
