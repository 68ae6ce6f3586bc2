"""Round-2 batch 2: sequence packing, source rebalancing, triangle
stats, grid heatmap — each against a hand-computed / Python mirror."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from skyway_spark.functions import cells
from skyway_spark.operators.cluster import grid_heatmap
from skyway_spark.operators.graph import triangle_stats
from skyway_spark.operators.packing import pack_sequences
from skyway_spark.operators.sampling import BUCKETS, rebalance_sources

# --------------------------- packing --------------------------------


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_pack_sequences_hand_computed(spark):
    texts = ["a b c", "d", "e f", "g h i j", "k"]  # lens 3 1 2 4 1
    out = {
        r["doc_id"]: r.asDict()
        for r in pack_sequences(_docs(spark, texts), seq_len=4, block_size=2).collect()
    }
    # concat order = doc_id order; starts: 0, 3, 4, 6, 10
    assert [out[i]["start_offset"] for i in range(5)] == [0, 3, 4, 6, 10]
    assert [out[i]["seq_id"] for i in range(5)] == [0, 0, 1, 1, 2]
    assert [out[i]["seq_offset"] for i in range(5)] == [0, 3, 0, 2, 2]
    assert [out[i]["n_tokens"] for i in range(5)] == [3, 1, 2, 4, 1]


def test_pack_sequences_block_size_invariant(spark):
    texts = [" ".join(["w"] * (1 + (i * 7) % 13)) for i in range(60)]
    df = _docs(spark, texts)
    a = sorted(map(tuple, pack_sequences(df, 16, block_size=1).collect()))
    b = sorted(map(tuple, pack_sequences(df, 16, block_size=7).collect()))
    c = sorted(map(tuple, pack_sequences(df, 16, block_size=1024).collect()))
    assert a == b == c


def test_pack_sequences_sparse_noncontiguous_ids(spark):
    # gaps in doc_id must not create phantom offsets
    df = spark.createDataFrame(
        [(3, "a b"), (90, "c"), (4000, "d e f")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["start_offset"] for r in pack_sequences(df, 4, block_size=64).collect()}
    assert got == {3: 0, 90: 2, 4000: 3}


# -------------------------- rebalancing ------------------------------


def test_rebalance_whitelist_and_scale(spark):
    rows = [(i, "en") for i in range(400)] + \
           [(i + 1000, "de") for i in range(100)] + \
           [(i + 2000, "zh") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = rebalance_sources(df, {"en": 0.5, "de": 0.5}, strata_col="lang")
    got = {r["lang"]: r["cnt"] for r in out.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    # scale = min(400/.5, 100/.5) = 200 -> de kept whole (cut=BUCKETS),
    # en kept at rate 100/400 = 0.25 (cut = 250000)
    assert "zh" not in got  # not whitelisted -> dropped
    assert got["de"] == 100
    # deterministic-hash keep at cut 250000: mirror the exact formula
    cut = int((0.5 * 200.0) / 400.0 * BUCKETS)
    kept = sum(
        1 for i in range(400)
        if ((i % 2147483647) * 1103515245 + 12345) % 2147483647 % BUCKETS < cut
    )
    assert got["en"] == kept


def test_rebalance_deterministic_under_repartition(spark):
    rows = [(i, ["en", "de", "fr"][i % 3]) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    t = {"en": 0.5, "de": 0.3, "fr": 0.2}
    a = sorted(r["doc_id"] for r in rebalance_sources(df, t, strata_col="lang").collect())
    b = sorted(
        r["doc_id"]
        for r in rebalance_sources(df.repartition(13, "lang"), t, strata_col="lang").collect()
    )
    assert a == b and len(a) > 0


# --------------------------- triangles -------------------------------


def test_triangle_stats_hand_graph(spark):
    # K4 on {1,2,3,4} (4 triangles) + pendant 5, plus noise the
    # canonicalizer must absorb: duplicates, reversed edges, self-loop
    edges = list(itertools.combinations([1, 2, 3, 4], 2)) + [(4, 5)]
    noisy = edges + [(b, a) for a, b in edges] + [(2, 1), (3, 3)]
    df = spark.createDataFrame(noisy, "src long, dst long")
    row = triangle_stats(df).collect()[0]
    assert row["n_nodes"] == 5
    assert row["n_edges"] == 7
    assert row["max_degree"] == 4  # node 4: {1,2,3,5}
    assert row["n_triangles"] == 4


def test_triangle_stats_triangle_free(spark):
    # star graph: wedges everywhere, zero closures
    df = spark.createDataFrame([(0, i) for i in range(1, 9)], "src long, dst long")
    row = triangle_stats(df).collect()[0]
    assert row["n_triangles"] == 0 and row["max_degree"] == 8


# ---------------------------- heatmap --------------------------------


def test_grid_heatmap_interior_point_kernel(spark):
    # one point far from the grid border: full 3x3 binomial mass
    df = spark.createDataFrame([(0.0, 0.0)], "lat double, lon double")
    res = 5
    got = {r["cell"]: r["density"] for r in grid_heatmap(df, res=res).collect()}
    cx = cells.cell_x_py(cells.pack_cell_py(32, 16, res))  # lon 0 -> x=32
    assert len(got) == 9
    w1 = {-1: 0.25, 0: 0.5, 1: 0.25}
    for (dx, dy) in itertools.product((-1, 0, 1), repeat=2):
        cell = cells.pack_cell_py(32 + dx, 16 + dy, res)
        assert got[cell] == w1[dx] * w1[dy]
    assert abs(sum(got.values()) - 1.0) < 1e-12
    assert cx == 32  # fixture sanity


def test_grid_heatmap_border_mass_lost(spark):
    # point in the corner cell (0,0): out-of-grid taps are dropped
    df = spark.createDataFrame([(89.9, -179.9)], "lat double, lon double")
    got = {r["cell"]: r["density"] for r in grid_heatmap(df, res=5).collect()}
    assert len(got) == 4  # only the in-grid 2x2 quadrant survives
    assert sum(got.values()) == (0.5 + 0.25) * (0.5 + 0.25)


# ------------------------- tile pyramid ------------------------------


def test_tile_pyramid_level_totals_and_parents(spark):
    from skyway_spark.operators.tiles import tile_pyramid

    pts = spark.createDataFrame(
        [(float(la), float(lo)) for la in range(-80, 81, 20) for lo in range(-170, 171, 40)],
        "lat double, lon double",
    )
    n = pts.count()
    got = {r["cell"]: r["n_points"] for r in tile_pyramid(pts, finest_res=6, levels=3).collect()}
    by_res = {}
    for cell, cnt in got.items():
        by_res.setdefault(cell >> 58, 0)
        by_res[cell >> 58] += cnt
    assert by_res == {6: n, 5: n, 4: n}  # every level partitions all points
    # parent counts equal the sum of their children
    kids = {c: v for c, v in got.items() if c >> 58 == 6}
    for c, v in got.items():
        if c >> 58 == 5:
            m = (1 << 29) - 1
            x, y = (c >> 29) & m, c & m
            s = sum(
                kids.get((6 << 58) | ((2 * x + dx) << 29) | (2 * y + dy), 0)
                for dx in (0, 1) for dy in (0, 1)
            )
            assert s == v


# --------------------------- trajectory -------------------------------


def test_segment_trips_hand_computed(spark):
    from skyway_spark.operators.trajectory import segment_trips

    # user 1: two points 1 km apart, then a 1000 km jump, then a 3 h gap
    rows = [
        (1, 10, "2024-01-01 00:00:00", 0.0, 0.0),
        (1, 11, "2024-01-01 00:10:00", 0.0, 0.009),      # ~1 km: same trip
        (1, 12, "2024-01-01 00:20:00", 0.0, 10.0),       # ~1113 km: break
        (1, 13, "2024-01-01 05:00:00", 0.0, 10.001),     # 4h40 gap: break
        (2, 20, "2024-01-01 00:00:00", 50.0, 50.0),      # separate entity
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts string, lat double, lon double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        (r["entity"], r["seg_id"]): r.asDict()
        for r in segment_trips(df, jump_km=100.0, gap_us=3_600_000_000).collect()
    }
    assert len(out) == 4
    assert out[(1, 1)]["n_points"] == 2 and out[(1, 1)]["first_id"] == 10
    assert out[(1, 1)]["last_id"] == 11 and out[(1, 1)]["path_cm"] > 0
    assert out[(1, 2)]["n_points"] == 1 and out[(1, 2)]["path_cm"] == 0
    assert out[(1, 3)]["n_points"] == 1  # gap break despite ~0.1 km step
    assert out[(2, 1)]["n_points"] == 1


def test_segment_trips_orders_by_ts_not_id(spark):
    from skyway_spark.operators.trajectory import segment_trips

    # ids deliberately reversed vs timestamps: ordering must follow ts
    rows = [
        (1, 99, "2024-01-01 00:00:00", 0.0, 0.0),
        (1, 1, "2024-01-01 00:10:00", 0.0, 0.001),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts string, lat double, lon double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = segment_trips(df, jump_km=100.0, gap_us=3_600_000_000).collect()
    assert len(out) == 1 and out[0]["n_points"] == 2
    assert out[0]["first_id"] == 1 and out[0]["last_id"] == 99


# ----------------------------- bloom ---------------------------------


def test_bloom_no_false_negatives_and_direction(spark):
    from skyway_spark.operators.bloom import bloom_contamination, build_bloom
    from skyway_spark.operators.textstats import contamination

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    bl = build_bloom(bench, n=8, k=4, m_bits=62 * 1024)
    bloom_hit = {
        r["doc_id"]: r["n_flagged"]
        for r in bloom_contamination(docs, bl, n=8, k=4, m_bits=62 * 1024).collect()
    }
    exact = {
        r["doc_id"]: r["n_contaminated"]
        for r in contamination(docs, bench, n=8).collect()
    }
    # Bloom can only OVER-flag: every exact hit is a bloom hit
    for d, n_exact in exact.items():
        assert bloom_hit[d] >= n_exact, (d, bloom_hit[d], n_exact)
    # and the benchmark members themselves are all fully flagged
    for r in bench.select("doc_id").collect():
        assert bloom_hit[r["doc_id"]] > 0


def test_bloom_empty_text_and_determinism(spark):
    from skyway_spark.operators.bloom import bloom_contamination, build_bloom

    docs = spark.createDataFrame(
        [(1, "only three words"), (2, "a b c d e f g h i")],
        "doc_id long, text string",
    )
    bl = build_bloom(docs.where("doc_id = 2"), n=8, k=4, m_bits=62 * 16)
    out = {r["doc_id"]: r.asDict()
           for r in bloom_contamination(docs, bl, n=8, k=4, m_bits=62 * 16).collect()}
    assert out[1]["n_windows"] == 0 and not out[1]["contaminated"]
    assert out[2]["n_windows"] == 2 and out[2]["n_flagged"] == 2
    bl2 = build_bloom(docs.where("doc_id = 2").repartition(7), n=8, k=4, m_bits=62 * 16)
    assert bl == bl2  # build is partitioning-independent


# ---------------------------- k-means --------------------------------


def _kmeans_mirror(vecs, k, iters, scale_bits=20):
    import math
    q = [[math.floor(x * (1 << scale_bits)) for x in v] for v in vecs]
    cent = [list(q[i]) for i in range(k)]
    for _ in range(iters):
        assign = []
        for v in q:
            dists = [(sum((a - b) ** 2 for a, b in zip(v, c)), i) for i, c in enumerate(cent)]
            assign.append(min(dists)[1])
        nxt = [list(c) for c in cent]
        for c in range(k):
            members = [q[i] for i, a in enumerate(assign) if a == c]
            if members:
                nxt[c] = [sum(col) // len(members) for col in zip(*members)]
        cent = nxt
    final = []
    for v in q:
        dists = [(sum((a - b) ** 2 for a, b in zip(v, c)), i) for i, c in enumerate(cent)]
        d, c = min(dists)
        final.append((c, d))
    return final


def test_kmeans_matches_python_mirror(spark):
    from skyway_spark.operators.kmeans import kmeans_fit_assign

    # deterministic pseudo-random 3-d vectors
    vecs = [
        [((i * 37 + d * 101) % 97) / 97.0 - 0.5 for d in range(3)] for i in range(40)
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    got = {
        r["vec_id"]: (r["cluster"], r["dist"])
        for r in kmeans_fit_assign(df, k=4, iters=3).collect()
    }
    # mirror quantizes from float32-rounded values like the Spark path
    import numpy as np
    vecs32 = [list(np.asarray(v, dtype=np.float32).astype(float)) for v in vecs]
    want = _kmeans_mirror(vecs32, k=4, iters=3)
    assert got == {i: w for i, w in enumerate(want)}


def test_kmeans_tiebreak_and_empty_cluster_carryover(spark):
    from pyspark.sql import functions as F  # noqa: F811
    from skyway_spark.operators.kmeans import _assign, _quantize, kmeans_fit_assign

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    # equidistant to two identical centroids -> ties break to cid 0
    qdf = df.select("vec_id", _quantize(F.col("embedding"), 20).alias("q"))
    tied = _assign(qdf, [("q", [[0, 0], [0, 0]], "cluster", "dist")])
    assert all(r["cluster"] == 0 for r in tied.collect())
    # after one Lloyd step every vector lands in cluster 0, so cluster 1
    # carries its [0,0] init over -- and then wins back the origin vecs
    out = {r["vec_id"]: r["cluster"] for r in kmeans_fit_assign(df, k=2, iters=1).collect()}
    assert out == {0: 1, 1: 1, 2: 0}


def test_ivf_trained_full_probe_equals_brute_force(spark):
    from skyway_spark.operators.kmeans import ivf_trained_topk, kmeans_fit_assign
    import math

    vecs = [
        [((i * 53 + d * 29) % 83) / 83.0 - 0.5 for d in range(4)] for i in range(30)
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    q = [0.1, -0.2, 0.3, 0.0]
    # nprobe == k_lists -> every list probed -> must equal brute force
    got = [
        (r["vec_id"], r["qdist"])
        for r in ivf_trained_topk(df, q, k_lists=4, iters=2, nprobe=4, topk=5).collect()
    ]
    import numpy as np
    qq = [math.floor(x * (1 << 20)) for x in q]
    brute = sorted(
        (
            sum(
                (math.floor(float(np.float32(x)) * (1 << 20)) - b) ** 2
                for x, b in zip(v, qq)
            ),
            i,
        )
        for i, v in enumerate(vecs)
    )[:5]
    assert got == [(i, d) for d, i in brute]
    # nprobe < k_lists: results are a subset of the probed lists' members
    assigned = {
        r["vec_id"]: r["cluster"] for r in kmeans_fit_assign(df, k=4, iters=2).collect()
    }
    part = ivf_trained_topk(df, q, k_lists=4, iters=2, nprobe=2, topk=5).collect()
    probed = {r["cluster"] for r in part}
    assert len(probed) <= 2
    for r in part:
        assert assigned[r["vec_id"]] == r["cluster"]


def test_segment_trips_matches_python_mirror_bulk(spark):
    """200 pseudo-random points over 8 entities, incl. ts ties (same
    second, different ids) and singleton entities — compared against
    an independent per-entity Python mirror of the break/cumsum
    semantics."""
    import math
    from skyway_spark.operators.trajectory import segment_trips

    EARTH = 6371.0088
    JUMP, GAP = 700.0, 1_800_000_000  # 700 km, 30 min

    def hav(la1, lo1, la2, lo2):
        dla = math.radians(la2 - la1) / 2.0
        dlo = math.radians(lo2 - lo1) / 2.0
        a = math.sin(dla) ** 2 + math.cos(math.radians(la1)) * math.cos(
            math.radians(la2)
        ) * math.sin(dlo) ** 2
        return 2.0 * EARTH * math.asin(math.sqrt(a))

    rows = []
    for i in range(200):
        ent = (i * 7) % 8
        # ts ties: pairs of events share a second within an entity
        sec = ((i * 13) % 50) * 60 * ((i % 3) + 1) % 90000
        lat = ((i * 37) % 160) - 80 + 0.25
        lon = ((i * 91) % 340) - 170 + 0.5
        rows.append((ent, i, sec, float(lat), float(lon)))
    df = spark.createDataFrame(
        [(e, i, f"2024-01-01 {s // 3600:02d}:{s % 3600 // 60:02d}:{s % 60:02d}", la, lo)
         for e, i, s, la, lo in rows],
        "user_id long, event_id long, ts string, lat double, lon double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    want = {}
    by_ent = {}
    for e, i, s, la, lo in rows:
        by_ent.setdefault(e, []).append((s, i, la, lo))
    for e, pts in by_ent.items():
        pts.sort()  # (ts, id) order
        seg, prev = 0, None
        for s, i, la, lo in pts:
            step = 0 if prev is None else hav(prev[2], prev[3], la, lo)
            brk = prev is None or step > JUMP or (s - prev[0]) * 10**6 > GAP
            if brk:
                seg += 1
            key = (e, seg)
            n, first, last, path = want.get(key, (0, i, i, 0))
            want[key] = (
                n + 1,
                min(first, i),
                max(last, i),
                path + (0 if brk else math.floor(step * 1e5)),
            )
            prev = (s, i, la, lo)

    got = {
        (r["entity"], r["seg_id"]): (
            r["n_points"], r["first_id"], r["last_id"], r["path_cm"]
        )
        for r in segment_trips(df, jump_km=JUMP, gap_us=GAP).collect()
    }
    assert got == want


# ------------------------- moments / collocations ---------------------


def test_group_moments_hand_computed(spark):
    import math
    from skyway_spark.operators.stats import group_moments

    rows = [("a", 2), ("a", 4), ("a", 6), ("b", 5)]
    df = spark.createDataFrame(rows, "grp string, x long")
    got = {r["grp"]: r.asDict() for r in group_moments(df, "grp", F.col("x")).collect()}
    assert got["a"]["n"] == 3 and got["a"]["sum_x"] == 12 and got["a"]["sum_x2"] == 56
    assert got["a"]["mean_milli"] == 4000
    # var_pop = 56/3 - 16 = 8/3
    assert got["a"]["var_micro"] == math.floor((56 / 3 - 4.0 * 4.0) * 1e6)
    assert got["b"]["var_micro"] == 0 and got["b"]["mean_milli"] == 5000


def test_collocations_lift_ranking(spark):
    from skyway_spark.operators.textstats import collocations

    # "new york" always adjacent (high lift); "the cat/dog/car" dilute "the"
    docs = [
        (1, "new york new york new york"),
        (2, "the cat the dog the car the cat the dog the cat"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = [(r["gram"], r["c_xy"], r["lift_micro"]) for r in
           collocations(df, top_k=10, min_count=3).collect()]
    grams = [g for g, _, _ in got]
    assert "new york" in grams and "the cat" in grams
    # exclusive pair ranks above the diluted one
    assert grams.index("new york") < grams.index("the cat")
    assert all(c >= 3 for _, c, _ in got)
    # descending deterministic order
    lifts = [l for _, _, l in got]
    assert lifts == sorted(lifts, reverse=True)


def test_vectorize_raster_runs(spark):
    from skyway_spark.operators.tiles import vectorize_raster

    # res 4: nx=32, ny=16; craft 3 hot cells in a row y with a gap,
    # plus a sub-threshold cell that must NOT bridge the gap
    def pt(x, y):
        # center of cell (x, y) at res 4
        lon = (x + 0.5) / 32.0 * 360.0 - 180.0
        lat = 90.0 - (y + 0.5) / 16.0 * 180.0
        return (lat, lon)

    rows = []
    for x in (3, 4, 6):          # hot cells: run [3,4] and run [6,6]
        rows += [pt(x, 5)] * 4
    rows += [pt(5, 5)] * 2       # below min_count=4: the gap stays
    rows += [pt(3, 9)] * 5       # separate row
    df = spark.createDataFrame(rows, "lat double, lon double")
    got = {
        (r["y"], r["x0"], r["x1"]): (r["n_cells"], r["total_count"])
        for r in vectorize_raster(df, res=4, min_count=4).collect()
    }
    assert got == {(5, 3, 4): (2, 8), (5, 6, 6): (1, 4), (9, 3, 3): (1, 5)}
    # adjacency law: every run is contiguous
    for (y, x0, x1), (n, _) in got.items():
        assert x1 - x0 + 1 == n


def test_bottom_k_sample_laws(spark):
    from skyway_spark.operators.sampling import bottom_k_sample

    df = spark.createDataFrame([(i, f"d{i}") for i in range(500)], "doc_id long, v string")
    s10 = [(r["doc_id"], r["sample_rank"]) for r in
           bottom_k_sample(df, 10).orderBy("sample_rank").collect()]
    assert len(s10) == 10 and [r for _, r in s10] == list(range(1, 11))
    # prefix law: k=5 is exactly the first 5 of k=10
    s5 = [(r["doc_id"], r["sample_rank"]) for r in
          bottom_k_sample(df, 5).orderBy("sample_rank").collect()]
    assert s5 == s10[:5]
    # partitioning independence
    s10b = [(r["doc_id"], r["sample_rank"]) for r in
            bottom_k_sample(df.repartition(17), 10).orderBy("sample_rank").collect()]
    assert s10b == s10
    # union composability: bottom-k of a union == merge of shard bottom-ks
    half1, half2 = df.where("doc_id < 250"), df.where("doc_id >= 250")
    merged = bottom_k_sample(half1.unionByName(half2), 10)
    assert [(r["doc_id"], r["sample_rank"]) for r in
            merged.orderBy("sample_rank").collect()] == s10
