"""Cell index + tile math: Column exprs vs numpy oracle, hierarchy,
k-ring wraparound, known slippy tile values."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from skyway_spark.functions import cells


@pytest.fixture(scope="module")
def points(spark):
    rng = np.random.default_rng(42)
    lat = rng.uniform(-89.9, 89.9, 500)
    lon = rng.uniform(-180.0, 179.999, 500)
    pdf = [(int(i), float(a), float(o)) for i, (a, o) in enumerate(zip(lat, lon))]
    return spark.createDataFrame(pdf, "id long, lat double, lon double"), lat, lon


@pytest.mark.parametrize("res", [0, 3, 8, 15, 26])
def test_cell_encode_matches_numpy(points, res):
    df, lat, lon = points
    got = (
        df.withColumn("cell", cells.cell_encode(F.col("lat"), F.col("lon"), res))
        .orderBy("id")
        .select("cell")
        .toPandas()["cell"]
        .to_numpy()
    )
    want = cells.cell_encode_np(lat, lon, res)
    assert (got == want).all()


def test_cell_encode_sql_matches_column(spark, points):
    """The SQL-text key equals the Column one everywhere, including the
    values that clamp (|lat| > 90, |lon| > 180, NaN, +-inf, null) and
    cell boundaries."""
    _df, lat, lon = points
    special = [None, float("nan"), float("inf"), float("-inf"), -0.0, 90.0, -90.0, 95.0, 180.0, -200.0, 5e-324]
    rows = [(float(a), float(b)) for a, b in zip(lat, lon)]
    rows += [(a, b) for a in special for b in special]
    rows += [(90.0 - k * 180.0 / 64, k * 360.0 / 128 - 180.0) for k in range(65)]
    df = spark.createDataFrame(rows, "lat double, lon double")
    for res in (0, 3, 8, 15, 26):
        col = cells.cell_encode(F.col("lat"), F.col("lon"), res)
        sql = F.expr(cells.cell_encode_sql("lat", "lon", res))
        diff = df.where(~col.eqNullSafe(sql))
        assert diff.count() == 0, (res, diff.take(3))


def test_cell_decode_roundtrip(points):
    df, lat, lon = points
    res = 9
    out = (
        df.withColumn("cell", cells.cell_encode(F.col("lat"), F.col("lon"), res))
        .select(
            "id",
            cells.cell_x(F.col("cell")).alias("x"),
            cells.cell_y(F.col("cell")).alias("y"),
        )
        .orderBy("id")
        .toPandas()
    )
    x, y = cells.cell_xy_np(lat, lon, res)
    assert (out["x"].to_numpy() == x).all()
    assert (out["y"].to_numpy() == y).all()


def test_parent_hierarchy(points):
    df, lat, lon = points
    out = (
        df.withColumn("c9", cells.cell_encode(F.col("lat"), F.col("lon"), 9))
        .withColumn("c5_direct", cells.cell_encode(F.col("lat"), F.col("lon"), 5))
        .withColumn("c5_parent", cells.cell_parent(F.col("c9"), 9, 5))
        .where(F.col("c5_direct") != F.col("c5_parent"))
        .count()
    )
    assert out == 0


def test_k_ring_size_and_wrap(spark):
    res = 6
    # interior point: full (2k+1)^2 ring
    df = spark.createDataFrame([(10.0, 20.0)], "lat double, lon double")
    ring = df.select(
        cells.k_ring(cells.cell_encode(F.col("lat"), F.col("lon"), res), res, 2).alias("r")
    ).first()["r"]
    assert len(ring) == 25
    assert len(set(ring)) == 25

    # antimeridian point: still 25 distinct (x wraps)
    df2 = spark.createDataFrame([(0.0, 179.99)], "lat double, lon double")
    ring2 = df2.select(
        cells.k_ring(cells.cell_encode(F.col("lat"), F.col("lon"), res), res, 2).alias("r")
    ).first()["r"]
    assert len(set(ring2)) == 25
    xs = [cells.cell_decode_np(c)[1][0] for c in ring2]
    assert 0 in xs  # wrapped past the antimeridian

    # pole point: y rows clamped away -> fewer cells
    df3 = spark.createDataFrame([(89.9, 0.0)], "lat double, lon double")
    ring3 = df3.select(
        cells.k_ring(cells.cell_encode(F.col("lat"), F.col("lon"), res), res, 2).alias("r")
    ).first()["r"]
    assert len(ring3) == 15  # 3 of 5 rows valid at y=0


def test_tile_xy_known_values(spark):
    # standard slippy formula computed independently with math.*
    lat, lon, z = 41.85, -87.65, 15
    n = 1 << z
    want_x = math.floor((lon + 180.0) / 360.0 * n)
    want_y = math.floor((1.0 - math.asinh(math.tan(math.radians(lat))) / math.pi) / 2.0 * n)
    df = spark.createDataFrame([(lat, lon)], "lat double, lon double")
    tx, ty = cells.tile_xy(F.col("lat"), F.col("lon"), z)
    row = df.select(tx.alias("x"), ty.alias("y")).first()
    assert (row["x"], row["y"]) == (want_x, want_y)


def test_tile_matches_numpy(points):
    df, lat, lon = points
    for z in (4, 11):
        got = (
            df.select(
                F.col("id"),
                cells.tile_xy(F.col("lat"), F.col("lon"), z)[0].alias("x"),
                cells.tile_xy(F.col("lat"), F.col("lon"), z)[1].alias("y"),
            )
            .orderBy("id")
            .toPandas()
        )
        wx, wy = cells.tile_xy_np(lat, lon, z)
        assert (got["x"].to_numpy() == wx).all()
        assert (got["y"].to_numpy() == wy).all()


def test_bbox_covering():
    got = cells.cells_covering_bbox(10.0, 11.0, 20.0, 21.5, res=8)
    # verify by re-encoding a dense sample of the bbox
    lat = np.linspace(10.0, 10.999, 50)
    lon = np.linspace(20.0, 21.499, 50)
    gl, go = np.meshgrid(lat, lon)
    sample = set(cells.cell_encode_np(gl.ravel(), go.ravel(), 8).tolist())
    assert sample <= set(got.tolist())


def test_res_for_radius():
    r = cells.res_for_radius_km(5.0)
    assert 180.0 / (1 << r) >= 5.0 / 111.32
    assert 180.0 / (1 << (r + 1)) < 5.0 / 111.32


def test_quadkey_matches_bitmirror_and_prefix(points):
    df, lat, lon = points
    z = 7
    got = (
        df.select(
            "id",
            cells.quadkey(F.col("lat"), F.col("lon"), z).alias("qk"),
            cells.quadkey(F.col("lat"), F.col("lon"), 4).alias("qk4"),
        )
        .orderBy("id")
        .collect()
    )
    tx, ty = cells.tile_xy_np(lat, lon, z)
    for r, x, y in zip(got, tx, ty):
        want = "".join(
            str(((int(x) >> (z - 1 - i)) & 1) + 2 * ((int(y) >> (z - 1 - i)) & 1))
            for i in range(z)
        )
        assert r["qk"] == want
    # zoom hierarchy is string-prefix containment vs independent z=4 math
    tx4, ty4 = cells.tile_xy_np(lat, lon, 4)
    for r, x, y in zip(got, tx4, ty4):
        want4 = "".join(
            str(((int(x) >> (3 - i)) & 1) + 2 * ((int(y) >> (3 - i)) & 1))
            for i in range(4)
        )
        assert r["qk4"] == want4
        assert r["qk"].startswith(want4)


def test_compact_cells_coverage_preserved(spark):
    """Compacting then re-expanding to the fine res reproduces the
    original cell set exactly; a full 4x4 block compacts 2 levels to
    ONE res-4 cell."""
    res = 6
    # a full 4x4 block of res-6 cells (16 cells -> one res-4 cell)
    block = [cells.pack_cell_py(x, y, res) for x in range(8, 12) for y in range(4, 8)]
    # plus a partial group that must stay at res 6
    partial = [cells.pack_cell_py(20, 20, res), cells.pack_cell_py(21, 20, res)]
    df = spark.createDataFrame([(c,) for c in block + partial], "cell long")
    out = cells.compact_cells(df, res, levels=2).collect()
    got = {(r["cell"], r["res"]) for r in out}
    assert (cells.pack_cell_py(2, 1, 4), 4) in got
    assert {(c, 6) for c in partial} <= got
    assert len(got) == 3

    # coverage: expand everything back to res 6
    expanded = set()
    for c, r in got:
        xs = [cells.cell_x_py(c)]
        ys = [cells.cell_y_py(c)]
        for _ in range(6 - r):
            xs = [v for x in xs for v in (2 * x, 2 * x + 1)]
            ys = [v for y in ys for v in (2 * y, 2 * y + 1)]
        expanded |= {cells.pack_cell_py(x, y, 6) for x in xs for y in ys}
    assert expanded == set(block + partial)


def test_zorder_key_bit_mirror_and_locality(points):
    df, lat, lon = points
    got = (
        df.select("id", cells.zorder_key(F.col("lat"), F.col("lon"), 16).alias("z"))
        .orderBy("id")
        .collect()
    )
    x, y = cells.cell_xy_np(lat, lon, 15)
    for r, xi, yi in zip(got, x.astype(int), y.astype(int)):
        want = 0
        for i in range(16):
            want |= ((xi >> i) & 1) << (2 * i)
            want |= ((yi >> i) & 1) << (2 * i + 1)
        assert r["z"] == want
    # locality law: all points in the same res-7 cell share the top
    # 16 interleaved bits (zkey >> 16 is a function of the coarse cell)
    c7 = cells.cell_encode_np(lat, lon, 7)
    by_cell: dict[int, set[int]] = {}
    for r, c in zip(got, c7.tolist()):
        by_cell.setdefault(c, set()).add(r["z"] >> 16)
    assert all(len(v) == 1 for v in by_cell.values())


def test_geohash_known_vectors(spark):
    """Public Niemeyer geohash vectors (encoding is a published
    standard; values verifiable with any geohash tool)."""
    vecs = [
        (57.64911, 10.40744, "u4pruyd"),
        (48.8566, 2.3522, "u09tvw0"),
        (40.7128, -74.0060, "dr5regw"),
        (-33.8688, 151.2093, "r3gx2f7"),
        (0.0, 0.0, "s000000"),
    ]
    df = spark.createDataFrame([(a, b) for a, b, _ in vecs], "lat double, lon double")
    got = [r[0] for r in df.select(cells.geohash(F.col("lat"), F.col("lon"), 7)).collect()]
    assert got == [w for _, _, w in vecs]
    # prefix-hierarchy law: precision-4 hash is a prefix of precision-7
    g4 = [r[0] for r in df.select(cells.geohash(F.col("lat"), F.col("lon"), 4)).collect()]
    assert all(full.startswith(p4) for full, p4 in zip(got, g4))


def test_ewma_fold(spark):
    """alpha=1/2 EWMA: ewma_t = (ewma_{t-1} + x_t)/2, seeded with x_0,
    ordered by (ts, event_id); single-row groups return the value."""
    from skyway_spark.operators.timeseries import ewma

    rows = [
        (1, "2024-01-01 00:00:00", 1, 4.0),
        (1, "2024-01-01 00:01:00", 2, 8.0),   # (4+8)/2 = 6
        (1, "2024-01-01 00:02:00", 3, 2.0),   # (6+2)/2 = 4
        (2, "2024-01-01 00:00:00", 4, 7.5),   # singleton
        # same ts -> event_id breaks the tie deterministically
        (3, "2024-01-01 00:00:00", 6, 1.0),
        (3, "2024-01-01 00:00:00", 5, 3.0),   # order: id5 (3.0) then id6 (1.0)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string, event_id long, value double")
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    got = {r["user_id"]: (r["n_events"], r["ewma"]) for r in ewma(df).collect()}
    assert got[1] == (3, 4.0)
    assert got[2] == (1, 7.5)
    assert got[3] == (2, (3.0 + 1.0) / 2)
