"""Equivalence pins for the round-4 codegen refactors in
functions/hexgrid.py: the staged DataFrame-level assign_hex must
produce bit-identical (q, r) to the Column-level hex_qr, and the
affine-delta hex_disk must equal the original unpack+repack
formulation, over adversarial integer microdegree inputs (extremes,
cell boundaries, negatives, primes)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from skyway_spark.functions import hexgrid as hx

SIZE_U = 250_000  # hex size used by the contract queries


def _fixture_points():
    rng = random.Random(7)
    pts = [
        (0, 0), (1, 1), (-1, -1),
        (180_000_000, 85_000_000), (-180_000_000, -85_000_000),
        (179_999_999, -85_000_000), (-179_999_999, 84_999_999),
        (SIZE_U, SIZE_U), (-SIZE_U, -SIZE_U),
        (3 * SIZE_U // 2, -3 * SIZE_U // 2),
    ]
    pts += [
        (rng.randrange(-180_000_000, 180_000_001), rng.randrange(-85_000_000, 85_000_001))
        for _ in range(500)
    ]
    return pts


def test_assign_hex_matches_hex_qr(spark):
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(_fixture_points())], "i long, x long, y long"
    )
    q, r = hx.hex_qr(F.col("x"), F.col("y"), SIZE_U)
    direct = df.select("i", q.alias("q1"), r.alias("r1"))
    staged = hx.assign_hex(df, "x", "y", SIZE_U, keep=["i"])
    joined = direct.join(staged, "i")
    bad = joined.where(
        (F.col("q1") != F.col("q")) | (F.col("r1") != F.col("r"))
    ).count()
    assert bad == 0


def test_hex_disk_affine_matches_unpack_repack(spark):
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(_fixture_points())], "i long, x long, y long"
    )
    cell = hx.hex_encode(F.col("x"), F.col("y"), SIZE_U)
    cells_df = df.select("i", cell.alias("cell"))
    for k in (1, 2):
        # original formulation: unpack q/r, add the offset, repack
        qc, rc = hx.hex_q(F.col("cell")), hx.hex_r(F.col("cell"))
        old = F.array(
            *[hx.hex_pack(qc + F.lit(dq), rc + F.lit(dr)) for dq, dr in hx.disk_offsets(k)]
        )
        bad = (
            cells_df.select("i", old.alias("a"), hx.hex_disk(F.col("cell"), k).alias("b"))
            .where(F.col("a") != F.col("b"))
            .count()
        )
        assert bad == 0, k
        n = cells_df.select(F.size(hx.hex_disk(F.col("cell"), k)).alias("n")).agg(
            F.min("n"), F.max("n")
        ).collect()[0]
        assert n[0] == n[1] == 1 + 3 * k * (k + 1)
