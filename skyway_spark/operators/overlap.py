"""Bbox-overlap spatial join (polygon-extent x polygon-extent).

Returns every pair of axis-aligned extents that intersect with
positive area — the candidate generator every real polygon-polygon
intersection pipeline runs first (exact geometry only ever refines
bbox survivors).  No reference counterpart (skyway has no joins;
SURVEY.md §2.4) — a north-rule spatial operator on the shared int64
cell grid (functions/cells.py).

Scale shape:
  * each extent explodes to its covering cells at ``res`` (a JVM
    sequence x sequence product — bounded because res is chosen near
    the typical extent size, so covers are O(1) cells);
  * candidates meet ONLY inside a shared cell — the join is an int64
    equi-join on cell, shuffle-partitioned by cell (AQE splits hot
    cells), never an all-pairs product;
  * each qualifying pair is emitted EXACTLY ONCE — in the cell that
    contains the intersection's lower-left corner (that corner lies
    inside both extents, so both covers contain its cell) — the
    classic reference-point dedup: no post-join ``distinct`` shuffle
    over the pair corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from skyway_spark.functions import cells


def _cover(res: int):
    """Covering-cell array for (lat0, lon0, lat1, lon1) columns."""
    x_a, y_a = cells.cell_xy(F.col("lat0"), F.col("lon0"), res)
    x_b, y_b = cells.cell_xy(F.col("lat1"), F.col("lon1"), res)
    xs = F.sequence(F.least(x_a, x_b), F.greatest(x_a, x_b))
    ys = F.sequence(F.least(y_a, y_b), F.greatest(y_a, y_b))
    return F.flatten(
        F.transform(xs, lambda x: F.transform(ys, lambda y: cells.pack_cell(x, y, res)))
    )


def bbox_overlap_join(rects: DataFrame, res: int) -> DataFrame:
    """All (id_a, id_b) pairs (id_a < id_b) of strictly intersecting
    extents, with the overlap box dimensions.

    ``rects`` needs (rect_id, lat0, lon0, lat1, lon1) with
    lat0 < lat1 and lon0 < lon1.  Touching edges (zero-area
    intersection) do NOT pair — the predicate is strict, so the
    result is insensitive to floating-point boundary ties.
    """
    cov = rects.select(
        F.col("rect_id").alias("id"),
        "lat0",
        "lon0",
        "lat1",
        "lon1",
        F.explode(_cover(res)).alias("cell"),
    )
    a = cov.select(
        F.col("id").alias("id_a"),
        F.col("lat0").alias("alat0"),
        F.col("lon0").alias("alon0"),
        F.col("lat1").alias("alat1"),
        F.col("lon1").alias("alon1"),
        "cell",
    )
    b = cov.select(
        F.col("id").alias("id_b"),
        F.col("lat0").alias("blat0"),
        F.col("lon0").alias("blon0"),
        F.col("lat1").alias("blat1"),
        F.col("lon1").alias("blon1"),
        "cell",
    )
    corner_lat = F.greatest("alat0", "blat0")
    corner_lon = F.greatest("alon0", "blon0")
    dlat = F.least("alat1", "blat1") - corner_lat
    dlon = F.least("alon1", "blon1") - corner_lon
    return (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .where((dlat > 0) & (dlon > 0))
        # reference-point rule: emit only in the intersection-corner cell
        .where(F.col("cell") == cells.cell_encode(corner_lat, corner_lon, res))
        .select(
            "id_a",
            "id_b",
            dlat.alias("dlat"),
            dlon.alias("dlon"),
            (dlat * dlon).alias("overlap_area"),
        )
    )
