"""Raster / vector tile materialization (north_rule operator).

- vector tiles: groupBy slippy tile -> per-tile feature list
  (bounded by ``max_features`` with deterministic selection — no
  silent unbounded collect_list);
- raster tiles: per-tile pixel grid (256x256 via z+8 subtile math)
  -> sparse (px, py, count) arrays.

All tile/pixel math is Column-only integer arithmetic (functions/
cells.py); the heavy groupBys are standard partial-agg shuffles that
Catalyst map-side combines. Tile keys are int64 -> even partitioning;
hot tiles (cities) are exactly the hot cells handled by salt.py when
a downstream join needs them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from skyway_spark.functions import cells


def assign_tiles(points: DataFrame, z: int) -> DataFrame:
    tx, ty = cells.tile_xy(F.col("lat"), F.col("lon"), z)
    return points.withColumns(
        {"tile_z": F.lit(z), "tile_x": tx, "tile_y": ty}
    )


def vector_tiles(
    points: DataFrame,
    z: int,
    feature_cols: list[str] | None = None,
    max_features: int = 10_000,
) -> DataFrame:
    """(tile_z, tile_x, tile_y, n_points, features[<=max_features]).

    Deterministic feature cap: rank by (id) inside the tile before
    collect_list, so output is stable under any parallelism.
    """
    feature_cols = feature_cols or ["id", "lat", "lon"]
    t = assign_tiles(points, z)
    w = Window.partitionBy("tile_z", "tile_x", "tile_y").orderBy(*feature_cols)
    ranked = t.withColumn("__rk", F.row_number().over(w))
    return (
        ranked.groupBy("tile_z", "tile_x", "tile_y")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sort_array(
                F.collect_list(
                    F.when(F.col("__rk") <= max_features, F.struct(*feature_cols))
                )
            ).alias("features"),
        )
    )


def raster_tiles(points: DataFrame, z: int, pixel_zoom_delta: int = 8) -> DataFrame:
    """Sparse per-tile raster: (tile, pixels array<struct<px,py,cnt>>).

    Pixel index = position of the point's (z + delta) subtile inside
    its z tile — e.g. delta=8 gives the standard 256x256 raster grid.
    Two shuffles total (pixel agg, then tile agg), both map-side
    combined.
    """
    n = 1 << pixel_zoom_delta
    t = assign_tiles(points, z)
    sx, sy = cells.tile_xy(F.col("lat"), F.col("lon"), z + pixel_zoom_delta)
    px = sx - F.col("tile_x") * n
    py = sy - F.col("tile_y") * n
    pixel_counts = (
        t.withColumns({"px": px, "py": py})
        .groupBy("tile_z", "tile_x", "tile_y", "px", "py")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        pixel_counts.groupBy("tile_z", "tile_x", "tile_y")
        .agg(
            F.sum("cnt").alias("n_points"),
            F.sort_array(F.collect_list(F.struct("px", "py", "cnt"))).alias("pixels"),
        )
    )


def tile_stats(points: DataFrame, z: int) -> DataFrame:
    """Lightweight per-tile aggregate: point count and approximate
    distinct ids."""
    return (
        assign_tiles(points, z)
        .groupBy("tile_z", "tile_x", "tile_y")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.approx_count_distinct("id").alias("approx_ids"),
        )
    )


def tile_pyramid(points: DataFrame, finest_res: int, levels: int) -> DataFrame:
    """Multi-resolution rollup: per-cell point counts at ``levels``
    consecutive resolutions (finest_res down to finest_res-levels+1)
    in ONE pass over the data — the hypertable-rollup / tile-pyramid
    primitive behind every zoomable map and dashboard drilldown.

    Scale shape: the point table is touched by exactly one scan + one
    map-side-combined groupBy at the FINEST resolution; the pyramid is
    then built by exploding the cell-level aggregate (|cells| rows,
    orders of magnitude smaller than |points|) over its ancestor chain
    and re-aggregating — cost O(|cells| * levels), independent of
    |points|.  Parent derivation is integer bit-shifts, and floor(u *
    2^r) == floor(u * 2^(r+1)) >> 1 exactly in IEEE double (power-of-2
    scaling is exact), so shifted parents equal direct encoding at the
    coarser resolution — which is what the SQL oracle computes.

    Returns (cell, n_points); the resolution is encoded in the cell id
    (bits 58+), so a single int64 key carries the whole pyramid.
    """
    if levels < 1 or levels > finest_res + 1:
        raise ValueError("levels must be in [1, finest_res+1]")
    base = points.groupBy(
        cells.cell_encode(F.col("lat"), F.col("lon"), finest_res).alias("cell")
    ).agg(F.count(F.lit(1)).alias("n"))
    chain = F.array(
        *[
            cells.cell_parent(F.col("cell"), finest_res, finest_res - i)
            for i in range(levels)
        ]
    )
    return (
        base.select(F.explode(chain).alias("cell"), "n")
        .groupBy("cell")
        .agg(F.sum("n").alias("n_points"))
    )


def vectorize_raster(points: DataFrame, res: int, min_count: int) -> DataFrame:
    """Raster -> vector: polygonize the thresholded density grid into
    horizontal run-length segments (the gaps-and-islands pattern) —
    the inverse direction of raster_tiles, closing the north rule's
    raster<->vector loop.  Returns one row per maximal horizontal run
    of hot cells: (y, x0, x1, n_cells, total_count) — all integers.

    Scale shape: points collapse to the cell grid first (map-side
    combine); the segmentation window partitions by ROW (y), so state
    per partition is one lag — and the hot-cell table it runs over is
    grid-sized, not point-sized.  island id = x - row_number(x): the
    classic O(1)-state run detector, no self-joins.
    """
    from pyspark.sql import Window

    x, y = cells.cell_xy(F.col("lat"), F.col("lon"), res)
    hot = (
        points.groupBy(x.alias("x"), y.alias("y"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_count)
    )
    w = Window.partitionBy("y").orderBy("x")
    runs = hot.withColumn("__isl", F.col("x") - F.row_number().over(w))
    return (
        runs.groupBy("y", "__isl")
        .agg(
            F.min("x").alias("x0"),
            F.max("x").alias("x1"),
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("cnt").alias("total_count"),
        )
        .drop("__isl")
    )


def adaptive_tiles(points: DataFrame, base_z: int, max_z: int, threshold: int) -> DataFrame:
    """Adaptive quadtree tiling: start from ``base_z``; any tile whose
    point count exceeds ``threshold`` is replaced by its four children,
    recursively until ``max_z``.  The result is the variable-depth
    tile set that balances partition sizes under spatial skew — the
    load-map an autoscaling tile service (or a skew-aware spatial
    partitioner) materializes.

    Output: (z, x, y, n_points) — leaves of the quadtree, counts > 0.

    Scale shape: the corpus aggregates ONCE at ``max_z`` (the only
    corpus-sized shuffle); every coarser level is an integer
    floor-division rollup of the previous aggregate (tile-table-sized,
    map-side combined), and the split decision is a broadcast-sized
    semi/anti join between adjacent levels — the refinement loop never
    rescans the points.
    """
    if not base_z <= max_z:
        raise ValueError("need base_z <= max_z")
    finest = assign_tiles(points, max_z).groupBy("tile_x", "tile_y").agg(
        F.count(F.lit(1)).alias("n_points")
    )
    # every level feeds three plan branches (keep, overflow, child
    # semi-join) and each coarser level derives from the finer one —
    # without localCheckpoint pins Catalyst re-plans the whole chain
    # per reference and the corpus re-aggregates O(3^levels) times
    # (the repo's multi-reference staging discipline; measured 22
    # shuffles -> 1 corpus shuffle + tile-table-sized jobs)
    levels = {max_z: finest.select(
        F.lit(max_z).alias("z"), F.col("tile_x").alias("x"),
        F.col("tile_y").alias("y"), "n_points",
    ).localCheckpoint(eager=True)}
    for z in range(max_z - 1, base_z - 1, -1):
        child = levels[z + 1]
        levels[z] = (
            child.groupBy(
                (F.col("x") / 2).cast("long").alias("x"),
                (F.col("y") / 2).cast("long").alias("y"),
            )
            .agg(F.sum("n_points").alias("n_points"))
            .select(F.lit(z).alias("z"), "x", "y", "n_points")
            .localCheckpoint(eager=True)
        )
    # walk down: keep a tile if it fits the budget (or is at max_z) AND
    # every ancestor strictly above it overflowed
    keep = levels[base_z].where(
        (F.col("n_points") <= threshold) | (F.lit(base_z == max_z))
    )
    out = [keep]
    overflow = levels[base_z].where(F.col("n_points") > threshold)
    for z in range(base_z + 1, max_z + 1):
        parents = overflow.select(
            F.col("x").alias("px"), F.col("y").alias("py")
        )
        lvl = levels[z].join(
            F.broadcast(parents),
            ((F.col("x") / 2).cast("long") == F.col("px"))
            & ((F.col("y") / 2).cast("long") == F.col("py")),
            "left_semi",
        )
        if z == max_z:
            out.append(lvl)
            break
        out.append(lvl.where(F.col("n_points") <= threshold))
        overflow = lvl.where(F.col("n_points") > threshold)
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


def rasterize_segments(
    segments: DataFrame,
    ax: str = "ax",
    ay: str = "ay",
    bx: str = "bx",
    by: str = "by",
) -> DataFrame:
    """Line rasterization: integer DDA walk of every segment across
    the grid, counting segments per visited cell — the road-density
    raster (line layers need this; point rollups only cover endpoints).

    The walk is engine-exact integer math: with s = max(|dx|,|dy|)
    steps (clamped to >= 1 so the zero-length case needs no branch),
    step k lands on  a + sign(d) * ((2*k*|d| + s) // (2*s))  per axis —
    the round-to-nearest midpoint form written as a floor division of
    non-negative ints, so Spark's floor(double) (operands far below
    2^53) and SQL's ``//`` agree bit-for-bit.  Consecutive k differ by
    one on the major axis, so the walk never revisits a cell.

    Input: integer cell endpoints per segment.  Output: (x, y, n_segs).

    Scale shape: the walk is a row-local sequence+transform (JVM, no
    Python); the only shuffle is the final map-side-combined cell
    groupBy, bounded by grid size x average segment length."""
    d_x = F.col(bx) - F.col(ax)
    d_y = F.col(by) - F.col(ay)
    adx, ady = F.abs(d_x), F.abs(d_y)
    steps = F.greatest(adx, ady)
    s1 = F.greatest(steps, F.lit(1))
    sx = F.signum(d_x).cast("long")
    sy = F.signum(d_y).cast("long")

    def off(k, ad):
        return F.floor((2 * k * ad + s1) / (2 * s1)).cast("long")

    walk = F.transform(
        F.sequence(F.lit(0), steps),
        lambda k: F.struct(
            (F.col(ax) + sx * off(k, adx)).alias("x"),
            (F.col(ay) + sy * off(k, ady)).alias("y"),
        ),
    )
    return (
        segments.select(F.explode(walk).alias("c"))
        .groupBy(F.col("c.x").alias("x"), F.col("c.y").alias("y"))
        .agg(F.count(F.lit(1)).alias("n_segs"))
    )


def marker_thinning(points: DataFrame, zooms: tuple[int, ...] = (3, 5, 7)) -> DataFrame:
    """Zoom-pyramid marker thinning — what a map front-end renders
    instead of 10^12 points: per (zoom, tile), keep ONE representative
    marker (the heaviest by ``w``, ``id`` breaking ties —
    a total order, so the survivor is engine-deterministic) plus the
    cluster count.

    Scale shape: one map-side-combined groupBy per zoom over
    (tile_x, tile_y) — aggregate-sized output (<= 4^z tiles); the
    zoom levels union as independent branches of one scan.

    Output: (zoom, tile_x, tile_y, n_points, rep_id, rep_w).
    """
    from skyway_spark.functions import cells

    outs = []
    for z in zooms:
        tx, ty = cells.tile_xy(F.col("lat"), F.col("lon"), z)
        rep = F.max(
            F.struct(F.col("w"), F.col("id").alias("i"))
        )
        outs.append(
            points.groupBy(tx.alias("tile_x"), ty.alias("tile_y"))
            .agg(
                F.count(F.lit(1)).alias("n_points"),
                rep.alias("rep"),
            )
            .select(
                F.lit(z).cast("int").alias("zoom"),
                "tile_x",
                "tile_y",
                "n_points",
                F.col("rep.i").alias("rep_id"),
                F.col("rep.w").alias("rep_w"),
            )
        )
    df = outs[0]
    for o in outs[1:]:
        df = df.unionByName(o)
    return df
