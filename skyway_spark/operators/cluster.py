"""Grid-density spatial clustering (cell-based DBSCAN).

The classic cell-grid approximation of DBSCAN (grid side = eps, a
cell is DENSE when it holds >= min_pts points, clusters are the
8-connected components of dense cells) — the standard way to make
density clustering shuffle-friendly at scale.  No reference
counterpart (skyway has no spatial analytics; SURVEY.md §2.4) — a
north-rule spatial operator over the same int64 cell index the PIP /
kNN / tiling operators share (functions/cells.py).

Scale shape — the whole point of the grid formulation:
  * points collapse to (cell, count) FIRST, with map-side combine —
    at 100 TB the clustering graph is over ~10^6 dense cells, never
    the 10^11 points;
  * adjacency is an 8-way JVM array explode on the cell-sized table
    followed by one int64 equi-join (dense x dense) — no distance
    computation, no cross join;
  * the component step is the contraction CC of operators/graph.py
    (O(log) small self-joins, not O(diameter) edge re-shuffles);
  * cluster_id = min cell id of the component — deterministic and
    engine-independent, so the result is exactly oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from skyway_spark.functions import cells
from skyway_spark.operators.graph import connected_components

# 8-neighborhood offsets (dx, dy), excluding (0, 0)
_OFFSETS = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)]


def dense_cell_graph(points: DataFrame, res: int, min_pts: int) -> tuple[DataFrame, DataFrame]:
    """(dense, edges): the dense-cell table (cell, n_points — cells
    holding >= ``min_pts`` points at resolution ``res``) and the
    DIRECTED 8-neighbor adjacency between dense cells, each undirected
    edge present in BOTH directions (src, dst).  Shared by grid_dbscan
    (which keeps one direction for CC) and pagerank_int (which needs
    the symmetric edge list: out-degree = degree).  Grid edges do not
    wrap at the antimeridian — the cell index is a plain lat/lon grid
    (functions/cells.py), matching the oracles' closed-form adjacency.
    """
    nx, ny = 1 << (res + 1), 1 << res
    dense = (
        points.groupBy(
            cells.cell_encode(F.col("lat"), F.col("lon"), res).alias("cell")
        )
        .agg(F.count(F.lit(1)).alias("n_points"))
        .where(F.col("n_points") >= min_pts)
        .localCheckpoint(eager=True)  # reused 3x: both edge sides + final join
    )

    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in _OFFSETS
        ]
    )
    nbr = (
        dense.select(
            "cell",
            cells.cell_x(F.col("cell")).alias("x"),
            cells.cell_y(F.col("cell")).alias("y"),
        )
        .select("cell", "x", "y", F.explode(offs).alias("o"))
        .select(
            "cell",
            (F.col("x") + F.col("o.dx")).alias("nx_"),
            (F.col("y") + F.col("o.dy")).alias("ny_"),
        )
        .where(
            (F.col("nx_") >= 0)
            & (F.col("nx_") < nx)
            & (F.col("ny_") >= 0)
            & (F.col("ny_") < ny)
        )
        .select("cell", cells.pack_cell(F.col("nx_"), F.col("ny_"), res).alias("ncell"))
    )
    # the int64 join against the dense set prunes non-dense neighbors;
    # the 8-way offset explode already emits both directions
    edges = nbr.join(dense.select(F.col("cell").alias("ncell")), "ncell").select(
        F.col("cell").alias("src"), F.col("ncell").alias("dst")
    )
    return dense, edges


def grid_dbscan(points: DataFrame, res: int, min_pts: int) -> DataFrame:
    """(cell, cluster_id, n_points) for every dense cell.

    A dense cell is one holding >= ``min_pts`` points at resolution
    ``res``; ``cluster_id`` is the minimum cell id of the cell's
    8-connected dense component (an isolated dense cell is its own
    cluster).
    """
    dense, sym = dense_cell_graph(points, res, min_pts)
    # CC wants each undirected edge once
    edges = sym.where(F.col("src") < F.col("dst"))
    labels = connected_components(edges)
    return dense.join(
        labels.select(F.col("node").alias("cell"), "component"), "cell", "left"
    ).select(
        "cell",
        F.coalesce("component", F.col("cell")).alias("cluster_id"),
        "n_points",
    )


def grid_heatmap(points: DataFrame, res: int) -> DataFrame:
    """Smoothed density surface: cell counts blurred with a separable
    3x3 binomial kernel ([1,2,1]/4 per axis — the standard cheap
    Gaussian approximation for heatmap tiles).

    Exactness: the kernel weights are DYADIC (1/4, 1/2), so every
    contribution is an integer multiple of 2^-4 with < 2^53 mantissa —
    double addition is exact and therefore order-independent, making
    the result engine-exact despite being float (a real Gaussian
    kernel would not be: exp() ULPs + non-associative sums).

    Scale shape: points collapse to (cell, count) FIRST (map-side
    combine); each blur pass is an explode(3)+re-agg on the CELL-sized
    table, keyed by int64 cell — two small shuffles total, never a
    point-level operation.  Border cells lose the out-of-grid share
    (no clamping) — mirrored exactly by the oracle's bounds filter.
    """
    nx, ny = 1 << (res + 1), 1 << res
    counts = points.groupBy(
        cells.cell_encode(F.col("lat"), F.col("lon"), res).alias("cell")
    ).agg(F.count(F.lit(1)).cast("double").alias("v"))

    def blur(df: DataFrame, axis: str) -> DataFrame:
        taps = F.array(
            *[
                F.struct(F.lit(o).alias("o"), F.lit(w).alias("w"))
                for o, w in ((-1, 0.25), (0, 0.5), (1, 0.25))
            ]
        )
        x, y = cells.cell_x(F.col("cell")), cells.cell_y(F.col("cell"))
        t = df.select("cell", "v", F.explode(taps).alias("t")).select(
            (x + F.when(F.lit(axis == "x"), F.col("t.o")).otherwise(0)).alias("x"),
            (y + F.when(F.lit(axis == "y"), F.col("t.o")).otherwise(0)).alias("y"),
            (F.col("v") * F.col("t.w")).alias("c"),
        )
        return (
            t.where((F.col("x") >= 0) & (F.col("x") < nx) & (F.col("y") >= 0) & (F.col("y") < ny))
            .groupBy(cells.pack_cell(F.col("x"), F.col("y"), res).alias("cell"))
            .agg(F.sum("c").alias("v"))
        )

    out = blur(blur(counts, "x"), "y")
    return out.select("cell", F.col("v").alias("density"))
