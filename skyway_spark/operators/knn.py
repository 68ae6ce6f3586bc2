"""Bounded-radius kNN via k-ring cell expansion.

north_rule: "kNN via k-ring cell expansion". For each query point:
expand its cell's k-ring at a resolution matched to ``radius_km``
(ring cells jointly cover the radius), equi-join candidate points on
cell, haversine, keep top-k by (distance, point id) with a window.

Contract: neighbors are found within ``radius_km`` (cell-index kNN is
radius-bounded — same as an H3 k-ring search). Choose radius to the
application's recall needs; the join is an equi-join on int64 cells,
so it shuffles only by cell and broadcast-joins when the query side
is small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from skyway_spark.functions import cells
from skyway_spark.functions.geo import haversine_km


def radius_candidates(
    points: DataFrame,
    queries: DataFrame,
    radius_km: float,
    point_id: str = "id",
    query_id: str = "query_id",
) -> DataFrame:
    """Shared cell-cover candidate stage for kNN and range joins.

    Returns (query_id, __pid, __plat, __plon, dist_km) for every
    point falling in a ring cell of the query; ``dist_km`` is exact
    haversine but NOT yet filtered to ``radius_km`` (callers apply
    their own bound). The join is an int64 cell equi-join against the
    broadcast query side: shuffle-free.
    """
    res = cells.res_for_radius_km(radius_km)
    # latitude rows are radius-safe by res choice (cell height >=
    # radius); longitude columns shrink by cos(lat), so the x-extent
    # of the ring grows adaptively (clamped to the full band near the
    # poles). Without this, kNN silently misses neighbors above ~16°
    # latitude.
    radius_deg = radius_km / 111.32
    width = cells.cell_width_deg(res)
    kx = F.ceil(
        F.lit(radius_deg / width)
        / F.greatest(F.cos(F.radians(F.col("lat"))), F.lit(1e-9))
    )
    q = queries.select(
        F.col(query_id),
        F.col("lat").alias("__qlat"),
        F.col("lon").alias("__qlon"),
        F.explode(
            cells.k_ring_xy(
                cells.cell_encode(F.col("lat"), F.col("lon"), res),
                res,
                F.greatest(kx, F.lit(1)),
                F.lit(1),
            )
        ).alias("__cell"),
    )
    p = points.select(
        F.col(point_id).alias("__pid"),
        F.col("lat").alias("__plat"),
        F.col("lon").alias("__plon"),
        cells.cell_encode(F.col("lat"), F.col("lon"), res).alias("__cell"),
    )
    return p.join(F.broadcast(q), "__cell").withColumn(
        "dist_km",
        haversine_km(F.col("__plat"), F.col("__plon"), F.col("__qlat"), F.col("__qlon")),
    )


def knn_join(
    points: DataFrame,
    queries: DataFrame,
    k: int = 5,
    radius_km: float = 50.0,
) -> DataFrame:
    """(query_id, point id, dist_km, rank<=k) for neighbors within the
    ring-covered radius.

    points needs (point_id, lat, lon); queries needs (query_id, lat,
    lon). A one-cell ring at res_for_radius guarantees full coverage of
    ``radius_km`` around the query (cell height >= radius, so the 3x3
    ring covers it).
    """
    cand = radius_candidates(points, queries, radius_km)
    w = Window.partitionBy("query_id").orderBy(F.col("dist_km").asc(), F.col("__pid").asc())
    return (
        cand.where(F.col("dist_km") <= radius_km)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("query_id"),
            F.col("__pid").alias("id"),
            F.col("dist_km"),
            F.col("rank"),
        )
    )


def snap_to_sites(
    points: DataFrame,
    sites: DataFrame,
    res: int,
    ring: int = 1,
    point_id: str = "point_id",
    site_id: str = "site_id",
) -> DataFrame:
    """Map-matching primitive: snap every point to its nearest SITE
    (way node / POI / road vertex) among the candidates in the point's
    (2*ring+1)^2 cell neighborhood at resolution ``res``.

    Both inputs carry integer CENTIDEGREE coordinates (lat_c, lon_c)
    alongside the double lat/lon used for cell assignment, so the
    distance is exact int64 planar math — d2 = dlat_c^2 + dlon_c^2 —
    and the argmin (ties to the lowest site id) is engine-exact.
    Points whose neighborhood holds no site produce no row (bounded-
    radius contract, same as the kNN operator).

    Scale shape: sites keyed by their cell once; each point explodes
    to its ring cells (row-local array op) and candidates come from an
    int64 cell EQUI-join — shuffle by cell only (or broadcast when the
    site side is dimension-sized, the typical road-network case).  The
    argmin is one map-side-combined min(struct) groupBy on the point
    id; coordinates are ints end-to-end, no text/geometry payload.
    """
    p = points.select(
        F.col(point_id).alias("__pid"),
        F.col("lat_c").alias("__plat"),
        F.col("lon_c").alias("__plon"),
        F.explode(
            cells.k_ring(
                cells.cell_encode(F.col("lat"), F.col("lon"), res), res, ring
            )
        ).alias("__cell"),
    )
    s = sites.select(
        F.col(site_id).alias("__sid"),
        F.col("lat_c").alias("__slat"),
        F.col("lon_c").alias("__slon"),
        cells.cell_encode(F.col("lat"), F.col("lon"), res).alias("__cell"),
    )
    d2 = (F.col("__plat") - F.col("__slat")) * (
        F.col("__plat") - F.col("__slat")
    ) + (F.col("__plon") - F.col("__slon")) * (F.col("__plon") - F.col("__slon"))
    best = (
        p.join(s, "__cell")
        .select(
            "__pid",
            F.struct(d2.alias("d2"), F.col("__sid").alias("sid")).alias("__c"),
        )
        .groupBy("__pid")
        .agg(F.min("__c").alias("__b"))
    )
    return best.select(
        F.col("__pid").alias(point_id),
        F.col("__b.sid").alias(site_id),
        F.col("__b.d2").alias("d2"),
    )


def match_to_segments(
    points: DataFrame,
    segments: DataFrame,
    res: int,
    ring: int = 1,
    point_id: str = "point_id",
) -> DataFrame:
    """Map-matching to SEGMENTS: snap every point to the nearest road
    segment among candidates whose endpoints fall in the point's
    (2*ring+1)^2 cell neighborhood — the edge-level upgrade of
    ``snap_to_sites`` (vertex snapping misassigns points near the
    middle of long edges; real map-matching needs point-to-segment
    distance).

    Exactness: with integer centidegree vectors AP = P-A, AB = B-A,
        dot = AP.AB,  den = |AB|^2
        dot <= 0    -> (num, den) = (|AP|^2, 1)       # clamp t=0
        dot >= den  -> (|BP|^2, 1)                    # clamp t=1
        else        -> (|AP|^2 * den - dot^2, den)    # perpendicular
    so the squared distance is the exact rational num/den (int64
    end-to-end; products bounded by ~2.6e18 for centidegree inputs).
    The argmin orders by (num/den as double, num, den, seg) — the
    int64->double cast and one division are correctly rounded
    identically on any IEEE engine, and the tie chain ends on the
    unique segment id, so the assignment is engine-exact.

    ``points`` needs (point_id, lat_c, lon_c, lat, lon); ``segments``
    needs (seg_id, way_id, ay_c, ax_c, by_c, bx_c, alat, alon, blat,
    blon).  Points with no candidate segment in the neighborhood emit
    no row (bounded-radius contract, as snap_to_sites).

    Scale shape: segments key by their (deduped) endpoint cells once —
    the road network is dimension-sized next to the point stream, so
    the cell equi-join broadcasts or co-partitions on the int64 cell;
    the argmin is one map-side-combined min(struct) groupBy on the
    point id.  No geometry objects ever shuffle: 6 ints per segment.
    """
    p = points.select(
        F.col(point_id).alias("__pid"),
        F.col("lat_c").alias("__py"),
        F.col("lon_c").alias("__px"),
        F.explode(
            cells.k_ring(
                cells.cell_encode(F.col("lat"), F.col("lon"), res), res, ring
            )
        ).alias("__cell"),
    )
    s = segments.select(
        F.col("seg_id").alias("__sid"),
        F.col("way_id").alias("__wid"),
        "ay_c",
        "ax_c",
        "by_c",
        "bx_c",
        F.explode(
            F.array_distinct(
                F.array(
                    cells.cell_encode(F.col("alat"), F.col("alon"), res),
                    cells.cell_encode(F.col("blat"), F.col("blon"), res),
                )
            )
        ).alias("__cell"),
    )
    apy = F.col("__py") - F.col("ay_c")
    apx = F.col("__px") - F.col("ax_c")
    aby = F.col("by_c") - F.col("ay_c")
    abx = F.col("bx_c") - F.col("ax_c")
    bpy = F.col("__py") - F.col("by_c")
    bpx = F.col("__px") - F.col("bx_c")
    dot = apy * aby + apx * abx
    den = aby * aby + abx * abx
    ap2 = apy * apy + apx * apx
    bp2 = bpy * bpy + bpx * bpx
    num = (
        F.when(dot <= 0, ap2)
        .when(dot >= den, bp2)
        .otherwise(ap2 * den - dot * dot)
    )
    d_den = F.when((dot <= 0) | (dot >= den), F.lit(1).cast("long")).otherwise(den)
    cand = p.join(s, "__cell").select(
        "__pid",
        F.struct(
            (num.cast("double") / d_den.cast("double")).alias("dist"),
            num.alias("num"),
            d_den.alias("den"),
            F.col("__sid").alias("sid"),
            F.col("__wid").alias("wid"),
        ).alias("__c"),
    )
    best = cand.groupBy("__pid").agg(F.min("__c").alias("__b"))
    return best.select(
        F.col("__pid").alias(point_id),
        F.col("__b.sid").alias("seg_id"),
        F.col("__b.wid").alias("way_id"),
        F.col("__b.num").alias("d2_num"),
        F.col("__b.den").alias("d2_den"),
    )


def nn_self_join(
    points: DataFrame,
    cell_size: int,
    x_col: str = "x",
    y_col: str = "y",
    id_col: str = "id",
) -> DataFrame:
    """All-points nearest neighbor on an integer grid, bounded search:
    each point's nearest OTHER point among the 3x3 block of
    ``cell_size``-sized cells around it (points whose true NN lies
    outside that ring emit no row — the standard distributed NN
    contract; shrink cell_size for tighter bounds, grow for recall).
    Squared distance is exact int64; ties break to the lowest neighbor
    id, so the result is deterministic on any engine.

    Output: (id, x, y, nn_id, d2).

    Scale shape: the probe side explodes to its 9 neighbor cells
    (row-local), then ONE equi-join on the cell key against the
    cell-bucketed points and a map-side-combinable min(struct) per
    point — never a theta join, never all-pairs.  This is the
    cell-join analogue of knn_join for the self-join (NN-graph) case;
    skew in hot cells is the same problem as any cell join and
    composes with operators/salt.py.
    """
    c = lambda col: F.call_function(  # noqa: E731
        "div", F.col(col).cast("long"), F.lit(int(cell_size))
    )
    probe = points.select(
        F.col(id_col).alias("id"), F.col(x_col).alias("x"), F.col(y_col).alias("y"),
        c(x_col).alias("pcx"), c(y_col).alias("pcy"),
    ).select(
        "id", "x", "y",
        F.explode(
            F.array(*[F.col("pcx") + d for d in (-1, 0, 1)])
        ).alias("ncx"),
        "pcy",
    ).select(
        "id", "x", "y", "ncx",
        F.explode(
            F.array(*[F.col("pcy") + d for d in (-1, 0, 1)])
        ).alias("ncy"),
    )
    cand = points.select(
        F.col(id_col).alias("nn_id"), F.col(x_col).alias("nx"),
        F.col(y_col).alias("ny"), c(x_col).alias("ncx"), c(y_col).alias("ncy"),
    )
    dx = F.col("x") - F.col("nx")
    dy = F.col("y") - F.col("ny")
    d2 = dx * dx + dy * dy
    return (
        probe.join(cand, ["ncx", "ncy"])
        .where(F.col("nn_id") != F.col("id"))
        .groupBy("id", "x", "y")
        .agg(F.min(F.struct(d2.alias("d2"), F.col("nn_id").alias("nn_id"))).alias("b"))
        .select("id", "x", "y", F.col("b.nn_id").alias("nn_id"), F.col("b.d2").alias("d2"))
    )


def voronoi_assign(points: DataFrame, sites: list[tuple]) -> DataFrame:
    """Voronoi-cell assignment against a LITERAL site list: every point
    gets the id of its nearest site (planar squared-degree distance,
    fixed multiply-then-add op order so the doubles are bit-identical
    cross-engine; ties to the lowest site id).  ``sites`` is
    [(site_id, lat, lon), ...].

    Unlike snap_to_sites this is UNBOUNDED (every point is assigned —
    the site list defines a total partition of the plane) and runs
    entirely in the scan stage: the sites ride as plan literals, the
    argmin is one array_min over a per-row struct array — zero
    shuffles, zero Python.  Literal-budget doctrine: plan literals are
    fine for dimension-scale site lists (cities, depots, datacenters);
    for thousands of sites switch to snap_to_sites' cell join instead.
    """
    la, lo = F.col("lat"), F.col("lon")
    arr = F.array(
        *[
            F.struct(
                (
                    (la - F.lit(slat)) * (la - F.lit(slat))
                    + (lo - F.lit(slon)) * (lo - F.lit(slon))
                ).alias("d2"),
                F.lit(int(sid)).alias("s"),
            )
            for sid, slat, slon in sites
        ]
    )
    best = F.array_min(arr)
    return points.select("*", best["s"].alias("site"), best["d2"].alias("site_d2"))
