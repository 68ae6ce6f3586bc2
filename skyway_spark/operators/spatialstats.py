"""Spatial statistics over cell grids: global spatial autocorrelation
(Moran's I) and local hot-spot counterparts, computed engine-exactly.

North-rule addition (the reference is a format converter and has no
analytics); the substrate is the same integer cell grid the
clustering / heatmap / pagerank operators use.

Exactness contract: with x_i the integer cell statistic, n the cell
count and S = sum x, the mean-centered deviation is kept as the
integer z_i = n*x_i - S (the true deviation scaled by n), so the
Moran numerator/denominator

    num = sum_{i~j} z_i z_j        (over symmetric neighbor pairs)
    den = sum_i z_i^2
    I   = (n / W) * num / den      (W = number of neighbor pairs)

are exact int64 on any engine; only the final I is a double, produced
by one identically-ordered cast-and-divide on both sides.

Scale shape: the corpus shuffles ONCE into cell counts; everything
after runs on the aggregate-sized cell table — the rook-neighbor
pairing is TWO equi-joins on shifted cell keys (never a theta join),
and the global totals ride a broadcast single-row crossJoin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _deviations(cells: DataFrame) -> DataFrame:
    """(cx, cy, z, n): the centred deviation z = n*x - S of every cell
    (n cells, S = sum x).  Both the cell table and z are
    localCheckpoint-pinned: the cells feed the totals and z, z feeds
    both rook-join sides and the denominator, and without the pins
    Catalyst re-plans — and therefore re-aggregates the corpus — once
    per branch (the repo's multi-reference staging discipline; measured
    25 shuffles -> 3 in morans_i)."""
    cells = cells.localCheckpoint(eager=True)
    totals = cells.agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
    return (
        cells.crossJoin(F.broadcast(totals))
        .select("cx", "cy", (F.col("n") * F.col("x") - F.col("s")).alias("z"), "n")
        .localCheckpoint(eager=True)
    )


def _rook_pairs(cells: DataFrame, v: str) -> DataFrame:
    """Every unordered rook-neighbour pair of cells once: (ax, ay, va,
    bx, by, vb) with b the east (cx+1) or north (cy+1) neighbour of a —
    two equi-joins on the shifted key, unioned."""
    a = cells.select(F.col("cx").alias("ax"), F.col("cy").alias("ay"), F.col(v).alias(v + "a"))
    b = cells.select(F.col("cx").alias("bx"), F.col("cy").alias("by"), F.col(v).alias(v + "b"))
    east = a.join(b, (F.col("ax") + 1 == F.col("bx")) & (F.col("ay") == F.col("by")))
    north = a.join(b, (F.col("ax") == F.col("bx")) & (F.col("ay") + 1 == F.col("by")))
    return east.unionByName(north)


def _offsets(pairs, long: bool = False) -> Column:
    """Literal array<struct<dx, dy>> of stencil offsets, int or long."""
    lit = (lambda d: F.lit(d).cast("long")) if long else F.lit
    return F.array(*[F.struct(lit(dx).alias("dx"), lit(dy).alias("dy")) for dx, dy in pairs])


def _square(k: int) -> list[tuple[int, int]]:
    """The (2k+1)^2 offsets of a Chebyshev ball, dx-major."""
    return [(dx, dy) for dx in range(-k, k + 1) for dy in range(-k, k + 1)]


def _scatter(df: DataFrame, offs: Column, keep=(), to=("tx", "ty"), extra=()) -> DataFrame:
    """Each row of ``df`` once per offset o of ``offs``: the ``keep``
    columns, the shifted cell (cx + o.dx, cy + o.dy) named ``to``, and
    ``extra`` columns, which may read ``o``."""
    return df.select("*", F.explode(offs).alias("o")).select(
        *keep,
        (F.col("cx") + F.col("o.dx")).alias(to[0]),
        (F.col("cy") + F.col("o.dy")).alias(to[1]),
        *extra,
    )


def cell_counts(points: DataFrame) -> DataFrame:
    """(cx, cy, x) — events per integer grid cell; the single
    corpus-sized shuffle of every statistic below."""
    return points.groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("x"))


def morans_i(cells: DataFrame) -> DataFrame:
    """Global Moran's I with rook (4-neighbor) contiguity over occupied
    cells.  Input: (cx, cy, x) integer cell counts.  Output single row
    (n_cells, w_pairs, num_z, den_z, morans_i).

    Neighbor pairs are found by joining the cell table against itself
    on (cx+1, cy) and on (cx, cy+1) — each an equi-join on the shifted
    key, counted once per unordered pair then doubled for the
    symmetric-weights convention.

    The cell aggregate and the deviations are localCheckpoint-pinned
    before the fan-out (``_deviations``).
    """
    z = _deviations(cells)
    half = _rook_pairs(z, "z").agg(
        F.count(F.lit(1)).alias("hp"),
        F.coalesce(F.sum(F.col("za") * F.col("zb")), F.lit(0)).alias("hnum"),
    )
    den = z.agg(
        F.max("n").alias("n_cells"), F.sum(F.col("z") * F.col("z")).alias("den_z")
    )
    return (
        den.crossJoin(F.broadcast(half))
        .select(
            F.col("n_cells"),
            (F.col("hp") * 2).alias("w_pairs"),
            (F.col("hnum") * 2).alias("num_z"),
            F.col("den_z"),
            (
                (F.col("n_cells").cast("double") * (F.col("hnum") * 2).cast("double"))
                / ((F.col("hp") * 2).cast("double") * F.col("den_z").cast("double"))
            ).alias("morans_i"),
        )
    )


def gearys_c(cells: DataFrame) -> DataFrame:
    """Global Geary's C spatial autocorrelation with rook contiguity —
    Moran's I's difference-based sibling (sensitive to LOCAL rather
    than global structure; C < 1 = positive autocorrelation).  Input:
    (cx, cy, x) integer cell counts.  Output single row (n_cells,
    w_pairs, num_c, den_z, gearys_c).

    Same exactness contract as morans_i: with z_i = n*x_i - S the
    scaled deviations, (x_i - x_j)^2 = (z_i - z_j)^2 / n^2 and the n^2
    cancels against the denominator, so

        C = (n - 1) * num_c / (2 * W * den_z)

    with num_c = sum over ordered neighbor pairs of (z_i - z_j)^2 and
    den_z = sum z_i^2 both exact int64; the final C is one
    identically-ordered double multiply-then-divide per side.

    Scale shape identical to morans_i: ONE corpus shuffle into cells
    upstream, two equi-joins on shifted keys, broadcast totals."""
    z = _deviations(cells)
    d2 = (F.col("za") - F.col("zb")) * (F.col("za") - F.col("zb"))
    half = _rook_pairs(z, "z").agg(
        F.count(F.lit(1)).alias("hp"),
        F.coalesce(F.sum(d2), F.lit(0)).alias("hd2"),
    )
    den = z.agg(
        F.max("n").alias("n_cells"), F.sum(F.col("z") * F.col("z")).alias("den_z")
    )
    w_pairs = F.col("hp") * 2
    num_c = F.col("hd2") * 2
    return den.crossJoin(F.broadcast(half)).select(
        F.col("n_cells"),
        w_pairs.alias("w_pairs"),
        num_c.alias("num_c"),
        F.col("den_z"),
        (
            ((F.col("n_cells") - 1).cast("double") * num_c.cast("double"))
            / ((w_pairs * 2).cast("double") * F.col("den_z").cast("double"))
        ).alias("gearys_c"),
    )


def skyline_min(points: DataFrame, x: str = "cx", y: str = "cy") -> DataFrame:
    """2-D skyline (Pareto front, minimize both axes): the distinct
    points not dominated by any other — dominance = <= on both axes,
    strict on at least one.  The staircase query behind "closest AND
    cheapest" style spatial screening.

    Algorithm: one corpus-sized groupBy to (x, min y) — any point above
    its column minimum is dominated within the column — then a running
    strict min over the DISTINCT-X aggregate (ordered window on a
    dimension-sized table, not the corpus): (x, miny) survives iff
    miny < every miny at smaller x.  Integer-exact.

    Output: (x, y) skyline points, the staircase from low-x/high-y to
    high-x/low-y."""
    from pyspark.sql import Window

    colmin = points.groupBy(F.col(x).alias("x")).agg(F.min(y).alias("y"))
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    return (
        colmin.withColumn("__prev", F.min("y").over(w))
        .where(F.col("__prev").isNull() | (F.col("y") < F.col("__prev")))
        .select("x", "y")
    )


def hot_spots(cells: DataFrame) -> DataFrame:
    """Local hot/cold-spot detection (Getis-Ord G_i* shape, integer
    arithmetic): for each occupied cell, the focal sum over its rook
    neighborhood including itself, flagged hot when the local mean
    exceeds the global mean — the comparison is cross-multiplied,
    ``nb_sum * n_cells > n_nb * S``, so the flag is engine-exact with
    no division.

    Input: (cx, cy, x).  Output: (cx, cy, x, nb_sum, n_nb, hot) where
    n_nb counts only OCCUPIED neighbors (empty cells contribute zero
    mass and are excluded from the focal mean, the sparse-grid
    convention).

    Scale shape: the cell table (already aggregate-sized) explodes to
    its 5 focal offsets (row-local), then ONE equi-join on the shifted
    key and one map-side-combined groupBy — never a theta join, never
    the corpus.  localCheckpoint-pinned for the same multi-reference
    reason as morans_i (three plan branches read it)."""
    cells = cells.localCheckpoint(eager=True)
    totals = cells.agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
    offsets = _offsets(((0, 0), (1, 0), (-1, 0), (0, 1), (0, -1)))
    probes = _scatter(
        cells, offsets, [F.col("cx").alias("ox"), F.col("cy").alias("oy")], to=("nx", "ny")
    )
    nb = (
        probes.join(
            cells.select(
                F.col("cx").alias("nx"), F.col("cy").alias("ny"), F.col("x").alias("nv")
            ),
            ["nx", "ny"],
        )
        .groupBy(F.col("ox").alias("cx"), F.col("oy").alias("cy"))
        .agg(F.sum("nv").alias("nb_sum"), F.count(F.lit(1)).alias("n_nb"))
    )
    return (
        cells.join(nb, ["cx", "cy"])
        .crossJoin(F.broadcast(totals))
        .select(
            "cx",
            "cy",
            "x",
            "nb_sum",
            "n_nb",
            (F.col("nb_sum") * F.col("n") > F.col("n_nb") * F.col("s")).alias("hot"),
        )
    )


def cell_trends(points: DataFrame) -> DataFrame:
    """Spatio-temporal trend detection: per cell, the ordinary-least-
    squares slope of hourly event counts over OBSERVED hours, kept as
    the exact integer rational

        slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)

    (x = hour index, y = count; the denominator is n*variance >= 0, so
    ``rising`` = numerator > 0 needs no division).  Zero-count hours
    are excluded by construction — the sparse-grid convention; a dense
    formulation would join the hour spine first.

    Input: (cx, cy, ts).  Output: (cx, cy, n_hours, slope_num,
    slope_den, rising) for cells with >= 2 observed hours.

    Scale shape: one corpus-sized (cell, hour) aggregate (map-side
    combined), then a cell-keyed rollup of the aggregate — the moment
    sums ride the same shuffle.  Hour derivation uses integer ``div``
    (no float boundary risk)."""
    h = F.expr("unix_micros(cast(ts as timestamp)) div 3600000000")
    hourly = points.groupBy("cx", "cy", h.alias("h")).agg(
        F.count(F.lit(1)).alias("y")
    )
    per = hourly.groupBy("cx", "cy").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("h").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("h") * F.col("y")).alias("sxy"),
        F.sum(F.col("h") * F.col("h")).alias("sxx"),
    )
    num = per["n_hours"] * per["sxy"] - per["sx"] * per["sy"]
    den = per["n_hours"] * per["sxx"] - per["sx"] * per["sx"]
    return per.where(F.col("n_hours") >= 2).select(
        "cx",
        "cy",
        "n_hours",
        num.alias("slope_num"),
        den.alias("slope_den"),
        (num > 0).alias("rising"),
    )


def simpson_diversity(points: DataFrame) -> DataFrame:
    """Per-cell entity diversity as the Gini-Simpson index, kept as an
    exact integer rational (entropy needs a log; Gini-Simpson doesn't):

        D = 1 - sum_u n_u^2 / N^2   ->   (div_num, div_den) = (N^2 - S2, N^2)

    with n_u the per-entity count and N the cell total.  High D = the
    cell's activity is spread across many users (a plaza); low D = one
    bot hammering one tile.  The anti-fraud / venue-classification
    signal over the same grid every other spatial stat uses.

    Output: (cx, cy, n_events, n_entities, sum_sq, div_num, div_den).

    Scale shape: ONE corpus shuffle to (cell, entity) counts (map-side
    combined), then a cell-keyed rollup of that aggregate — the moment
    sums ride the second, aggregate-sized shuffle.

    Exact-arithmetic domain (r5 review): div_num/div_den are int64, so
    N^2 must fit — a single cell may hold at most ~3.03e9 events
    (sqrt(2^63)) before the rational overflows.  At 100 TB that bound
    is about per-CELL hot-spot density, not corpus size; cells hotter
    than 3e9 events should be bucketed to a finer res first."""
    per = points.groupBy("cx", "cy", "user_id").agg(F.count(F.lit(1)).alias("n"))
    roll = per.groupBy("cx", "cy").agg(
        F.sum("n").alias("n_events"),
        F.count(F.lit(1)).alias("n_entities"),
        F.sum(F.col("n") * F.col("n")).alias("sum_sq"),
    )
    n2 = F.col("n_events") * F.col("n_events")
    return roll.select(
        "cx", "cy", "n_events", "n_entities", "sum_sq",
        (n2 - F.col("sum_sq")).alias("div_num"),
        n2.alias("div_den"),
    )


def ripley_k(points: DataFrame, radii: list[float], res: int, id_col: str = "id") -> DataFrame:
    """Ripley's K point-pattern statistic at multiple radii — the
    standard test of whether web mentions / events CLUSTER in space
    beyond what uniform density explains (K̂(r) above A·πr²/… means
    clustering at scale r). North-rule addition (no reference
    counterpart).

    Distance is planar squared-degree (exact double products of
    fixture-derived doubles, no libm), so the pair predicate
    ``d² <= r²`` is engine-exact and the per-radius pair COUNT is an
    exact int64; K̂(r) = A·count/(n·(n-1)) is one pinned
    cast-multiply-divide on top.

    Scale shape: never the n² cross join — candidates come from a
    cell-grid self-join (points keyed by their res-``res`` cell vs
    points exploded to their Chebyshev-1 k_ring), valid only when
    max(radii) <= one cell width (asserted). One corpus shuffle to
    build each side, one equi-join on the cell key (AQE/salting
    handles hot cells), and ALL radii are counted in the same pass
    with conditional aggregation — adding a radius is free.

    Output: (r, n_pairs, k_hat) — ordered pairs i != j within r.
    """
    from ..functions import cells as C

    width = 360.0 / (1 << (res + 1))
    rmax = max(radii)
    if rmax > width:
        raise ValueError(
            f"max radius {rmax} exceeds cell width {width} at res {res}; "
            "k_ring(1) candidates would miss pairs — use a coarser res"
        )
    pts = points.select(
        F.col(id_col).alias("id"),
        F.col("lat"),
        F.col("lon"),
        C.cell_encode(F.col("lat"), F.col("lon"), res).alias("cell"),
    )
    lhs = pts.select(
        F.col("id").alias("a"), F.col("lat").alias("alat"),
        F.col("lon").alias("alon"), "cell",
    )
    rhs = pts.select(
        F.col("id").alias("b"), F.col("lat").alias("blat"),
        F.col("lon").alias("blon"),
        F.explode(C.k_ring(F.col("cell"), res, 1)).alias("cell"),
    )
    d2 = (
        (F.col("alat") - F.col("blat")) * (F.col("alat") - F.col("blat"))
        + (F.col("alon") - F.col("blon")) * (F.col("alon") - F.col("blon"))
    )
    pairs = lhs.join(rhs, "cell").where(F.col("a") != F.col("b")).select(d2.alias("d2"))
    counts = pairs.agg(
        *[
            F.sum(F.when(F.col("d2") <= F.lit(r * r), 1).otherwise(0))
            .cast("long")
            .alias(f"c{i}")
            for i, r in enumerate(radii)
        ]
    )
    n_total = points.agg(F.count(F.lit(1)).cast("long").alias("n"))
    wide = counts.crossJoin(F.broadcast(n_total))
    per_r = [
        wide.select(
            F.lit(float(r)).alias("r"),
            F.col(f"c{i}").alias("n_pairs"),
            (
                F.lit(360.0 * 180.0)
                * F.col(f"c{i}").cast("double")
                / (F.col("n").cast("double") * (F.col("n").cast("double") - F.lit(1.0)))
            ).alias("k_hat"),
        )
        for i, r in enumerate(radii)
    ]
    out = per_r[0]
    for p in per_r[1:]:
        out = out.unionByName(p)
    return out


def idw_cells(points: DataFrame, res: int, value: str = "value", id_col: str = "id") -> DataFrame:
    """Inverse-distance-weighted interpolation of a station value at
    every occupied cell's CENTER from the stations in its Chebyshev-1
    neighborhood — the classic sensor/measurement surface (IDW,
    Shepard 1968). North-rule addition.

    Engine-exactness: float SUMS are order-dependent, so both the
    weight total and the weighted-value total are ORDERED left-folds
    over the neighbor list sorted by the total key (d2, station id) —
    same IEEE add sequence on any engine (the ring-fold discipline
    applied to an aggregation). w = 1/d2 and the final num/den are
    single pinned ops. Stations exactly AT a center (d2 = 0) are
    excluded on both sides (w would be infinite).

    Scale shape: one corpus shuffle to cell-key the stations, one
    explode of each station to its 3x3 ring (x9, bounded), one keyed
    groupBy per target cell. Per-cell state is the neighbor list —
    bounded by local station density, not corpus size (hot cells are
    a salting candidate, same as q_salted_join).

    Output: (cell, n_stations, idw).
    """
    from ..functions import cells as C

    nx, ny = 1 << (res + 1), 1 << res
    sx, sy = 360.0 / nx, 180.0 / ny
    st = points.select(
        F.col(id_col).alias("sid"),
        F.col("lat").alias("slat"),
        F.col("lon").alias("slon"),
        F.col(value).alias("v"),
        C.cell_encode(F.col("lat"), F.col("lon"), res).alias("scell"),
    )
    targets = st.select(F.col("scell").alias("cell")).distinct()
    contrib = st.select(
        "sid", "slat", "slon", "v",
        F.explode(C.k_ring(F.col("scell"), res, 1)).alias("cell"),
    )
    cx, cy = C.cell_x(F.col("cell")), C.cell_y(F.col("cell"))
    clat = F.lit(90.0) - (cy.cast("double") + F.lit(0.5)) * F.lit(sy)
    clon = (cx.cast("double") + F.lit(0.5)) * F.lit(sx) - F.lit(180.0)
    j = targets.join(contrib, "cell").select(
        "cell", "sid", "v",
        (
            (clat - F.col("slat")) * (clat - F.col("slat"))
            + (clon - F.col("slon")) * (clon - F.col("slon"))
        ).alias("d2"),
    ).where(F.col("d2") > 0)
    g = j.groupBy("cell").agg(
        F.sort_array(F.collect_list(F.struct("d2", "sid", "v"))).alias("__ns")
    )
    den = F.aggregate(
        F.col("__ns"), F.lit(0.0), lambda acc, s: acc + F.lit(1.0) / s["d2"]
    )
    num = F.aggregate(
        F.col("__ns"), F.lit(0.0),
        lambda acc, s: acc + (F.lit(1.0) / s["d2"]) * s["v"],
    )
    return g.select(
        "cell", F.size("__ns").alias("n_stations"), (num / den).alias("idw")
    )


def variogram_hex(points: DataFrame, size_u: int, max_band: int = 3) -> DataFrame:
    """Empirical semivariogram by hex-distance band — the spatial-
    correlation-range diagnostic (how far does the signal stay
    correlated?), computed at corpus scale WITHOUT point pairs: per
    hex cell keep the integer moments (n, s, ssq); then for cells a,b

        sum_{i in a, j in b} (z_i - z_j)^2
            = n_b*ssq_a + n_a*ssq_b - 2*s_a*s_b

    and within a cell (unordered) it is n*ssq - s^2 — so the pair sums
    are EXACT from cell summaries, and the join fans out only over the
    constant k-ring offset list (operators/knn-style), never O(N^2).
    All integer -> engine-exact. True semivariance = ssd/(2*n_pairs).

    Scale shape: one cell groupBy (map-side combined) + one offset
    explode (<= 3k(k+1)+3k per cell) + one cell-keyed equi-join on the
    CELL table (aggregate-sized), + one band groupBy.  Points shuffle
    once.

    Output: (band, n_pairs, ssd) for band 0..max_band.
    """
    from skyway_spark.functions import hexgrid as hx

    # staged hex assignment (Generate barrier) — the cube-rounding
    # cascade as grouping keys fused with the upstream join blew the
    # codegen 64 KB method limit in round 3 (BENCH/SWEEP_r03c.log)
    assigned = hx.assign_hex(points, "x", "y", size_u, keep=["v_q"])
    cells_df = (
        assigned.select("q", "r", F.col("v_q").alias("v"))
        .groupBy("q", "r")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.sum(F.col("v") * F.col("v")).alias("ssq"),
        )
    )
    d0 = cells_df.agg(
        F.lit(0).cast("int").alias("band"),
        F.sum(F.col("n") * (F.col("n") - 1) / 2).cast("long").alias("n_pairs"),
        F.sum(F.col("n") * F.col("ssq") - F.col("s") * F.col("s")).alias("ssd"),
    )
    offs = [
        (dq, dr, (abs(dq) + abs(dr) + abs(dq + dr)) // 2)
        for dq, dr in hx.disk_offsets(max_band)
        if (dq, dr) != (0, 0)
    ]
    off_arr = F.array(
        *[
            F.struct(
                F.lit(dq).cast("long").alias("dq"),
                F.lit(dr).cast("long").alias("dr"),
                F.lit(b).cast("int").alias("band"),
            )
            for dq, dr, b in offs
        ]
    )
    a = cells_df.select(
        F.col("q"), F.col("r"), F.col("n").alias("n_a"), F.col("s").alias("s_a"),
        F.col("ssq").alias("ssq_a"), F.explode(off_arr).alias("o"),
    ).select(
        "q", "r", "n_a", "s_a", "ssq_a",
        (F.col("q") + F.col("o.dq")).alias("q2"),
        (F.col("r") + F.col("o.dr")).alias("r2"),
        F.col("o.band").alias("band"),
    )
    b = cells_df.select(
        F.col("q").alias("q2"), F.col("r").alias("r2"),
        F.col("n").alias("n_b"), F.col("s").alias("s_b"),
        F.col("ssq").alias("ssq_b"),
    )
    # keep one orientation of each unordered cell pair
    pairs = a.join(b, ["q2", "r2"]).where(
        (F.col("q") < F.col("q2"))
        | ((F.col("q") == F.col("q2")) & (F.col("r") < F.col("r2")))
    )
    cross = pairs.groupBy("band").agg(
        F.sum(F.col("n_a") * F.col("n_b")).alias("n_pairs"),
        F.sum(
            F.col("n_b") * F.col("ssq_a")
            + F.col("n_a") * F.col("ssq_b")
            - 2 * F.col("s_a") * F.col("s_b")
        ).alias("ssd"),
    )
    return d0.unionByName(cross)


def line_of_sight(pairs: DataFrame, height, tower: int = 50) -> DataFrame:
    """Integer viewshed between cell pairs: walk the same round-to-
    nearest DDA as rasterize_segments from observer to target and
    count intermediate cells whose terrain rises above the sightline.
    The sightline test is division-free — cell k of s blocks iff

        h(cell_k) * s  >  (h_obs + tower) * (s - k) + h_tgt * k

    (both sides integer; the right side is the linearly-interpolated
    sightline scaled by s), so the result is engine-exact.

    ``height`` is a callable (x Column, y Column) -> integer Column —
    terrain rides the walk as scan-stage math, never a join.

    Scale shape: row-local sequence+filter per pair (JVM HOFs), zero
    shuffles beyond whatever produced the pairs.

    Output: input pair columns + (steps, n_blockers, visible).
    """
    d_x, d_y = F.col("bx") - F.col("ax"), F.col("by") - F.col("ay")
    adx, ady = F.abs(d_x), F.abs(d_y)
    steps = F.greatest(adx, ady)
    s1 = F.greatest(steps, F.lit(1))
    sx, sy = F.signum(d_x).cast("long"), F.signum(d_y).cast("long")

    def off(k, ad):
        return F.floor((2 * k * ad + s1) / (2 * s1)).cast("long")

    h_a, h_b = height(F.col("ax"), F.col("ay")), height(F.col("bx"), F.col("by"))

    def blocks(k):
        xk = F.col("ax") + sx * off(k, adx)
        yk = F.col("ay") + sy * off(k, ady)
        lhs = height(xk, yk) * s1
        rhs = (h_a + F.lit(int(tower))) * (s1 - k) + h_b * k
        return lhs > rhs

    inner = F.when(
        steps >= 2, F.filter(F.sequence(F.lit(1), steps - 1), blocks)
    ).otherwise(F.array().cast("array<int>"))
    out = pairs.select(
        "*",
        steps.cast("int").alias("steps"),
        F.size(inner).alias("n_blockers"),
    )
    return out.withColumn("visible", F.col("n_blockers") == 0)


def focal_stats(cells: DataFrame) -> DataFrame:
    """Raster map-algebra focal statistics: 3x3 queen+self window
    sum / max / min / occupancy over a sparse integer cell raster.

    Input (cx, cy, x) integer cell values; output one row per OCCUPIED
    cell: (cx, cy, x, f_sum, f_max, f_min, f_n).

    Scale shape — scatter/gather, not a theta join: every cell row
    explodes into its 9 window *memberships* (a 9x fan-out of the
    aggregate-sized cell table, never the corpus), then ONE
    map-side-combined groupBy on the window-center key, then one
    equi-join back onto the occupied cells.  At 10^12 rows upstream the
    corpus has already collapsed to cells before this runs; the stencil
    cost is 9x the *cell vocabulary*, the classic distributed-raster
    focal pattern (contrast hot_spots' rook+self neighbor join, which
    is the same idea specialized to G_i*)."""
    scat = _scatter(cells, _offsets(_square(1)), ["x"])
    foc = scat.groupBy("tx", "ty").agg(
        F.sum("x").alias("f_sum"),
        F.max("x").alias("f_max"),
        F.min("x").alias("f_min"),
        F.count(F.lit(1)).alias("f_n"),
    )
    return cells.join(
        foc,
        (F.col("cx") == F.col("tx")) & (F.col("cy") == F.col("ty")),
    ).select("cx", "cy", "x", "f_sum", "f_max", "f_min", "f_n")


def discrete_voronoi(cells: DataFrame, seeds: DataFrame) -> DataFrame:
    """Discrete (raster) Voronoi partition: assign every occupied cell
    to its nearest seed by squared Euclidean integer distance, ties
    broken by seed rank — the raster twin of a nearest-facility join.

    ``cells`` is (cx, cy, x); ``seeds`` is (sx, sy, seed_rk) and is
    dimension-sized (top-k hot cells, facility sites, ...).  Output
    (cx, cy, x, seed_rk, d2).

    Scale shape: the seed table broadcasts (it is k rows); the argmin
    is ONE map-side-combined groupBy min(struct(d2, rk)) — no sort, no
    window, and the cell table never shuffles on a skewed key.  All
    arithmetic is int64 (coords are grid indices, d2 exact)."""
    j = cells.crossJoin(F.broadcast(seeds))
    dx = F.col("cx") - F.col("sx")
    dy = F.col("cy") - F.col("sy")
    best = (
        j.select(
            "cx", "cy", "x",
            F.struct(
                (dx * dx + dy * dy).cast("long").alias("d2"),
                F.col("seed_rk").alias("seed_rk"),
            ).alias("cand"),
        )
        .groupBy("cx", "cy", "x")
        .agg(F.min("cand").alias("b"))
    )
    return best.select(
        "cx", "cy", "x", F.col("b.seed_rk").alias("seed_rk"), F.col("b.d2").alias("d2")
    )


def rle_rows(cells: DataFrame) -> DataFrame:
    """Run-length structure of a sparse raster, row by row: for each
    raster row cy, the occupied-cell count, the number of maximal runs
    of consecutive occupied cells, and the longest run — the RLE size
    accounting a tile compressor or coverage-mask encoder needs before
    choosing an encoding.

    Input (cx, cy, ...) occupied cells (any extra columns ignored).
    Output (cy, n_cells, n_runs, max_run).

    Scale shape: ONE shuffle partitioned by cy (each raster row sorts
    independently — no global sort), the gaps-and-islands lag trick
    for run boundaries, then a per-row aggregate.  Row widths are
    bounded by the grid, so no partition outgrows memory."""
    from pyspark.sql import Window

    w = Window.partitionBy("cy").orderBy("cx")
    runs = cells.select("cx", "cy").distinct().select(
        "cx",
        "cy",
        F.when(
            F.lag("cx").over(w).isNull() | (F.col("cx") - F.lag("cx").over(w) != 1),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    run_ids = runs.select(
        "cx",
        "cy",
        F.sum("is_start").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("run_id"),
    )
    per_run = run_ids.groupBy("cy", "run_id").agg(F.count(F.lit(1)).alias("run_len"))
    return per_run.groupBy("cy").agg(
        F.sum("run_len").alias("n_cells"),
        F.count(F.lit(1)).alias("n_runs"),
        F.max("run_len").alias("max_run"),
    )


def dilate_cells(cells: DataFrame, radius: int = 2) -> DataFrame:
    """Morphological dilation (raster buffer) of an occupied-cell set:
    every cell within Chebyshev distance ``radius`` of a source cell,
    with its distance to the nearest source and the number of sources
    covering it — the integer-grid stand-in for a vector buffer, and
    the precursor of coverage masks / safety margins around hot zones.

    Input (cx, cy) source cells; output (cx, cy, d_cheb, n_sources)
    over the dilated set (sources appear with d_cheb = 0).

    Scale shape: the same scatter/gather stencil as focal_stats — each
    source explodes into its (2r+1)^2 covered cells (a bounded fan-out
    of the aggregate-sized source table), then ONE map-side-combined
    groupBy takes min-distance and coverage count.  No theta join, no
    distance predicate."""
    d = F.greatest(F.abs(F.col("o.dx")), F.abs(F.col("o.dy"))).cast("long")
    scat = _scatter(cells, _offsets(_square(radius)), extra=[d.alias("d")])
    return scat.groupBy(
        F.col("tx").alias("cx"), F.col("ty").alias("cy")
    ).agg(
        F.min("d").alias("d_cheb"),
        F.count(F.lit(1)).alias("n_sources"),
    )


def mann_kendall(daily: DataFrame) -> DataFrame:
    """Mann-Kendall trend statistic per cell — the nonparametric
    sibling of cell_trends' OLS slope: S = sum over day pairs i<j of
    sign(y_j - y_i), exact int64 (no ranks, no division; |S| large =
    monotone trend, ties contribute 0).

    Input (cx, cy, d, y) daily counts for a SMALL set of cells (the
    caller pre-filters to its cells of interest — the pair blowup is
    days^2 per cell, so this is a dimension-sized computation by
    contract).  Output (cx, cy, n_days, n_pairs, n_pos, n_neg, s).

    Scale shape: ONE self equi-join on the cell key over the
    (cells x days)-sized aggregate; the corpus never joins."""
    a = daily.select(
        "cx", "cy", F.col("d").alias("da"), F.col("y").alias("ya")
    )
    b = daily.select(
        "cx", "cy", F.col("d").alias("db"), F.col("y").alias("yb")
    )
    pairs = a.join(b, ["cx", "cy"]).where(F.col("da") < F.col("db"))
    sgn = F.signum((F.col("yb") - F.col("ya")).cast("double")).cast("long")
    per = pairs.groupBy("cx", "cy").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("yb") > F.col("ya"), 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(F.col("yb") < F.col("ya"), 1).otherwise(0)).alias("n_neg"),
        F.sum(sgn).alias("s"),
    )
    nd = daily.groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("n_days"))
    return nd.join(per, ["cx", "cy"]).select(
        "cx", "cy", "n_days", "n_pairs", "n_pos", "n_neg", "s"
    )


def d8_flow_direction(cells: DataFrame) -> DataFrame:
    """Steepest-descent D8 flow direction over occupied integer cells:
    each cell drains to its lowest strictly-lower 8-neighbor,
    deterministic (elev, dx, dy) tie-break; cells with no lower
    occupied neighbor (pits) emit no row.  Input (cx, cy, elev);
    output (cx, cy, tx, ty).  ONE scatter (cells x 8 offsets)
    equi-joined back to the cell table — aggregate-sized, no theta
    join.  Shared by flow_accumulation and watershed_basins."""
    c = cells.select("cx", "cy", "elev")
    scat = _scatter(
        c,
        _offsets([o for o in _square(1) if o != (0, 0)], long=True),
        ["cx", "cy", F.col("elev").alias("e0")],
        to=("nx", "ny"),
        extra=[F.col("o.dx").alias("dx"), F.col("o.dy").alias("dy")],
    )
    nb = scat.join(
        c.select(
            F.col("cx").alias("nx"), F.col("cy").alias("ny"),
            F.col("elev").alias("ne"),
        ),
        ["nx", "ny"],
    ).where(F.col("ne") < F.col("e0"))
    return (
        nb.groupBy("cx", "cy")
        .agg(
            F.min_by(
                F.struct(F.col("nx").alias("tx"), F.col("ny").alias("ty")),
                F.struct("ne", "dx", "dy"),
            ).alias("t")
        )
        .select("cx", "cy", F.col("t.tx").alias("tx"), F.col("t.ty").alias("ty"))
    )


def flow_accumulation(cells: DataFrame) -> DataFrame:
    """D8 flow routing + upstream accumulation — the hydrology classic
    (O'Callaghan & Mark '84): every occupied cell drains to its lowest
    strictly-lower 8-neighbor (steepest descent, deterministic
    (elev, dx, dy) tie-break); a cell's accumulation is the number of
    upstream cells whose flow path passes through it.  Cells with no
    lower occupied neighbor are pits (local minima / basin outlets).

    Input: (cx, cy, elev) integer cells.  Output: (cx, cy, elev, acc,
    is_pit).  All-integer and the flow graph is a forest (elevation
    strictly decreases along every edge, so no cycles) — bit-exact on
    any engine.

    Scale shape: the corpus never enters — input is the aggregate-
    sized cell table.  Flow direction is ONE scatter (cells x 8
    offsets) equi-joined back to cells (never a theta join).  The
    ancestor-descendant closure is built by POINTER DOUBLING, not
    step-by-step walking: with D_t the exact-2^t-step pairs and C_t
    the all-pairs-within-2^t closure, C_{t+1} = C_t UNION (D_t JOIN
    C_t) and D_{t+1} = D_t JOIN D_t — log(max path length) rounds of
    joins over path-pair tables instead of a linear chain (a tilted
    surface has paths as long as the grid diameter; 500 sequential
    rounds would be the scale-killer, 9 doubling rounds are not).
    Each (ancestor, node) pair is generated exactly once: a pair at
    distance d in (2^t, 2^{t+1}] decomposes uniquely into an
    exactly-2^t first hop plus a <= 2^t remainder (path distances are
    unique on a simple path), so the union needs no dedup.  Tables
    localCheckpoint per round to keep lineage flat.
    """
    c = cells.select("cx", "cy", "elev").localCheckpoint(eager=True)
    flow = d8_flow_direction(c).localCheckpoint(eager=True)

    # pointer-doubling closure over the flow forest
    d_t = flow.select(
        F.col("cx").alias("ax"), F.col("cy").alias("ay"),
        F.col("tx").alias("nx"), F.col("ty").alias("ny"),
    ).localCheckpoint(eager=True)
    closure = d_t
    while not d_t.limit(1).isEmpty():
        step = d_t.alias("l").join(
            closure.alias("r"),
            (F.col("l.nx") == F.col("r.ax")) & (F.col("l.ny") == F.col("r.ay")),
        ).select(
            F.col("l.ax").alias("ax"), F.col("l.ay").alias("ay"),
            F.col("r.nx").alias("nx"), F.col("r.ny").alias("ny"),
        )
        closure = closure.union(step).localCheckpoint(eager=True)
        d_t = d_t.alias("l").join(
            d_t.alias("r"),
            (F.col("l.nx") == F.col("r.ax")) & (F.col("l.ny") == F.col("r.ay")),
        ).select(
            F.col("l.ax").alias("ax"), F.col("l.ay").alias("ay"),
            F.col("r.nx").alias("nx"), F.col("r.ny").alias("ny"),
        ).localCheckpoint(eager=True)

    acc = closure.groupBy(
        F.col("nx").alias("cx"), F.col("ny").alias("cy")
    ).agg(F.count(F.lit(1)).alias("acc"))
    return (
        c.join(acc, ["cx", "cy"], "left")
        .join(flow.select("cx", "cy", F.lit(False).alias("is_pit")),
              ["cx", "cy"], "left")
        .select(
            "cx", "cy", "elev",
            F.coalesce("acc", F.lit(0)).cast("long").alias("acc"),
            F.coalesce("is_pit", F.lit(True)).alias("is_pit"),
        )
    )


def watershed_basins(cells: DataFrame) -> DataFrame:
    """Watershed delineation over the D8 flow forest: every cell
    belongs to the basin of the pit its steepest-descent path
    terminates at (the drainage-basin partition dual to
    flow_accumulation's contributing-area count).

    Input (cx, cy, elev); output one row per basin:
    (basin_x, basin_y, basin_elev, n_cells) — the pit cell plus how
    many cells (itself included) drain to it.

    Scale shape: aggregate-sized throughout.  Roots are found by
    POINTER JUMPING, not per-step walking: j(u) starts as u's flow
    target (pits point at themselves) and each round rewrites
    j(u) <- j(j(u)) — path-halving doubles the jump length, so
    log2(max path length) self-join rounds instead of a linear walk.
    One count per round on the shrinking not-yet-rooted set decides
    termination; tables localCheckpoint per round.
    """
    c = cells.select("cx", "cy", "elev").localCheckpoint(eager=True)
    flow = d8_flow_direction(c)
    j = (
        c.join(flow, ["cx", "cy"], "left")
        .select(
            "cx", "cy",
            F.coalesce("tx", F.col("cx")).alias("rx"),
            F.coalesce("ty", F.col("cy")).alias("ry"),
        )
        .localCheckpoint(eager=True)
    )
    while True:
        j2 = (
            j.alias("l")
            .join(
                j.select(
                    F.col("cx").alias("rx"), F.col("cy").alias("ry"),
                    F.col("rx").alias("rrx"), F.col("ry").alias("rry"),
                ),
                ["rx", "ry"],
            )
            .select(
                "cx", "cy",
                F.col("rrx").alias("rx"), F.col("rry").alias("ry"),
            )
            .localCheckpoint(eager=True)
        )
        moved = (
            j2.join(j.select("cx", "cy", F.col("rx").alias("ox"),
                             F.col("ry").alias("oy")), ["cx", "cy"])
            .where((F.col("rx") != F.col("ox")) | (F.col("ry") != F.col("oy")))
            .limit(1)
        )
        j = j2
        if moved.isEmpty():
            break
    basins = j.groupBy(
        F.col("rx").alias("basin_x"), F.col("ry").alias("basin_y")
    ).agg(F.count(F.lit(1)).alias("n_cells"))
    return basins.join(
        c.select(
            F.col("cx").alias("basin_x"), F.col("cy").alias("basin_y"),
            F.col("elev").alias("basin_elev"),
        ),
        ["basin_x", "basin_y"],
    ).select("basin_x", "basin_y", "basin_elev", "n_cells")


def slope_aspect(cells: DataFrame) -> DataFrame:
    """Slope/aspect terrain classification over interior cells (all 4
    rook neighbors occupied): central differences dzdx = elev(E) -
    elev(W), dzdy = elev(N) - elev(S); aspect = steepest-DESCENT
    direction classified onto the 8 compass octants with the same
    branch-free double-reflection octant reduction heading_octants
    uses (no atan2, no floats; each 45-degree ray belongs to the lower
    octant; octant 0 = due East, counter-clockwise; flat cells octant
    -1); slope class = squared-gradient-magnitude bucket
    (0 flat, 1: g2 < 25, 2: < 100, 3: < 400, 4: >= 400).

    Output census: (octant, slope_class, n_cells, sum_g2) — exact
    int64 everywhere.

    Scale shape: FOUR shifted equi-joins of the aggregate-sized cell
    table (rook neighbors), then a map-side-combined 40-row-max
    groupBy.  The corpus never enters.
    """
    c = cells.select("cx", "cy", "elev")

    def shifted(dx, dy, name):
        return c.select(
            (F.col("cx") - dx).alias("cx"), (F.col("cy") - dy).alias("cy"),
            F.col("elev").alias(name),
        )

    interior = (
        c.join(shifted(1, 0, "e_e"), ["cx", "cy"])
        .join(shifted(-1, 0, "e_w"), ["cx", "cy"])
        .join(shifted(0, 1, "e_n"), ["cx", "cy"])
        .join(shifted(0, -1, "e_s"), ["cx", "cy"])
    )
    g = interior.select(
        "cx", "cy",
        (F.col("e_e") - F.col("e_w")).alias("dzdx"),
        (F.col("e_n") - F.col("e_s")).alias("dzdy"),
    )
    # steepest descent points down-gradient
    g = g.select(
        "cx", "cy", "dzdx", "dzdy",
        (-F.col("dzdx")).alias("ax"), (-F.col("dzdy")).alias("ay"),
        (F.col("dzdx") * F.col("dzdx") + F.col("dzdy") * F.col("dzdy")).alias("g2"),
    )
    # octant reduction (heading_octants convention)
    s1x = F.when(F.col("ay") < 0, -F.col("ax")).otherwise(F.col("ax"))
    s1y = F.when(F.col("ay") < 0, -F.col("ay")).otherwise(F.col("ay"))
    o1 = F.when(F.col("ay") < 0, F.lit(4)).otherwise(F.lit(0))
    g = g.select(
        "g2", s1x.alias("x1"), s1y.alias("y1"), o1.alias("o1")
    )
    s2x = F.when(F.col("x1") < 0, F.col("y1")).otherwise(F.col("x1"))
    s2y = F.when(F.col("x1") < 0, -F.col("x1")).otherwise(F.col("y1"))
    o2 = F.col("o1") + F.when(F.col("x1") < 0, F.lit(2)).otherwise(F.lit(0))
    g = g.select("g2", s2x.alias("x2"), s2y.alias("y2"), o2.alias("o2"))
    octant = F.when(F.col("g2") == 0, F.lit(-1)).otherwise(
        (F.col("o2") + F.when(F.col("x2") < F.col("y2"), F.lit(1)).otherwise(F.lit(0)))
    ).cast("int")
    slope_class = (
        F.when(F.col("g2") == 0, 0)
        .when(F.col("g2") < 25, 1)
        .when(F.col("g2") < 100, 2)
        .when(F.col("g2") < 400, 3)
        .otherwise(4)
    ).cast("int")
    return (
        g.select(octant.alias("octant"), slope_class.alias("slope_class"), "g2")
        .groupBy("octant", "slope_class")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("g2").cast("long").alias("sum_g2"),
        )
    )


def colocation_pairs(points: DataFrame) -> DataFrame:
    """Spatial colocation pattern mining (Shekhar & Huang '01), pair
    order: which categories occur in the SAME grid cells more than
    their own footprints explain — the participation index screen
    behind "coffee shops co-locate with transit stops".

    Input: (cx, cy, t) categorized points.  For each unordered
    category pair (a < b): n_both = cells containing both, n_a / n_b =
    cells containing each; participation index = min(n_both/n_a,
    n_both/n_b).  Counts are exact int64; the PI is one LEAST of two
    identically-ordered double divisions.

    Output: (type_a, type_b, n_both, n_a, n_b, pi).

    Scale shape: the corpus collapses ONCE to the distinct
    (category, cell) presence table (categories x occupied cells
    upper bound); the pair counting is a presence-table self
    equi-join ON THE CELL KEY (never a theta join), and footprints
    are one groupBy of the same table.
    """
    pres = points.select(
        F.col("t"), "cx", "cy"
    ).distinct().localCheckpoint(eager=True)
    foot = pres.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    a = pres.select(F.col("t").alias("type_a"), "cx", "cy")
    b = pres.select(F.col("t").alias("type_b"), "cx", "cy")
    both = (
        a.join(b, ["cx", "cy"])
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    out = (
        both.join(foot.select(F.col("t").alias("type_a"), F.col("n").alias("n_a")),
                  "type_a")
        .join(foot.select(F.col("t").alias("type_b"), F.col("n").alias("n_b")),
              "type_b")
    )
    pi = F.least(
        F.col("n_both").cast("double") / F.col("n_a").cast("double"),
        F.col("n_both").cast("double") / F.col("n_b").cast("double"),
    )
    return out.select(
        "type_a", "type_b", "n_both", "n_a", "n_b", pi.alias("pi")
    )


def knox_statistic(events: DataFrame, tau_us: int) -> DataFrame:
    """Knox space-time interaction test statistic (Knox '64, the
    epidemiology classic): among all event pairs, count those close in
    space (Chebyshev <= 1 cell), close in time (|dt| <= tau), and
    close in BOTH; disease-cluster / coordinated-activity detection
    compares n_st against n_s * n_t / C(n,2).

    Input: (event_id, t_us, cx, cy).  Output single row:
    (n_events, n_pairs, n_s, n_t, n_st, expected_st) — counts exact
    int64, expected one pinned double expression.

    Scale shape: spatially-close pairs come from a 9-offset scatter
    EQUI-join on the cell key (each close pair meets on exactly one
    offset — never a distance theta join); time-close pairs are
    counted by TAU-BUCKETING, never a global time sort (an
    unpartitioned RANGE window funnels the corpus through one task —
    the pack_sequences lesson): within a width-tau bucket EVERY pair
    is close (|dt| < tau), so same-bucket pairs reduce to C(m, 2) per
    bucket; the only pairs needing inspection straddle ADJACENT
    buckets and come from a bucket-keyed equi-join whose per-key
    population is tau-bounded.
    """
    e = events.select(
        F.col("event_id").alias("id"), F.col("t_us").alias("t"), "cx", "cy"
    ).localCheckpoint(eager=True)

    # ---- time-close pair count via tau-buckets -----------------------
    tau = int(tau_us)
    # FLOOR division (integer-exact via pmod), not cast-truncation:
    # (t / tau).cast('long') truncates toward zero, which for negative
    # (pre-epoch) timestamps makes bucket 0 span (-tau, tau) — width
    # ~2*tau — and diverges from the oracle's `//`.  pmod(t, tau) is
    # non-negative, so (t - pmod) is an exact tau multiple and `div`
    # is exact floor for every sign of t.
    fb = F.expr("(t - pmod(t, {0})) div {0}".format(tau))
    bkt = e.select(fb.alias("b"), "t")
    same = (
        bkt.groupBy("b")
        .agg(F.count(F.lit(1)).alias("m"))
        .agg(
            F.sum(F.col("m") * (F.col("m") - 1) / 2)
            .cast("long")
            .alias("p_same")
        )
    )
    nxt = bkt.select((F.col("b") - 1).alias("b"), F.col("t").alias("tb"))
    adj = (
        bkt.join(nxt, "b")
        .agg(
            F.sum(
                F.when(F.col("tb") - F.col("t") <= tau, 1).otherwise(0)
            ).cast("long").alias("p_adj")
        )
    )
    strict = same.crossJoin(F.broadcast(adj)).select(
        (F.col("p_same") + F.col("p_adj")).alias("p_time")
    )
    tot = e.agg(F.count(F.lit(1)).alias("n"))

    # ---- spatially-close pairs via 9-offset scatter ------------------
    b = _scatter(
        e,
        _offsets(_square(1), long=True),
        [F.col("id").alias("idb"), F.col("t").alias("tb")],
        to=("cx", "cy"),
    )
    sp = (
        e.join(b, ["cx", "cy"])
        .where(F.col("id") < F.col("idb"))
        .select("id", "t", "tb")
    )
    s_counts = sp.agg(
        F.count(F.lit(1)).alias("n_s"),
        F.sum(
            F.when(F.abs(F.col("t") - F.col("tb")) <= tau_us, 1).otherwise(0)
        ).cast("long").alias("n_st"),
    )

    out = tot.crossJoin(F.broadcast(strict)).crossJoin(F.broadcast(s_counts))
    n_pairs = (F.col("n") * (F.col("n") - 1) / 2).cast("long")
    n_t = F.col("p_time")
    return out.select(
        F.col("n").alias("n_events"),
        n_pairs.alias("n_pairs"),
        F.col("n_s"),
        n_t.alias("n_t"),
        F.col("n_st"),
        (
            F.col("n_s").cast("double") * n_t.cast("double")
            / n_pairs.cast("double")
        ).alias("expected_st"),
    )


def quadrat_dispersion(
    points: DataFrame, n_quadrats: int
) -> DataFrame:
    """Quadrat-count index of dispersion (variance-to-mean ratio): the
    first-line point-pattern test — VMR ~ 1 random (Poisson), > 1
    clustered, < 1 dispersed.  ``n_quadrats`` is the FULL grid size
    (occupied + empty; empty quadrats carry x = 0 and must count).

    All moments exact int64 in cleared form over occupied cells only
    (empties contribute nothing to S or sum x^2):

        vmr_num = n_q * sum(x^2) - S^2
        vmr_den = S * (n_q - 1)
        vmr     = vmr_num / vmr_den   (one double division)

    Output single row: (n_quadrats, n_points, n_occupied, sum_sq,
    vmr_num, vmr_den, vmr).

    Scale shape: ONE corpus shuffle into cell counts, then a
    single-row aggregate."""
    cells = points.groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("x"))
    mom = cells.agg(
        F.count(F.lit(1)).alias("n_occupied"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sum_sq"),
    )
    nq = F.lit(int(n_quadrats)).cast("long")
    num = nq * F.col("sum_sq") - F.col("s") * F.col("s")
    den = F.col("s") * (nq - 1)
    return mom.select(
        nq.alias("n_quadrats"),
        F.col("s").alias("n_points"),
        "n_occupied",
        "sum_sq",
        num.alias("vmr_num"),
        den.alias("vmr_den"),
        (num.cast("double") / den.cast("double")).alias("vmr"),
    )


def join_counts(cells: DataFrame, hot_threshold: int) -> DataFrame:
    """Join-count statistics (Cliff & Ord) for a BINARY cell pattern:
    classify occupied cells hot (x >= threshold) / cold, then count
    rook-neighbor pairs by color — BB / BW / WW joins.  The binary
    sibling of morans_i/gearys_c: an excess of BB joins over the
    nonfree-sampling expectation W * nh*(nh-1) / (n*(n-1)) reads as
    clustering of the hot mask.

    Output single row: (n_cells, n_hot, w_pairs, n_bb, n_bw, n_ww,
    expected_bb) — counts exact int64, expected one pinned double.

    Scale shape: same as morans_i — two shifted equi-joins over the
    aggregate-sized cell table, single-row reduce."""
    c = cells.select(
        "cx", "cy", (F.col("x") >= hot_threshold).alias("h")
    ).localCheckpoint(eager=True)
    pairs = _rook_pairs(c, "h").agg(
        F.count(F.lit(1)).alias("w_pairs"),
        F.sum(F.when(F.col("ha") & F.col("hb"), 1).otherwise(0))
        .cast("long").alias("n_bb"),
        F.sum(F.when(F.col("ha") != F.col("hb"), 1).otherwise(0))
        .cast("long").alias("n_bw"),
        F.sum(F.when(~F.col("ha") & ~F.col("hb"), 1).otherwise(0))
        .cast("long").alias("n_ww"),
    )
    tot = c.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(F.when(F.col("h"), 1).otherwise(0)).cast("long").alias("n_hot"),
    )
    out = tot.crossJoin(F.broadcast(pairs))
    exp_bb = (
        F.col("w_pairs").cast("double")
        * F.col("n_hot").cast("double") * (F.col("n_hot") - 1).cast("double")
        / (F.col("n_cells").cast("double") * (F.col("n_cells") - 1).cast("double"))
    )
    return out.select(
        "n_cells", "n_hot", "w_pairs", "n_bb", "n_bw", "n_ww",
        exp_bb.alias("expected_bb"),
    )


def gini_concentration(cells: DataFrame) -> DataFrame:
    """Gini coefficient of the event mass across occupied cells — the
    inequality summary for spatial concentration (0 = uniform across
    occupied cells, -> 1 = all mass in a few): with cells ranked
    i = 1..n by (x, cx, cy) total order,

        gini_num = sum((2*i - n - 1) * x_i)     (exact int64)
        gini_den = n * sum(x)
        gini     = gini_num / gini_den          (one double division)

    Output single row: (n_cells, total, gini_num, gini_den, gini).

    Scale shape: ONE corpus shuffle into cell counts upstream; the
    rank is a window over the AGGREGATE-sized cell table (bounded by
    grid geometry, not the corpus — the unpartitioned-window ban
    applies to corpus-sized tables; for a resolution-bounded cell
    census the single-task sort is kilobytes)."""
    from pyspark.sql import Window

    w = Window.orderBy("x", "cx", "cy")
    ranked = cells.select(
        "x", F.row_number().over(w).alias("i")
    )
    mom = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("total"),
        F.sum((2 * F.col("i") - 1) * F.col("x")).cast("long").alias("s2i"),
    )
    num = F.col("s2i") - F.col("n") * F.col("total")
    den = F.col("n") * F.col("total")
    return mom.select(
        F.col("n").alias("n_cells"),
        "total",
        num.alias("gini_num"),
        den.alias("gini_den"),
        (num.cast("double") / den.cast("double")).alias("gini"),
    )
