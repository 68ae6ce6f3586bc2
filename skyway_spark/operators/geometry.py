"""Way-geometry assembly: the spatial engine's "join the refs back to
coordinates" operator.

The reference streams ways as bare node-id lists and never resolves
them (`src/elements.rs:25` — `nodes: Vec<i64>`); a spatial engine
must: polyline length, bbox, rendering all need coordinates. At
OSM-planet scale this is the canonical big shuffle (billions of way
refs equi-joined against billions of nodes), so the operator is built
as: posexplode(refs) -> shuffle equi-join on node id -> per-way
ordered re-assembly. The segment-length fold runs left-to-right over
the position-sorted array (deterministic — a plain SUM over doubles
would be partition-order-dependent and could never match an exact
oracle).

Scale notes: the refs->nodes join is shuffle-on-key and benefits from
bucketing both sides by id on a real deployment; AQE handles ref skew
(mega-ways). The per-way collect_list is bounded by OSM's 2,000-node
way limit, so group state stays small.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from skyway_spark.functions.geo import haversine_km


def ring_centroid(polys: DataFrame) -> DataFrame:
    """Area-weighted ring centroid (the shoelace centroid), computed as
    three ordered left-folds over the vertex array so every float sum
    is bit-identical cross-engine (the q_polygon_area / q_way_lengths
    discipline):

        A2  = fold cross_i               (signed twice-area)
        cxn = fold (x_i + x_{i+1}) * cross_i
        cyn = fold (y_i + y_{i+1}) * cross_i
        centroid = (cxn / (3 * A2), cyn / (3 * A2))

    with cross_i = x_i * y_{i+1} - x_{i+1} * y_i.  Input rings are
    closed (last vertex repeats the first).  The folds are row-local
    JVM higher-order functions — zero shuffles, scan-stage only; the
    centroid divisions are each ONE double division on both engines.

    Output: input rows + (area2, centroid_lon, centroid_lat).
    """
    ring = F.col("ring")
    n = F.size(ring)
    x = lambda i: F.element_at(ring, i)["lon"]  # noqa: E731
    y = lambda i: F.element_at(ring, i)["lat"]  # noqa: E731
    cross = lambda i: x(i) * y(i + 1) - x(i + 1) * y(i)  # noqa: E731
    idx = F.sequence(F.lit(1), n - 1)
    fold = lambda term: F.aggregate(  # noqa: E731
        idx, F.lit(0.0), lambda acc, i: acc + term(i)
    )
    a2 = fold(cross)
    cxn = fold(lambda i: (x(i) + x(i + 1)) * cross(i))
    cyn = fold(lambda i: (y(i) + y(i + 1)) * cross(i))
    return polys.select(
        "*",
        a2.alias("area2"),
        (cxn / (F.lit(3.0) * a2)).alias("centroid_lon"),
        (cyn / (F.lit(3.0) * a2)).alias("centroid_lat"),
    )


def relation_way_rollup(relations: DataFrame, way_geoms: DataFrame) -> DataFrame:
    """Second level of geometry assembly: explode relation members,
    keep way members, equi-join the assembled way geometries, roll up
    per relation. The perimeter is folded left-to-right in member
    order (array_sort by pos) — deterministic under any partitioning,
    unlike a bare SUM over doubles.

    members: array<struct<type:string, ref:long, role:string>> (the
    canonical elements schema). Non-way members are ignored here, as a
    rendering/multipolygon pass would route them elsewhere."""
    m = relations.select(F.col("rel_id"), F.posexplode(F.col("members")).alias("pos", "m"))
    wm = m.where(F.col("m.type") == "way").select(
        F.col("rel_id"),
        "pos",
        F.col("m.ref").alias("way_id"),
        F.col("m.role").alias("role"),
    )
    j = wm.join(way_geoms, "way_id")
    g = j.groupBy("rel_id").agg(
        F.array_sort(
            F.collect_list(F.struct("pos", "length_km", "n_points", "role"))
        ).alias("__ms")
    )
    perimeter = F.aggregate(
        F.transform("__ms", lambda x: x["length_km"]),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    n_outer = F.size(F.filter("__ms", lambda x: x["role"] == "outer"))
    total_points = F.aggregate(
        F.transform("__ms", lambda x: x["n_points"]),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return g.select(
        F.col("rel_id"),
        F.size("__ms").alias("n_ways"),
        n_outer.alias("n_outer"),
        total_points.alias("total_points"),
        F.round(perimeter, 6).alias("perimeter_km"),
    )


def assemble_way_geometry(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """(way_id, n_points, length_km): resolve each way's ordered node
    refs to coordinates and fold the haversine length over consecutive
    vertices. Missing refs simply drop out of the join (count visible
    via n_points)."""
    exploded = ways.select(F.col("way_id"), F.posexplode(F.col("refs")).alias("pos", "__ref"))
    joined = exploded.join(
        nodes.select(F.col("id").alias("__ref"), "lat", "lon"), "__ref"
    )
    pts = joined.groupBy("way_id").agg(
        F.array_sort(F.collect_list(F.struct("pos", "lat", "lon"))).alias("__pts")
    )
    n = F.size("__pts")
    seg = F.zip_with(
        F.slice("__pts", 1, n - 1),
        F.slice("__pts", 2, n - 1),
        lambda a, b: haversine_km(a["lat"], a["lon"], b["lat"], b["lon"]),
    )
    length = F.aggregate(seg, F.lit(0.0), lambda acc, s: acc + s)
    return pts.select(
        F.col("way_id"),
        n.alias("n_points"),
        F.round(F.when(n > 1, length).otherwise(F.lit(0.0)), 6).alias("length_km"),
    )


def simplify_polyline_py(pts: list[tuple[float, float]], keep: int) -> list[int]:
    """Visvalingam–Whyatt: repeatedly remove the interior vertex with
    the smallest triangle area until ``keep`` vertices remain; returns
    the KEPT vertex indices in order. Endpoints always survive.
    Deterministic tie-break: smallest (area, index) removed first.
    Plain python/heap — executed per geometry inside the Arrow batch
    (geometries are small; corpora are large — parallelism is across
    ways, not within one)."""
    import heapq

    n = len(pts)
    if keep >= n or n <= 2:
        return list(range(n))
    keep = max(keep, 2)

    def area(i, j, k):
        (y1, x1), (y2, x2), (y3, x3) = pts[i], pts[j], pts[k]
        return abs((x2 - x1) * (y3 - y1) - (x3 - x1) * (y2 - y1)) / 2.0

    prev = list(range(-1, n - 1))
    nxt = list(range(1, n + 1))
    alive = [True] * n
    heap = [(area(i - 1, i, i + 1), i) for i in range(1, n - 1)]
    heapq.heapify(heap)
    remaining = n
    while remaining > keep and heap:
        a, i = heapq.heappop(heap)
        if not alive[i] or nxt[i] >= n or prev[i] < 0:
            continue
        cur = area(prev[i], i, nxt[i])
        if cur > a:  # stale entry: neighbors changed, area grew
            # EXACT comparison (no epsilon): the removal order must be
            # precisely argmin-(area, index) so the recursive-CTE
            # oracle of q_simplify_ways matches bit-for-bit; a
            # decreased area always has a fresher (smaller) heap entry
            # that pops first, so cur < a never removes out of order
            heapq.heappush(heap, (cur, i))
            continue
        alive[i] = False
        remaining -= 1
        p, q = prev[i], nxt[i]
        nxt[p], prev[q] = q, p
        for j in (p, q):
            if 0 < j < n - 1 and alive[j]:
                heapq.heappush(heap, (area(prev[j], j, nxt[j]), j))
    return [i for i in range(n) if alive[i]]


def simplify_ways(geoms: DataFrame, keep: int = 8) -> DataFrame:
    """Batch polyline simplification over (way_id, pts:
    array<struct<lat,lon>>) — mapInPandas, one heap per geometry, no
    shuffle; output (way_id, n_in, n_out, pts) with endpoints
    preserved and vertex order retained."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("way_id", LongType(), False),
            StructField("n_in", IntegerType(), False),
            StructField("n_out", IntegerType(), False),
            StructField(
                "pts",
                ArrayType(
                    StructType(
                        [
                            StructField("lat", DoubleType(), False),
                            StructField("lon", DoubleType(), False),
                        ]
                    )
                ),
                False,
            ),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nin, nout, outpts = [], [], [], []
            for wid, pts in zip(pdf["way_id"], pdf["pts"]):
                pl = [(p["lat"], p["lon"]) for p in pts]
                kept = simplify_polyline_py(pl, keep)
                ids.append(wid)
                nin.append(len(pl))
                nout.append(len(kept))
                outpts.append([{"lat": pl[i][0], "lon": pl[i][1]} for i in kept])
            yield pd.DataFrame(
                {"way_id": ids, "n_in": nin, "n_out": nout, "pts": outpts}
            )

    return geoms.select(F.col("way_id"), F.col("pts")).mapInPandas(
        run, out_schema
    )


_RING_T = "array<struct<lat:double,lon:double>>"


def _clip_stage(arr, axis: str, c: float, keep_min: bool):
    """One Sutherland-Hodgman half-plane pass over an OPEN ring array —
    row-local fold: for each directed edge (v1, v2) (wraparound), emit
    the edge/half-plane intersection when crossing, then v2 when
    inside.  Emission order and float op order are pinned so a SQL
    mirror reproduces every coordinate bit-for-bit.  ``c`` may be a
    float (fixed bbox) or a Column (per-row bounds, e.g. the row's
    covering grid cell)."""
    cl = c if isinstance(c, Column) else F.lit(float(c))

    def inside(v):
        return (v[axis] >= cl) if keep_min else (v[axis] <= cl)

    def inter(v1, v2):
        # t first, then multiply-add: a + (b - a) * ((c - p) / (q - p));
        # only evaluated on crossings, where q != p, so no div-by-zero
        if axis == "lon":
            t = (cl - v1["lon"]) / (v2["lon"] - v1["lon"])
            return F.struct(
                (v1["lat"] + (v2["lat"] - v1["lat"]) * t).alias("lat"),
                cl.alias("lon"),
            )
        t = (cl - v1["lat"]) / (v2["lat"] - v1["lat"])
        return F.struct(
            cl.alias("lat"),
            (v1["lon"] + (v2["lon"] - v1["lon"]) * t).alias("lon"),
        )

    n = F.size(arr)
    empty = F.array().cast(_RING_T)

    def step(acc, i):
        v1 = F.element_at(arr, i)
        v2 = F.element_at(arr, (i % n) + 1)
        emit = (
            F.when(inside(v2) & ~inside(v1), F.array(inter(v1, v2), v2))
            .when(inside(v2), F.array(v2))
            .when(inside(v1), F.array(inter(v1, v2)))
            .otherwise(empty)
        )
        return F.concat(acc, emit)

    return F.when(
        n >= 2, F.aggregate(F.sequence(F.lit(1), n), empty, step)
    ).otherwise(empty)


def _clip_passes(df: DataFrame, lat0, lat1, lon0, lon1) -> DataFrame:
    """Clip the OPEN ring ``__r`` to the bbox [lat0, lat1] x [lon0,
    lon1] in four ``_clip_stage`` passes (left, right, bottom, top) and
    name the result ``clipped``.  Bounds are floats or per-row Columns;
    each pass is its own select() (see clip_rings_to_bbox)."""
    for axis, c, keep_min in (
        ("lon", lon0, True),
        ("lon", lon1, False),
        ("lat", lat0, True),
        ("lat", lat1, False),
    ):
        df = (
            df.select("*", _clip_stage(F.col("__r"), axis, c, keep_min).alias("__r2"))
            .drop("__r")
            .withColumnRenamed("__r2", "__r")
        )
    return df.withColumnRenamed("__r", "clipped")


def clip_rings_to_bbox(
    polys: DataFrame,
    lat0: float,
    lat1: float,
    lon0: float,
    lon1: float,
) -> DataFrame:
    """Sutherland-Hodgman polygon clipping against an axis-aligned
    bbox — what a REAL vector-tile pipeline does at tile borders
    (geometry is CUT at the tile edge, not merely binned by centroid;
    compare tiles.vector_tiles, which bins).  Four half-plane passes
    (left, right, bottom, top), each a row-local array fold; rings that
    fall entirely outside clip to empty.

    Input rings are CLOSED (last vertex repeats first); the clipped
    output ring is OPEN (implicit closure), possibly empty.

    Engine-exactness: every output vertex is either an input vertex
    (copied bits) or a half-plane intersection computed with one pinned
    op order ``a + (b - a) * ((c - p) / (q - p))``, so a SQL mirror
    running the same four passes reproduces the ring exactly; emission
    order is (intersection, then inside-endpoint) per edge.

    Scale shape: all four passes are scan-stage higher-order functions
    over the ring array — zero shuffles, zero Python; each pass is
    staged through its own select() so the interpreted-HOF plan never
    re-inlines the previous pass per element (the repo's HOF staging
    discipline).  Output: input rows + ``clipped`` (open ring array).
    """
    df = polys.withColumn(
        "__r",
        F.expr("slice(ring, 1, size(ring) - 1)").cast(_RING_T),
    )
    return _clip_passes(df, lat0, lat1, lon0, lon1)


def ring_fold_area2(arr) -> F.Column:
    """Signed twice-area of an OPEN ring via the ordered wraparound
    cross-product fold (same IEEE add sequence on any engine)."""
    n = F.size(arr)
    x = lambda i: F.element_at(arr, i)["lon"]  # noqa: E731
    y = lambda i: F.element_at(arr, i)["lat"]  # noqa: E731
    return F.when(
        n >= 3,
        F.aggregate(
            F.sequence(F.lit(1), n),
            F.lit(0.0),
            lambda acc, i: acc
            + (x(i) * y((i % n) + 1) - x((i % n) + 1) * y(i)),
        ),
    ).otherwise(F.lit(0.0))


def clip_rings_to_grid(polys: DataFrame, res: int) -> DataFrame:
    """Slice every ring into per-grid-cell pieces — the full vector-tile
    CUT: each polygon fans out to the res-``res`` lat/lon cells its
    bbox covers, and the ring is Sutherland-Hodgman-clipped against
    each cell's bbox (per-ROW bounds, one shared 4-pass plan).

    Cell bboxes on this grid are exactly representable doubles
    (360/2^k divisions), so the clip constants are bit-identical on
    any engine and the exactness contract of clip_rings_to_bbox
    carries over unchanged.

    Scale shape: the fan-out is sequence+explode on the executor
    (bbox-proportional, like tiles at this zoom — no crossJoin against
    a tile table), then four scan-stage HOF passes; zero Python, and
    the only shuffle is whatever the caller aggregates afterwards.
    Cells whose intersection is empty are KEPT with an empty array —
    filtering on the fold output would push the whole HOF chain into
    the predicate (see q_clip_rings).

    Output: input rows x covering cells + (cx, cy, clipped).
    """
    nx, ny = 1 << (res + 1), 1 << res
    sx, sy = 360.0 / nx, 180.0 / ny
    lats = F.transform(F.col("ring"), lambda v: v["lat"])
    lons = F.transform(F.col("ring"), lambda v: v["lon"])
    cxr = lambda lo: F.greatest(  # noqa: E731
        F.lit(0), F.least(F.lit(nx - 1), F.floor((lo + F.lit(180.0)) / F.lit(sx)))
    ).cast("long")
    cyr = lambda la: F.greatest(  # noqa: E731
        F.lit(0), F.least(F.lit(ny - 1), F.floor((F.lit(90.0) - la) / F.lit(sy)))
    ).cast("long")
    df = (
        polys.withColumn(
            "__r", F.expr("slice(ring, 1, size(ring) - 1)").cast(_RING_T)
        )
        .withColumn("__x0", cxr(F.array_min(lons)))
        .withColumn("__x1", cxr(F.array_max(lons)))
        # y grows southward: max lat -> min y
        .withColumn("__y0", cyr(F.array_max(lats)))
        .withColumn("__y1", cyr(F.array_min(lats)))
        .withColumn("cx", F.explode(F.sequence(F.col("__x0"), F.col("__x1"))))
        .withColumn("cy", F.explode(F.sequence(F.col("__y0"), F.col("__y1"))))
        .drop("__x0", "__x1", "__y0", "__y1")
    )
    lon0 = F.col("cx") * F.lit(sx) - F.lit(180.0)
    lon1 = (F.col("cx") + F.lit(1)) * F.lit(sx) - F.lit(180.0)
    lat1 = F.lit(90.0) - F.col("cy") * F.lit(sy)
    lat0 = F.lit(90.0) - (F.col("cy") + F.lit(1)) * F.lit(sy)
    return _clip_passes(df, lat0, lat1, lon0, lon1)


def convex_hulls(
    points: DataFrame,
    entity: str = "entity",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """STRICT convex hull vertices per entity over INTEGER grid
    coordinates — territory/footprint estimation (hull of the cells a
    user/host was seen in). All-integer cross products: bit-exact on
    any engine, no float orientation ambiguity.

    Semantics: the STRICT hull — collinear boundary points are not
    vertices; a fully-collinear entity yields its two extreme points,
    a single-point entity yields that point. Vertex SET output (one
    row per vertex), so any correct hull algorithm agrees — the SQL
    oracle uses the maximal-edge characterization (an ordered pair
    (a,b) is a hull edge iff no point lies strictly right of it and no
    collinear point lies outside the segment), this operator uses
    Andrew's monotone chain with strict turns.

    Scale shape: the corpus collapses to DISTINCT (entity, x, y) first
    (one shuffle, cell-bounded: at res r there are only 2^(2r+1)
    cells, so per-entity state is bounded by the grid, not by event
    count); the chain itself is per-entity Python over that bounded
    set — a legitimate applyInPandas use (inherently sequential
    stack algorithm over a small group). Output rows: (entity, hx, hy).
    """
    import pandas as pd

    dist = points.select(
        F.col(entity).alias("e"),
        F.col(x).cast("long").alias("px"),
        F.col(y).cast("long").alias("py"),
    ).distinct()

    def chain(pdf: pd.DataFrame) -> pd.DataFrame:
        e = pdf["e"].iloc[0]
        pts = sorted(set(zip(pdf["px"].tolist(), pdf["py"].tolist())))
        if len(pts) <= 2:
            hull = pts
        else:
            def cross(o, a, b):
                return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

            lower: list = []
            for p in pts:
                while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
                    lower.pop()
                lower.append(p)
            upper: list = []
            for p in reversed(pts):
                while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
                    upper.pop()
                upper.append(p)
            hull = lower[:-1] + upper[:-1]
        return pd.DataFrame({"e": e, "hx": [h[0] for h in hull], "hy": [h[1] for h in hull]})

    return (
        dist.groupBy("e")
        .applyInPandas(chain, "e long, hx long, hy long")
        .select(F.col("e").alias(entity), "hx", "hy")
    )


def segment_crossings(a_segs: DataFrame, b_segs: DataFrame, res: int) -> DataFrame:
    """Proper-crossing pairs between two INTEGER-coordinate segment
    sets (roads x railways, route x geofence edge) — the spatial
    overlay primitive. A pair crosses iff the endpoints of each
    segment lie strictly on opposite sides of the other's supporting
    line: four integer orientation signs, bit-exact on any engine
    (touching or collinear overlap is NOT a crossing).

    Input schema both sides: (id, x1, y1, x2, y2) — integer grid
    units spanning x in [-18000, 18000] and y in [-9000, 9000].

    Scale shape: never the |A|x|B| theta join — each segment fans out
    to the res-``res`` grid cells its bbox covers (integer floor-div
    cover: tiny for short segments), candidates come from ONE cell
    equi-join, crossings are filtered in the join stage, and the
    (a_id, b_id) DISTINCT collapses multi-cell duplicates on the
    already-small result. A crossing pair always shares the cell of
    its intersection point (both bboxes contain it), so the cover is
    lossless.

    Output: (a_id, b_id).
    """
    nx, ny = 1 << (res + 1), 1 << res
    xmin, xmax = (-18000, 18000)
    ymin, ymax = (-9000, 9000)

    def cover(df: DataFrame, tag: str) -> DataFrame:
        cx = lambda c: F.greatest(  # noqa: E731
            F.lit(0),
            F.least(F.lit(nx - 1), F.expr(f"(({c} - {xmin}) * {nx}) div {xmax - xmin}")),
        )
        cy = lambda c: F.greatest(  # noqa: E731
            F.lit(0),
            F.least(F.lit(ny - 1), F.expr(f"(({c} - {ymin}) * {ny}) div {ymax - ymin}")),
        )
        return (
            df.select(
                F.col("id").alias(f"{tag}id"),
                F.col("x1").alias(f"{tag}x1"), F.col("y1").alias(f"{tag}y1"),
                F.col("x2").alias(f"{tag}x2"), F.col("y2").alias(f"{tag}y2"),
                F.explode(
                    F.sequence(
                        F.least(cx("x1"), cx("x2")), F.greatest(cx("x1"), cx("x2"))
                    )
                ).alias("__cx"),
                cy("y1").alias("__cy1"), cy("y2").alias("__cy2"),
            )
            .select(
                "*",
                F.explode(
                    F.sequence(
                        F.least("__cy1", "__cy2"), F.greatest("__cy1", "__cy2")
                    )
                ).alias("__cy"),
            )
            .drop("__cy1", "__cy2")
        )

    a = cover(a_segs, "a")
    b = cover(b_segs, "b")

    def orient(px, py, qx, qy, rx, ry):
        return (F.col(qx) - F.col(px)) * (F.col(ry) - F.col(py)) - (
            F.col(qy) - F.col(py)
        ) * (F.col(rx) - F.col(px))

    o1 = orient("ax1", "ay1", "ax2", "ay2", "bx1", "by1")
    o2 = orient("ax1", "ay1", "ax2", "ay2", "bx2", "by2")
    o3 = orient("bx1", "by1", "bx2", "by2", "ax1", "ay1")
    o4 = orient("bx1", "by1", "bx2", "by2", "ax2", "ay2")
    crossing = (
        (((o1 > 0) & (o2 < 0)) | ((o1 < 0) & (o2 > 0)))
        & (((o3 > 0) & (o4 < 0)) | ((o3 < 0) & (o4 > 0)))
    )
    return (
        a.join(b, ["__cx", "__cy"])
        .where(crossing)
        .select(F.col("aid").alias("a_id"), F.col("bid").alias("b_id"))
        .distinct()
    )


def hull_diameter(hulls: DataFrame, entity: str = "entity") -> DataFrame:
    """Territory diameter per entity: the maximum squared distance
    between convex-hull vertices (the hull diameter EQUALS the point-
    set diameter) with the witness pair.  Integer coordinates -> d2 is
    exact; the witness is the (d2 desc, ax, ay, bx, by) minimum —
    a total order, so engine-deterministic.

    Scale shape: the self-join runs on HULL VERTICES (grid-bounded,
    dozens per entity), never the corpus — the whole point of hulling
    first; one entity-keyed join + one window over vertex pairs.

    Output: (entity, d2, ax, ay, bx, by) with (ax,ay) <= (bx,by)."""
    from pyspark.sql import Window

    a = hulls.select(
        F.col(entity).alias("e"), F.col("hx").alias("ax"), F.col("hy").alias("ay")
    )
    b = hulls.select(
        F.col(entity).alias("e"), F.col("hx").alias("bx"), F.col("hy").alias("by")
    )
    pairs = a.join(b, "e").where(
        (F.col("ax") < F.col("bx"))
        | ((F.col("ax") == F.col("bx")) & (F.col("ay") <= F.col("by")))
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    w = Window.partitionBy("e").orderBy(
        F.col("d2").desc(), "ax", "ay", "bx", "by"
    )
    return (
        pairs.select("e", "ax", "ay", "bx", "by", d2.alias("d2"))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(F.col("e").alias(entity), "d2", "ax", "ay", "bx", "by")
    )


def polygon_validity(verts: DataFrame) -> DataFrame:
    """Polygon ring validity audit — the OGC-style pre-flight for
    ingested geometry: signed area (shoelace x2), winding order, and
    PROPER self-intersection count, all in exact integer arithmetic
    on quantized vertices.

    Input: (polygon_id, role, i, x, y) integer ring vertices in order,
    WITHOUT the closing duplicate (the operator wraps i = n-1 -> 0).
    Output per ring: (polygon_id, role, n_vertices, area2, is_ccw,
    n_crossings) with area2 the doubled signed shoelace area
    (positive = counter-clockwise in the (x, y) plane) on
    first-vertex-RECENTERED coordinates (translation-invariant, keeps
    the products far from int64 overflow at 1e7-quantized lon/lat),
    and n_crossings counting strictly-proper segment crossings (all
    four orientation signs nonzero and opposed) — endpoint touches and
    collinear overlaps are not "proper", which also makes an explicit
    adjacent-segment exclusion unnecessary.

    Scale shape: polygon tables are dimension-sized by contract (the
    same contract as operators/pip.py); segments come from ONE
    ring-keyed self equi-join on (polygon_id, role) for the pairing
    and a modular-successor join for the wrap — no corpus involvement.
    """
    v = verts.select("polygon_id", "role", "i", "x", "y")
    n = v.groupBy("polygon_id", "role").agg(F.count(F.lit(1)).alias("n"))
    base = v.join(n, ["polygon_id", "role"])
    # recenter on vertex 0 of each ring
    v0 = v.where(F.col("i") == 0).select(
        "polygon_id", "role", F.col("x").alias("x0"), F.col("y").alias("y0")
    )
    seg_a = base.join(v0, ["polygon_id", "role"]).select(
        "polygon_id", "role", "i", "n",
        (F.col("x") - F.col("x0")).alias("ax"),
        (F.col("y") - F.col("y0")).alias("ay"),
    )
    nxt = seg_a.select(
        "polygon_id", "role",
        F.col("i").alias("j"),
        F.col("ax").alias("bx"), F.col("ay").alias("by"),
    )
    segs = seg_a.join(
        nxt.withColumnRenamed("j", "i_next"), ["polygon_id", "role"]
    ).where(
        F.col("i_next") == (F.col("i") + 1) % F.col("n")
    ).select(
        "polygon_id", "role", "i", "n", "ax", "ay", "bx", "by"
    ).localCheckpoint(eager=True)

    ring = segs.groupBy("polygon_id", "role").agg(
        F.max("n").cast("int").alias("n_vertices"),
        F.sum(
            F.col("ax") * F.col("by") - F.col("bx") * F.col("ay")
        ).cast("long").alias("area2"),
    )

    def orient(ax, ay, bx, by, cx, cy):
        return F.signum(
            ((bx - ax) * (cy - ay) - (by - ay) * (cx - ax)).cast("double")
        ).cast("int")

    s2 = segs.select(
        "polygon_id", "role", F.col("i").alias("j"),
        F.col("ax").alias("cx"), F.col("ay").alias("cy"),
        F.col("bx").alias("dx"), F.col("by").alias("dy"),
    )
    pr = segs.join(s2, ["polygon_id", "role"]).where(F.col("i") < F.col("j"))
    o1 = orient(F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"),
                F.col("cx"), F.col("cy"))
    o2 = orient(F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"),
                F.col("dx"), F.col("dy"))
    o3 = orient(F.col("cx"), F.col("cy"), F.col("dx"), F.col("dy"),
                F.col("ax"), F.col("ay"))
    o4 = orient(F.col("cx"), F.col("cy"), F.col("dx"), F.col("dy"),
                F.col("bx"), F.col("by"))
    proper = (o1 * o2 == -1) & (o3 * o4 == -1)
    cr = pr.select(
        "polygon_id", "role", F.when(proper, 1).otherwise(0).alias("c")
    ).groupBy("polygon_id", "role").agg(F.sum("c").cast("long").alias("n_crossings"))

    return ring.join(cr, ["polygon_id", "role"]).select(
        "polygon_id", "role", "n_vertices", "area2",
        (F.col("area2") > 0).alias("is_ccw"), "n_crossings",
    )
