"""Point-in-polygon spatial join.

Strategy (north_rule: "point-in-polygon via ray-casting over
cell-bucketed polygon partitions"):

1. each polygon -> its adaptive covering cells, classified interior /
   boundary (exterior cells dropped);
2. points -> cell at the same res (pure Column math);
3. equi-join on cell — polygon side broadcast, so the point side
   never shuffles;
4. exact even-odd ray-cast refine on boundary-band candidates only;
5. hole handling: inside an ``outer`` ring and not inside any
   ``hole`` ring of the same polygon_id.

The polygon table is dimension-sized (the same assumption a broadcast
join makes): ring geometry is collected ONCE on the driver, with no
Spark job when the polygon table is a ``LocalRelation`` (as every
``local_frame`` is). The geometry then travels as broadcast DATA, never
as plan constants: each row of the broadcast cell table (one Arrow
table, planned as a ``LocalRelation``) carries the cell key, the
``polygon_id``, the interior flag and the outer-ring bbox, and each
boundary row the ring edges that can reach its cell (``_clip_edges``).
The join predicate and the point cell keys are fixed SQL strings, so
the plan, its py4j traffic and its analysis are the same size for any
edge count. Two refine engines, picked by total edge count:

- jvm (up to ``JVM_REFINE_MAX_EDGES``): the even-odd ray cast
  (``inside_sql``) is a higher-order-function expression over the row's
  clipped edges — zero Python processes in the hot path.
- pandas (above it): ships rings to Python workers inside a pandas
  UDF closure and ray-casts each Arrow batch as one numpy
  (points x edges) broadcast over whole rings.

Both give bit-identical verdicts (same op order; a clipped edge adds no
crossing), pinned by tests/test_pip_differential.py.

Geometry is planar in (lat, lon) — fine for city-scale polygons away
from the antimeridian (the generator guarantees this; a production
build would split rings at the antimeridian first).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from skyway_spark.functions import cells
from skyway_spark.plans.session import local_frame


def _ring_arrays(ring) -> tuple[np.ndarray, np.ndarray]:
    ys = np.array([p["lat"] for p in ring], dtype=np.float64)
    xs = np.array([p["lon"] for p in ring], dtype=np.float64)
    return ys, xs


def _ray_cast_batch(py: np.ndarray, px: np.ndarray, ys: np.ndarray, xs: np.ndarray) -> np.ndarray:
    """Even-odd ray cast of P points against one ring: (P, E) numpy
    broadcast, no Python loop."""
    y1, y2 = ys[:-1][None, :], ys[1:][None, :]
    x1, x2 = xs[:-1][None, :], xs[1:][None, :]
    pyc = py[:, None]
    pxc = px[:, None]
    crosses = (y1 > pyc) != (y2 > pyc)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x1) * (pyc - y1) / (y2 - y1) + x1
    return ((crosses & (pxc < xint)).sum(axis=1) % 2).astype(bool)


# A ring as SQL data: an array of edge structs.  _odd_crossings_sql is
# the one SQL definition of the even-odd ray cast (the jvm refine and
# q_polygon_fill), with _ray_cast_batch's arithmetic op for op, so the
# jvm and pandas refines agree bit for bit.
EDGE_LISTS_DDL = "array<array<struct<y1:double,x1:double,y2:double,x2:double>>>"


def _odd_crossings_sql(ring: str, lat: str, lon: str) -> str:
    return (
        f"size(filter({ring}, e -> (e.y1 > {lat}) != (e.y2 > {lat}) AND "
        f"{lon} < (e.x2 - e.x1) * ({lat} - e.y1) / (e.y2 - e.y1) + e.x1)) % 2 = 1"
    )


def inside_sql(outer: str, hole: str, lat: str, lon: str) -> str:
    """SQL text: (``lat``, ``lon``) is inside a ring of ``outer`` and
    inside no ring of ``hole`` (both ``EDGE_LISTS_DDL`` expressions)."""
    odd = _odd_crossings_sql("r", lat, lon)
    return f"(exists({outer}, r -> {odd}) AND NOT exists({hole}, r -> {odd}))"


# The jvm plan does not grow with the edge count, but the driver's cover
# classification and clip cost cells x edges numpy work per polygon, and
# the HOF refine is interpreted, not codegen'd.  Above this edge budget
# point_in_polygon switches to the pandas refine.  No benchmark leg
# crosses it, so it stays at 10 000.  Read at call time, so a test can
# force either engine by moving it.
JVM_REFINE_MAX_EDGES = 10_000

# Adaptive interior covering (round 4): per polygon, the finest cell
# resolution whose bbox cover stays under this budget.  Rows per
# polygon in the broadcast candidate table are bounded by it; 64 cells
# per axis keeps the driver-side classification (cells x edges numpy)
# trivially cheap while making each cell ~1/60 of the polygon extent,
# so the boundary band is a small fraction of the cover.
INTERIOR_CELL_BUDGET = 4096
INTERIOR_MAX_RES = 18

# degrees by which a cell rectangle is widened wherever the driver
# reasons about the points a cell holds (see _cell_rects)
CLIP_MARGIN = 1e-9


def _corner_verdict(geom: dict, py: np.ndarray, px: np.ndarray) -> np.ndarray:
    """Exact polygon verdict (inside any outer, not inside any hole):
    the pandas refine, and the cover's corner classification on the
    driver — the same even-odd arithmetic as the jvm refine."""
    in_outer = np.zeros(len(py), dtype=bool)
    for ys, xs in geom["outer"]:
        in_outer |= _ray_cast_batch(py, px, ys, xs)
    in_hole = np.zeros(len(py), dtype=bool)
    for ys, xs in geom["hole"]:
        in_hole |= _ray_cast_batch(py, px, ys, xs)
    return in_outer & ~in_hole


def _pick_cover_res(ylo, yhi, xlo, xhi, coarse_res: int) -> int:
    """Finest LADDER resolution (coarse_res + 4k steps, capped at
    INTERIOR_MAX_RES) whose bbox cover stays within
    INTERIOR_CELL_BUDGET cells.  The ladder quantization matters: the
    point side computes one cell key per DISTINCT level in the polygon
    set, so free-form levels would multiply the probe stream — with
    the ladder a mixed city/region polygon table uses 2 levels."""
    f = coarse_res
    cand = coarse_res
    while cand <= INTERIOR_MAX_RES:
        x0, y1 = cells.cell_xy_np(np.array([ylo]), np.array([xlo]), cand)
        x1, y0 = cells.cell_xy_np(np.array([yhi]), np.array([xhi]), cand)
        n = (int(x1[0]) - int(x0[0]) + 1) * (int(y1[0]) - int(y0[0]) + 1)
        if n > INTERIOR_CELL_BUDGET:
            break
        f = cand
        cand += 4
    return f


def _cell_rects(cell_ids: np.ndarray, f: int):
    """Of each cell at res ``f``: whether it lies in the first or last
    grid row or column, and its rectangle (xlo, xhi, ylo, yhi).

    Off the border cell_encode clamps nothing, so the points a cell
    holds lie in its rectangle up to rounding, a few ulps of 360
    degrees, far below CLIP_MARGIN.  Points clamp into a border cell
    from anywhere (|lat| > 90, |lon| > 180, NaN, +-inf)."""
    _r, x, y = cells.cell_decode_np(cell_ids)
    nx, ny = 1 << (f + 1), 1 << f
    xlo = x * 360.0 / nx - 180.0
    xhi = (x + 1) * 360.0 / nx - 180.0
    yhi = 90.0 - y * 180.0 / ny
    ylo = 90.0 - (y + 1) * 180.0 / ny
    border = (x == 0) | (x == nx - 1) | (y == 0) | (y == ny - 1)
    return border, xlo, xhi, ylo, yhi


def _bbox(rings) -> tuple[float, float, float, float]:
    """(ymin, ymax, xmin, xmax) over the vertices of ``rings``."""
    ys, xs = np.concatenate(rings, axis=1)
    return float(ys.min()), float(ys.max()), float(xs.min()), float(xs.max())


def _ring_edges(rings) -> tuple[np.ndarray, np.ndarray]:
    """Every edge of ``rings`` as a (4, E) matrix of rows y1, x1, y2,
    x2 in ring order, and the ring index of each edge."""
    edges = np.concatenate(
        [np.empty((4, 0))] + [np.stack([ys[:-1], xs[:-1], ys[1:], xs[1:]]) for ys, xs in rings],
        axis=1,
    )
    ring_of = np.repeat(np.arange(len(rings)), [max(len(ys) - 1, 0) for ys, _xs in rings])
    return edges, ring_of


def _classify_cover(geom: dict, f: int) -> tuple[np.ndarray, np.ndarray]:
    """Classify every cell of the polygon's bbox cover at resolution
    ``f`` as interior / boundary / exterior, EXACTLY:

    the runtime verdict (even-odd over all rings) changes only across
    ring edges, so a cell rectangle touched by NO edge has a constant
    verdict equal to its corners' verdict.  The rectangle is widened by
    CLIP_MARGIN, so it holds every point its cell holds and an edge
    within rounding of a corner still touches it.  Edge-vs-rectangle
    uses the separating test (bbox overlap AND the 4 rect corners not
    strictly on one side of the edge line; a corner exactly on the
    line counts as touching — conservative toward 'boundary').  A
    border cell is always 'boundary': its points need not lie in its
    rectangle.

    Returns (cell_ids, interior_flags) with exterior cells DROPPED —
    a point in an exterior cell cannot be inside the polygon, so it
    need not even become a join candidate.
    """
    rings = geom["outer"] + geom["hole"]
    cell_ids = cells.cells_covering_bbox(*_bbox(rings), f)
    border, xlo, xhi, ylo, yhi = _cell_rects(cell_ids, f)
    m = CLIP_MARGIN
    xlo, xhi, ylo, yhi = xlo - m, xhi + m, ylo - m, yhi + m

    y1, x1, y2, x2 = (v[None, :] for v in _ring_edges(rings)[0])
    ov = (
        (np.minimum(x1, x2) <= xhi[:, None])
        & (np.maximum(x1, x2) >= xlo[:, None])
        & (np.minimum(y1, y2) <= yhi[:, None])
        & (np.maximum(y1, y2) >= ylo[:, None])
    )
    dx, dy = x2 - x1, y2 - y1
    allpos = np.ones_like(ov)
    allneg = np.ones_like(ov)
    for cx, cy in ((xlo, ylo), (xlo, yhi), (xhi, ylo), (xhi, yhi)):
        cr = dx * (cy[:, None] - y1) - dy * (cx[:, None] - x1)
        allpos &= cr > 0
        allneg &= cr < 0
    has_edge = border | (ov & ~allpos & ~allneg).any(axis=1)

    cx = np.concatenate([xlo, xlo, xhi, xhi])
    cy = np.concatenate([ylo, yhi, ylo, yhi])
    v = _corner_verdict(geom, cy, cx).reshape(4, -1)
    interior = v.all(axis=0) & ~has_edge
    exterior = (~v).all(axis=0) & ~has_edge
    return cell_ids[~exterior], interior[~exterior]


def _clip_edges(edges: np.ndarray, cell_ids: np.ndarray, f: int) -> np.ndarray:
    """(C, E) mask of the edges each cell keeps: those that can cross
    the +lon ray of a point the cell holds.

    A dropped edge adds 0 crossings, so every verdict stays
    bit-identical to the ray cast over whole rings.  A point of a
    cell off the grid border has ylo - m <= lat <= yhi + m and
    lon >= xlo - m (m = CLIP_MARGIN, _cell_rects).  The ray cast
    counts an edge only when (y1 > lat) != (y2 > lat) and lon < xint:
      - max(y1, y2) < ylo - m: both ends below lat, both compares false;
      - min(y1, y2) > yhi + m: both ends above lat, both compares true;
      - xint = (x2 - x1) * t + x1 with the rounded t in [0, 1]
        (rounding is monotone) exceeds max(x1, x2) by at most ~6 ulps
        of max(|x1|, |x2|), below the 1e-12 relative slack, so
        max(x1, x2) + slack < xlo - m <= lon makes lon < xint false.
    A NaN end fails every drop test and an infinite one makes the
    slack infinite, so both are kept.  A border cell keeps every edge.
    """
    border, xlo, _xhi, ylo, yhi = _cell_rects(cell_ids, f)
    y1, x1, y2, x2 = edges
    m = CLIP_MARGIN
    with np.errstate(invalid="ignore", over="ignore"):  # inf - inf, NaN
        east = np.maximum(x1, x2) + 1e-12 * np.maximum(np.abs(x1), np.abs(x2))
        drop = (
            (np.maximum(y1, y2) < ylo[:, None] - m)
            | (np.minimum(y1, y2) > yhi[:, None] + m)
            | (east < xlo[:, None] - m)
        )
    return ~drop | border[:, None]


def _edge_lists(parts: list, null: np.ndarray) -> pa.Array:
    """One ``EDGE_LISTS_DDL`` column from the (edges, ring_of, keep) of
    each polygon in row order: per row, the kept edges ring by ring.  A
    ring with no kept edge is left out (it adds no crossing); rows
    flagged ``null`` are null."""
    values, ring_lens, row_lens = [], [], []
    for edges, ring_of, keep in parts:
        rows, cols = np.nonzero(keep)  # row-major: ring order within a row
        n = int(ring_of.max(initial=0)) + 1
        groups, lens = np.unique(rows * n + ring_of[cols], return_counts=True)
        values.append(edges[:, cols])
        ring_lens.append(lens)
        row_lens.append(np.bincount(groups // n, minlength=len(keep)))

    def offsets(lens):
        return pa.array(np.concatenate([[0], np.cumsum(np.concatenate(lens))]), pa.int32())

    edges = pa.StructArray.from_arrays(
        [pa.array(v) for v in np.concatenate(values, axis=1)], names=["y1", "x1", "y2", "x2"]
    )
    rings = pa.ListArray.from_arrays(offsets(ring_lens), edges)
    return pa.ListArray.from_arrays(offsets(row_lens), rings, mask=pa.array(null))


_CELL_DDL = "__cell long, polygon_id {} NOT NULL, __interior boolean"
_REFINE_DDL = (
    ", __ymin double, __ymax double, __xmin double, __xmax double, "
    f"__outer {EDGE_LISTS_DDL}, __hole {EDGE_LISTS_DDL}"
)


def _cell_table(pids: list, geoms: list, res: int, edges: bool) -> pa.Table:
    """The broadcast cell table: one row per kept cover cell of each
    polygon (``__cell``, ``polygon_id``, ``__interior``).  With
    ``edges`` (the jvm refine) each row also carries its polygon's
    outer-ring bbox, and each boundary row the ``outer`` and ``hole``
    ring edges ``_clip_edges`` keeps for its cell (null on interior
    rows, which never reach the ray cast)."""
    cols = {k: [] for k in ("__cell", "polygon_id", "__interior", "bbox", "outer", "hole")}
    for pid, g in zip(pids, geoms):
        f = _pick_cover_res(*_bbox(g["outer"] + g["hole"]), res)
        ids, inter = _classify_cover(g, f)
        cols["__cell"].append(ids)
        cols["polygon_id"].append(np.full(len(ids), pid, dtype=np.int64))
        cols["__interior"].append(inter)
        if edges:
            cols["bbox"].append(np.tile(_bbox(g["outer"]), (len(ids), 1)))
            for role in ("outer", "hole"):
                e, ring_of = _ring_edges(g[role])
                cols[role].append((e, ring_of, _clip_edges(e, ids, f) & ~inter[:, None]))
    table = {k: np.concatenate(cols[k]) for k in ("__cell", "polygon_id", "__interior")}
    if edges:
        table.update(zip(("__ymin", "__ymax", "__xmin", "__xmax"), np.concatenate(cols["bbox"]).T))
        for role in ("outer", "hole"):
            table[f"__{role}"] = _edge_lists(cols[role], table["__interior"])
    return pa.table(table)


def point_in_polygon(
    points: DataFrame,
    polygons: DataFrame,
    res: int = 7,
    point_id: str = "id",
) -> DataFrame:
    """Rows of ``points`` (all columns preserved) paired with every
    ``polygon_id`` containing them.

    The jvm HOF refine runs while the total edge count fits
    JVM_REFINE_MAX_EDGES, the Arrow pandas refine beyond it.
    """
    # driver-side: geometry grouped per POLYGON (all its outer + hole
    # rings together) so one verdict = outer-minus-holes in a single
    # pass. The polygon table is dimension-sized by contract —
    # identical assumption to broadcasting it.
    by_pid: dict[int, dict[str, list]] = {}
    for pid, role, ring in polygons.select("polygon_id", "ring_role", "ring").collect():
        by_pid.setdefault(pid, {"outer": [], "hole": []})[role].append(_ring_arrays(ring))
    # a polygon without an outer ring contains no point
    pids = sorted(p for p, g in by_pid.items() if g["outer"])
    geoms = [by_pid[p] for p in pids]
    passthrough = [c for c in points.columns if c != point_id]
    if not pids:  # same schema as below: polygon_id is a non-null int
        return points.where(F.lit(False)).select(
            point_id, *passthrough, F.lit(0).alias("polygon_id")
        )
    # polygon_id is an int when every id fits one, else a long, as
    # Spark types an integer literal
    pid_t = "int" if -(1 << 31) <= pids[0] and pids[-1] < 1 << 31 else "long"

    total_edges = sum(len(ys) - 1 for g in geoms for ys, _xs in g["outer"] + g["hole"])
    jvm = total_edges <= JVM_REFINE_MAX_EDGES
    cell_table = _cell_table(pids, geoms, res, edges=jvm)
    ddl = _CELL_DDL.format(pid_t) + (_REFINE_DDL if jvm else "")
    pcells = F.broadcast(local_frame(points.sparkSession, cell_table, ddl))

    if jvm:
        # A term that names lat/lon only inside lambda bodies can be
        # mis-read by Catalyst's pushdown as right-side-only and pushed
        # below the broadcast exchange, an invalid `!Filter` that fails
        # at runtime (tests/test_spatial.py::test_pip_after_foreign_latlon_df).
        # So each edge array is anchored on plain lat/lon; a null
        # lat/lon already makes the bbox test null and drops the row.
        def anchored(col):
            return f"CASE WHEN lat IS NOT NULL AND lon IS NOT NULL THEN {col} END"

        # interior cells short-circuit; a boundary candidate pays four
        # double compares, and only inside the outer-ring bbox the ray
        # cast over its row's clipped edges
        inside_pred = F.expr(
            "__interior OR (lat >= __ymin AND lat <= __ymax AND lon >= __xmin"
            f" AND lon <= __xmax AND {inside_sql(anchored('__outer'), anchored('__hole'), 'lat', 'lon')})"
        )
    else:
        geom_of = dict(zip(pids, geoms))

        @F.pandas_udf(BooleanType())
        def inside_udf(lat_s: pd.Series, lon_s: pd.Series, pid_s: pd.Series) -> pd.Series:
            out = np.zeros(len(lat_s), dtype=bool)
            py = lat_s.to_numpy(dtype=np.float64)
            px = lon_s.to_numpy(dtype=np.float64)
            pi = pid_s.to_numpy()
            for p in np.unique(pi):
                m = pi == p
                out[m] = _corner_verdict(geom_of[int(p)], py[m], px[m])
            return pd.Series(out)

        inside_pred = F.col("__interior") | inside_udf("lat", "lon", pcells["polygon_id"])

    # one cell per point per USED resolution (usually 1-2 distinct
    # levels across the polygon set); a polygon's cells all live at
    # its single resolution and are distinct, so each (point, polygon)
    # candidate appears exactly once: the filtered join IS the result
    # — fully narrow, zero shuffles.
    levels = np.unique(cells.cell_decode_np(cell_table["__cell"].to_numpy())[0])
    keys = [cells.cell_encode_sql("lat", "lon", int(r)) for r in levels]
    if len(keys) == 1:
        pts, key = points, keys[0]
    else:  # a cell id holds its res, so one key column serves all levels
        pts, key = points.withColumn("__key", F.expr(f"explode(array({', '.join(keys)}))")), "__key"
    return pts.join(pcells, F.expr(f"{key} = __cell") & inside_pred).select(
        point_id, *passthrough, pcells["polygon_id"]
    )


# ------------------------- plain-python oracle -------------------------


def ray_cast_py(lat: float, lon: float, ring: list[tuple[float, float]]) -> bool:
    """Reference ray-cast for tests (ring as [(lat, lon), ...])."""
    inside = False
    for (y1, x1), (y2, x2) in zip(ring[:-1], ring[1:]):
        if (y1 > lat) != (y2 > lat):
            xint = (x2 - x1) * (lat - y1) / (y2 - y1) + x1
            if lon < xint:
                inside = not inside
    return inside
