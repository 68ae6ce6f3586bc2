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
join makes): ring geometry is collected ONCE on the driver and
compiled into the plan. When the polygon table is itself a
``LocalRelation`` (``generate_polygons`` and every other frame built
with ``local_frame``), that collect runs no Spark job. The broadcast
cell table is built as one Arrow table, which Spark plans as a
``LocalRelation`` too (no RDD of pickled rows to deserialise again on
every execution). Two refine engines, picked by total edge count:

- jvm (up to ``JVM_REFINE_MAX_EDGES``): ring edges become literal
  array<struct> columns and the even-odd ray cast is a pure
  higher-order-function expression (``exists``/``aggregate``) — zero
  Python processes in the hot path, no Arrow transfer, stable
  latency, and the whole pipeline stays narrow. All ring, bbox and polygon-id constants are
  rendered as SQL text and cross py4j as one ``F.expr`` string each,
  so the plan build costs a fixed number of gateway calls whatever
  the edge count.
- pandas (above it): ships rings to Python workers inside a pandas
  UDF closure and ray-casts each Arrow batch as one numpy
  (points x edges) broadcast — for rings with thousands of vertices,
  where numpy's vectorized matrix beats the per-edge interpreted HOF
  lambda and the literal plan would grow too large.

Both produce bit-identical verdicts (same op order, pinned by the
oracle tests).

Geometry is planar in (lat, lon) — fine for city-scale polygons away
from the antimeridian (the generator guarantees this; a production
build would split rings at the antimeridian first).
"""

from __future__ import annotations

import math

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


_EDGES_T = "array<array<struct<y1:double,x1:double,y2:double,x2:double>>>"


def _sql_double(v: float) -> str:
    """Exact SQL literal for one double: ``repr`` is the shortest
    decimal that round-trips, and Spark parses a ``D`` literal with
    ``Double.parseDouble``. NaN and +-inf have no literal form."""
    v = float(v)
    if math.isfinite(v):
        return repr(v) + "D"
    name = "NaN" if math.isnan(v) else ("Infinity" if v > 0 else "-Infinity")
    return f"CAST('{name}' AS DOUBLE)"


def _array_sql(items) -> str:
    return "array(" + ", ".join(items) + ")"


def _struct_sql(**fields: float) -> str:
    return "named_struct(" + ", ".join(
        f"'{k}', {_sql_double(v)}" for k, v in fields.items()
    ) + ")"


def _rings_sql(ring_list) -> str:
    """[(ys, xs), ...] -> SQL text of an array<array<edge struct>>."""
    if not ring_list:
        return f"CAST(array() AS {_EDGES_T})"
    return _array_sql(
        _array_sql(
            _struct_sql(y1=ys[k], x1=xs[k], y2=ys[k + 1], x2=xs[k + 1])
            for k in range(len(ys) - 1)
        )
        for ys, xs in ring_list
    )


def _rings_lit(ring_list):
    """[(ys, xs), ...] -> literal array<array<edge struct>> Column."""
    return F.expr(_rings_sql(ring_list))


def _odd_crossings(ring, lat_c, lon_c):
    """Even-odd ray cast as a pure HOF expression over one ring's
    edge array; identical arithmetic (same op order) to
    _ray_cast_batch so jvm and pandas refines agree bit-for-bit."""

    def crossing(e):
        return F.when(
            ((e["y1"] > lat_c) != (e["y2"] > lat_c))
            & (
                lon_c
                < (e["x2"] - e["x1"]) * (lat_c - e["y1"]) / (e["y2"] - e["y1"])
                + e["x1"]
            ),
            1,
        ).otherwise(0)

    return F.aggregate(ring, F.lit(0), lambda acc, e: acc + crossing(e)) % 2 == 1


# jvm-refine compiles every polygon edge into literal arrays: plan size
# grows with polygons x vertices, and past a few tens of thousands of
# literals Catalyst parsing/planning slows and whole-stage codegen falls
# back to interpreted expressions (64KB method limit). The build no
# longer grows in py4j calls per edge (the constants are one SQL
# string), but a 10 000-edge jvm build still takes seconds where the
# pandas refine takes a fraction of one. Above this edge budget
# point_in_polygon switches to the pandas refine, whose cost is O(1) in
# plan size (geometry ships in the UDF closure). Read at call time, so
# a test can force either engine by moving it.
JVM_REFINE_MAX_EDGES = 10_000

# Adaptive interior covering (round 4): per polygon, the finest cell
# resolution whose bbox cover stays under this budget.  Rows per
# polygon in the broadcast candidate table are bounded by it; 64 cells
# per axis keeps the driver-side classification (cells x edges numpy)
# trivially cheap while making each cell ~1/60 of the polygon extent,
# so the boundary band is a small fraction of the cover.
INTERIOR_CELL_BUDGET = 4096
INTERIOR_MAX_RES = 18


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


def _classify_cover(geom: dict, f: int) -> tuple[np.ndarray, np.ndarray]:
    """Classify every cell of the polygon's bbox cover at resolution
    ``f`` as interior / boundary / exterior, EXACTLY:

    the runtime verdict (even-odd over all rings) changes only across
    ring edges, so a cell rectangle touched by NO edge has a constant
    verdict equal to its corners' verdict.  Edge-vs-rectangle uses the
    exact separating test (bbox overlap AND the 4 rect corners not
    strictly on one side of the edge line; a corner exactly on the
    line counts as touching — conservative toward 'boundary').

    Returns (cell_ids, interior_flags) with exterior cells DROPPED —
    a point in an exterior cell cannot be inside the polygon, so it
    need not even become a join candidate.
    """
    rings = geom["outer"] + geom["hole"]
    ys_all = np.concatenate([r[0] for r in rings])
    xs_all = np.concatenate([r[1] for r in rings])
    cell_ids = cells.cells_covering_bbox(
        float(ys_all.min()), float(ys_all.max()),
        float(xs_all.min()), float(xs_all.max()), f,
    )
    _r, x, y = cells.cell_decode_np(cell_ids)
    nx, ny = 1 << (f + 1), 1 << f
    xlo = x * 360.0 / nx - 180.0
    xhi = (x + 1) * 360.0 / nx - 180.0
    yhi = 90.0 - y * 180.0 / ny
    ylo = 90.0 - (y + 1) * 180.0 / ny

    has_edge = np.zeros(len(cell_ids), dtype=bool)
    for ys, xs in rings:
        y1, y2 = ys[:-1][None, :], ys[1:][None, :]
        x1, x2 = xs[:-1][None, :], xs[1:][None, :]
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
        has_edge |= (ov & ~allpos & ~allneg).any(axis=1)

    cx = np.concatenate([xlo, xlo, xhi, xhi])
    cy = np.concatenate([ylo, yhi, ylo, yhi])
    v = _corner_verdict(geom, cy, cx).reshape(4, -1)
    interior = v.all(axis=0) & ~has_edge
    exterior = (~v).all(axis=0) & ~has_edge
    keep = ~exterior
    return cell_ids[keep], interior[keep]


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
    # rings together) so one UDF verdict = outer-minus-holes in a
    # single pass. The polygon table is dimension-sized by contract —
    # identical assumption to broadcasting it.
    rows = polygons.select("polygon_id", "ring_role", "ring").collect()
    by_pid: dict[int, dict[str, list]] = {}
    for r in rows:
        by_pid.setdefault(r["polygon_id"], {"outer": [], "hole": []})[
            r["ring_role"]
        ].append(_ring_arrays(r["ring"]))
    # a polygon without an outer ring contains no point
    pids = sorted(p for p, g in by_pid.items() if g["outer"])
    geoms = [by_pid[p] for p in pids]  # indexed by __geom
    passthrough = [c for c in points.columns if c != point_id]
    if not pids:  # same schema as below: polygon_id is a non-null int
        return points.where(F.lit(False)).select(
            point_id, *passthrough, F.lit(0).alias("polygon_id")
        )

    # Adaptive fine covering with interior/exterior classification
    # (round 4): each polygon's candidate cells live at the finest
    # per-polygon resolution within INTERIOR_CELL_BUDGET.  Cells
    # provably inside the polygon short-circuit the refine entirely
    # (verdict true, no ray cast — the bulk of truly-contained
    # points); provably-outside cells never become candidates at all.
    # Only the thin boundary band pays the per-edge refine.
    cover_res, cover_ids, cover_inter = [], [], []  # indexed by __geom
    for g in geoms:
        rings = g["outer"] + g["hole"]
        ys_all = np.concatenate([r[0] for r in rings])
        xs_all = np.concatenate([r[1] for r in rings])
        f = _pick_cover_res(
            float(ys_all.min()), float(ys_all.max()),
            float(xs_all.min()), float(xs_all.max()), res,
        )
        ids, inter = _classify_cover(g, f)
        cover_res.append(f)
        cover_ids.append(ids)
        cover_inter.append(inter)
    used_res = set(cover_res)

    n_cells = [len(ids) for ids in cover_ids]
    cell_table = pa.table(
        {
            "res": np.repeat(np.array(cover_res, dtype=np.int32), n_cells),
            "cell": np.concatenate(cover_ids),
            "__geom": np.repeat(np.arange(len(geoms), dtype=np.int32), n_cells),
            "__interior": np.concatenate(cover_inter),
        }
    )
    pcells = F.broadcast(
        local_frame(
            points.sparkSession,
            cell_table,
            "res int, cell long, __geom int, __interior boolean",
        )
    )

    lat_c, lon_c = F.col("lat"), F.col("lon")
    total_edges = sum(len(ys) - 1 for g in geoms for ys, _xs in g["outer"] + g["hole"])
    if total_edges <= JVM_REFINE_MAX_EDGES:
        outer_by_geom = F.expr(_array_sql(_rings_sql(g["outer"]) for g in geoms))
        hole_by_geom = F.expr(_array_sql(_rings_sql(g["hole"]) for g in geoms))
        # bbox short-circuit: only boundary cells reach the refine,
        # and a cell a ring edge crosses can stick out past the
        # polygon's bounding box; candidates there fail four double
        # compares and never reach the per-edge ray cast (And
        # short-circuits)
        bboxes = []
        for g in geoms:
            ys = np.concatenate([r[0] for r in g["outer"]])
            xs = np.concatenate([r[1] for r in g["outer"]])
            bboxes.append(
                _struct_sql(ymin=ys.min(), ymax=ys.max(), xmin=xs.min(), xmax=xs.max())
            )
        bb = F.element_at(F.expr(_array_sql(bboxes)), F.col("__geom") + 1)
        in_bbox = (
            (lat_c >= bb["ymin"])
            & (lat_c <= bb["ymax"])
            & (lon_c >= bb["xmin"])
            & (lon_c <= bb["xmax"])
        )
        # The exists() conjuncts reference lat/lon ONLY inside lambda
        # bodies; under certain exprId alignments Catalyst's predicate
        # pushdown mis-computes their references as right-side-only and
        # pushes them below the broadcast exchange, yielding an invalid
        # `!Filter` plan that fails attribute binding at runtime
        # (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND; pinned by
        # tests/test_spatial.py::test_pip_after_foreign_latlon_df).
        # Anchor the element_at index with a null-safe term that
        # references lat/lon as plain attributes so every conjunct
        # visibly spans both join sides. Semantics unchanged: null
        # lat/lon -> null index -> null exists -> row dropped, exactly
        # as the original predicate behaved.
        anchor = F.when(
            lat_c.isNull() | lon_c.isNull(), F.lit(None).cast("int")
        ).otherwise(F.lit(0))
        # interior cells short-circuit: the whole refine runs only on
        # boundary-band candidates (Or short-circuits; __interior is a
        # codegen'd broadcast column, the HOF casts are interpreted)
        inside_pred = F.col("__interior") | (
            in_bbox
            & F.exists(
                F.element_at(outer_by_geom, F.col("__geom") + 1 + anchor),
                lambda r: _odd_crossings(r, lat_c, lon_c),
            )
            & ~F.exists(
                F.element_at(hole_by_geom, F.col("__geom") + 1 + anchor),
                lambda r: _odd_crossings(r, lat_c, lon_c),
            )
        )
    else:

        @F.pandas_udf(BooleanType())
        def inside_udf(lat_s: pd.Series, lon_s: pd.Series, geom_s: pd.Series) -> pd.Series:
            out = np.zeros(len(lat_s), dtype=bool)
            py = lat_s.to_numpy(dtype=np.float64)
            px = lon_s.to_numpy(dtype=np.float64)
            gi = geom_s.to_numpy()
            for g in np.unique(gi):
                m = gi == g
                out[m] = _corner_verdict(geoms[int(g)], py[m], px[m])
            return pd.Series(out)

        inside_pred = F.col("__interior") | inside_udf(lat_c, lon_c, F.col("__geom"))

    # one cell per point per USED resolution (usually 1-2 distinct
    # levels across the polygon set); a polygon's cells all live at
    # its single resolution and are distinct, so each (point, polygon)
    # candidate appears exactly once: the filtered join IS the result
    # — fully narrow, zero shuffles.
    levels = sorted(used_res)
    if len(levels) == 1:
        pts = points.withColumn("__cell", cells.cell_encode(lat_c, lon_c, levels[0]))
        join_cond = pts["__cell"] == pcells["cell"]
    else:
        pts = points.withColumn(
            "__rc",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).cast("int").alias("r"),
                            cells.cell_encode(lat_c, lon_c, r).alias("c"),
                        )
                        for r in levels
                    ]
                )
            ),
        )
        join_cond = (pts["__rc"]["r"] == pcells["res"]) & (
            pts["__rc"]["c"] == pcells["cell"]
        )
    pid_arr = F.expr(_array_sql(map(str, pids)))
    return (
        pts.join(pcells, join_cond, "inner")
        .where(inside_pred)
        .select(
            point_id, *passthrough, F.element_at(pid_arr, F.col("__geom") + 1).alias("polygon_id")
        )
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
