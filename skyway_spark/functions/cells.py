"""Hierarchical grid cell index + slippy tile math, as pure Column exprs.

The north rule calls for an "H3/S2 cell index". Neither library ships
in this container, so the engine defines its own deterministic
hierarchical cell scheme ("qcell") with the same algebra S2/H3 give
us — point->cell encode, parent/child, k-ring neighborhoods — built
entirely from integer/float Column expressions, so cell assignment is
JVM-side, whole-stage-codegen'd, and never leaves the executor.

qcell layout (equirectangular quadtree):
  resolution r in [0, 26]; grid is nx = 2^(r+1) columns x ny = 2^r rows
  (cells are ~square in degrees).
  x = floor((lon+180)/360 * nx)  clamped to [0, nx)
  y = floor((90-lat)/180 * ny)   clamped to [0, ny)
  cell id (int64) = (r << 58) | (x << 29) | y
Parent at r-1 is (x>>1, y>>1) — exact hierarchy, so multi-resolution
rollups are integer ops. k-ring wraps x across the antimeridian and
clamps y at the poles.

A numpy mirror of the same math (``*_np``) is used for driver-side
polygon covering and as an independent test oracle.

Slippy (z,x,y) Web-Mercator tiles are also Column-only, for the
raster/vector tile materialization operator.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_RES = 26
_R_SHIFT = 58
_X_SHIFT = 29
_XY_MASK = (1 << 29) - 1

# --------------------------------------------------------------------------
# Column-expression implementation (the hot path — no Python per row)
# --------------------------------------------------------------------------


def _as_col(v) -> Column:
    return v if isinstance(v, Column) else F.lit(v)


def pack_cell_py(x: int, y: int, res: int) -> int:
    """Driver-side mirror of pack_cell (tests, covering sets)."""
    return (res << _R_SHIFT) | (x << _X_SHIFT) | y


def cell_x_py(cell: int) -> int:
    return (cell >> _X_SHIFT) & _XY_MASK


def cell_y_py(cell: int) -> int:
    return cell & _XY_MASK


def cell_xy(lat: Column, lon: Column, res: int) -> tuple[Column, Column]:
    """Grid coordinates at resolution ``res`` (pure Column math)."""
    nx = 1 << (res + 1)
    ny = 1 << res
    x = F.floor((_as_col(lon) + F.lit(180.0)) / F.lit(360.0) * F.lit(float(nx)))
    y = F.floor((F.lit(90.0) - _as_col(lat)) / F.lit(180.0) * F.lit(float(ny)))
    x = F.greatest(F.lit(0), F.least(F.lit(nx - 1), x)).cast("long")
    y = F.greatest(F.lit(0), F.least(F.lit(ny - 1), y)).cast("long")
    return x, y


def pack_cell(x: Column, y: Column, res: int) -> Column:
    return (
        F.lit(res << _R_SHIFT).cast("long")
        .bitwiseOR(F.shiftleft(x.cast("long"), _X_SHIFT))
        .bitwiseOR(y.cast("long"))
    )


def cell_encode(lat: Column, lon: Column, res: int) -> Column:
    """Point -> cell id at resolution ``res``. int64, JVM-side only."""
    x, y = cell_xy(lat, lon, res)
    return pack_cell(x, y, res)


def cell_encode_sql(lat: str, lon: str, res: int) -> str:
    """``cell_encode`` as SQL text (one py4j call, not one per operator)
    over two SQL expressions; BIGINT clamp bounds, so analysis adds no casts."""
    nx, ny = 1 << (res + 1), 1 << res
    x = f"greatest(0L, least({nx - 1}L, floor(({lon} + 180.0D) / 360.0D * {float(nx)!r}D)))"
    y = f"greatest(0L, least({ny - 1}L, floor((90.0D - {lat}) / 180.0D * {float(ny)!r}D)))"
    return f"({res << _R_SHIFT}L | shiftleft({x}, {_X_SHIFT}) | {y})"


def cell_x(cell: Column) -> Column:
    return F.shiftrightunsigned(cell, _X_SHIFT).bitwiseAND(F.lit(_XY_MASK))


def cell_y(cell: Column) -> Column:
    return cell.bitwiseAND(F.lit(_XY_MASK))


def cell_parent(cell: Column, res: int, parent_res: int) -> Column:
    """Ancestor cell at coarser ``parent_res`` (integer shifts only)."""
    if parent_res > res:
        raise ValueError("parent_res must be <= res")
    d = res - parent_res
    return pack_cell(
        F.shiftrightunsigned(cell_x(cell), d),
        F.shiftrightunsigned(cell_y(cell), d),
        parent_res,
    )


def k_ring(cell: Column, res: int, k: int) -> Column:
    """array<long> of all cells within Chebyshev distance ``k``.

    Longitude wraps across the antimeridian (pmod); latitude rows
    outside [0, ny) are dropped. Pure Column expr: sequence +
    nested transform + filter — explodes on the executor, never in
    Python.
    """
    nx = 1 << (res + 1)
    ny = 1 << res
    x0, y0 = cell_x(cell), cell_y(cell)
    seq = F.sequence(F.lit(-k), F.lit(k))
    grid = F.flatten(
        F.transform(
            seq,
            lambda dy: F.transform(
                seq,
                lambda dx: F.when(
                    ((y0 + dy) >= 0) & ((y0 + dy) < ny),
                    pack_cell(F.pmod(x0 + dx, F.lit(nx)), y0 + dy, res),
                ),
            ),
        )
    )
    return F.filter(grid, lambda c: c.isNotNull())


def k_ring_xy(cell: Column, res: int, kx: Column, ky: Column) -> Column:
    """Asymmetric ring: Chebyshev box of ±kx columns / ±ky rows, with
    per-row Column bounds (used by latitude-adaptive kNN — longitude
    cells shrink in km towards the poles, so kx grows as 1/cos(lat)).
    Pure Column expr."""
    nx = 1 << (res + 1)
    ny = 1 << res
    x0, y0 = cell_x(cell), cell_y(cell)
    kx = F.least(kx.cast("long"), F.lit(nx // 2))
    grid = F.flatten(
        F.transform(
            F.sequence(-ky.cast("long"), ky.cast("long")),
            lambda dy: F.transform(
                F.sequence(-kx, kx),
                lambda dx: F.when(
                    ((y0 + dy) >= 0) & ((y0 + dy) < ny),
                    pack_cell(F.pmod(x0 + dx, F.lit(nx)), y0 + dy, res),
                ),
            ),
        )
    )
    return F.array_distinct(F.filter(grid, lambda c: c.isNotNull()))


def cell_width_deg(res: int) -> float:
    """Cell width in degrees of longitude at resolution ``res``."""
    return 360.0 / float(1 << (res + 1))


def res_for_radius_km(radius_km: float) -> int:
    """Coarsest resolution whose cell height >= radius (for k-ring kNN)."""
    deg = radius_km / 111.32
    for r in range(MAX_RES, -1, -1):
        if 180.0 / float(1 << r) >= deg:
            return r
    return 0


# --------------------------------------------------------------------------
# Slippy Web-Mercator tiles (z, x, y) — Column-only
# --------------------------------------------------------------------------

MERCATOR_LAT_MAX = 85.05112878


def tile_xy(lat: Column, lon: Column, z: int) -> tuple[Column, Column]:
    """Standard slippy tile coordinates at zoom ``z``."""
    n = float(1 << z)
    lat_c = F.greatest(F.lit(-MERCATOR_LAT_MAX), F.least(F.lit(MERCATOR_LAT_MAX), _as_col(lat)))
    tx = F.floor((_as_col(lon) + F.lit(180.0)) / F.lit(360.0) * F.lit(n))
    lat_rad = F.radians(lat_c)
    ty = F.floor(
        (F.lit(1.0) - F.asinh(F.tan(lat_rad)) / F.lit(math.pi)) / F.lit(2.0) * F.lit(n)
    )
    clamp = lambda c: F.greatest(F.lit(0), F.least(F.lit(int(n) - 1), c)).cast("long")  # noqa: E731
    return clamp(tx), clamp(ty)


def zorder_key(lat: Column, lon: Column, bits: int = 16) -> Column:
    """Morton (Z-order) key interleaving ``bits`` bits of the grid x/y
    at res ``bits`` — the classic data-layout clustering key (Delta
    Z-ORDER analog): sorting/range-partitioning a 100 TB table by this
    key gives 2-D locality so tile/bbox queries touch few files.
    Pure unrolled Column bit math, whole-stage codegen friendly.

    Grid res is bits-1, so x (res+1 = ``bits`` bits, lon spans twice
    the degrees) and y (res bits) both fit the interleave exactly."""
    x, y = cell_xy(lat, lon, min(bits - 1, MAX_RES))
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = key.bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(x, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return key


def quadkey(lat: Column, lon: Column, z: int) -> Column:
    """Bing-maps quadkey string of length ``z`` (digit i interleaves
    bit z-1-i of tile x/y: 0|1|2|3 = NW|NE|SW|SE). Pure Column math —
    the unrolled per-level concat stays inside whole-stage codegen.
    Quadkeys make tile hierarchy a string-prefix relation, so a
    coarser tile's contents are a LIKE 'prefix%' range scan when the
    table is sorted/partitioned by quadkey."""
    tx, ty = tile_xy(lat, lon, z)
    digits = [
        (
            F.shiftrightunsigned(tx, z - 1 - i).bitwiseAND(F.lit(1))
            + F.shiftrightunsigned(ty, z - 1 - i).bitwiseAND(F.lit(1)) * F.lit(2)
        ).cast("string")
        for i in range(z)
    ]
    return F.concat(*digits) if digits else F.lit("")


GEOHASH_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash(lat: Column, lon: Column, precision: int = 7) -> Column:
    """Standard base32 geohash string (Niemeyer encoding; public
    format: 5*precision bits, longitude first, MSB down). Pure Column
    bit math + per-char element_at — codegen-friendly, and the
    prefix-hierarchy property makes coarse containment a
    LIKE 'prefix%' scan exactly like quadkey. Known vectors pinned in
    tests/test_cells.py; SQL mirror in __spark_entry__._geohash_sql."""
    nbits = 5 * precision
    lon_bits = (nbits + 1) // 2  # lon owns the MSB
    lat_bits = nbits // 2
    # quantize: floor((v - lo) / span * 2^bits), clamped
    lonq = F.greatest(
        F.lit(0).cast("long"),
        F.least(
            F.lit((1 << lon_bits) - 1).cast("long"),
            F.floor((lon + 180.0) / 360.0 * float(1 << lon_bits)).cast("long"),
        ),
    )
    latq = F.greatest(
        F.lit(0).cast("long"),
        F.least(
            F.lit((1 << lat_bits) - 1).cast("long"),
            F.floor((lat + 90.0) / 180.0 * float(1 << lat_bits)).cast("long"),
        ),
    )
    # interleave MSB-first with lon owning bit nbits-1 and alternating
    # down; for ODD nbits lon lands on even z positions, for EVEN nbits
    # on odd ones (getting this wrong swaps lat/lon at even precisions)
    lon_off = nbits - 2 * lon_bits + 1  # 0 when nbits odd, 1 when even
    lat_off = nbits - 2 * lat_bits  # 1 when nbits odd, 0 when even
    z = F.lit(0).cast("long")
    for i in range(lon_bits):
        z = z.bitwiseOR(
            F.shiftleft(
                F.shiftrightunsigned(lonq, i).bitwiseAND(F.lit(1)), 2 * i + lon_off
            )
        )
    for i in range(lat_bits):
        z = z.bitwiseOR(
            F.shiftleft(
                F.shiftrightunsigned(latq, i).bitwiseAND(F.lit(1)), 2 * i + lat_off
            )
        )
    alphabet = F.array(*[F.lit(c) for c in GEOHASH_BASE32])
    chars = [
        F.element_at(
            alphabet,
            (
                F.shiftrightunsigned(z, nbits - 5 * (j + 1)).bitwiseAND(F.lit(31))
            ).cast("int")
            + 1,
        )
        for j in range(precision)
    ]
    return F.concat(*chars)


def compact_cells(cells_df, res: int, levels: int = 1):
    """H3-compact-style sibling compaction: any parent whose 4
    children are ALL present replaces them; repeated ``levels`` times.
    Input: DataFrame with distinct cells at ``res``. Output: (cell,
    res) covering the same region with fewer cells.

    Each level is one groupBy over the (already aggregate-sized) cell
    set — compaction never touches the point data."""
    from pyspark.sql import DataFrame  # local to avoid cycle at import

    assert isinstance(cells_df, DataFrame)
    out = cells_df.select(F.col("cell")).withColumn("res", F.lit(res))
    for r in range(res, res - levels, -1):
        cur = out.where(F.col("res") == r)
        rest = out.where(F.col("res") != r)
        parent = cell_parent(F.col("cell"), r, r - 1)
        grouped = cur.groupBy(parent.alias("p")).agg(
            F.count(F.lit(1)).alias("n"), F.collect_list("cell").alias("kids")
        )
        promoted = grouped.where(F.col("n") == 4).select(
            F.col("p").alias("cell"), F.lit(r - 1).alias("res")
        )
        kept = grouped.where(F.col("n") < 4).select(
            F.explode("kids").alias("cell"), F.lit(r).alias("res")
        )
        out = rest.unionByName(promoted).unionByName(kept)
    return out


# --------------------------------------------------------------------------
# numpy mirrors — driver-side polygon covering + independent test oracle
# --------------------------------------------------------------------------


def cell_xy_np(lat: np.ndarray, lon: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    nx = 1 << (res + 1)
    ny = 1 << res
    x = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * nx)
    y = np.floor((90.0 - np.asarray(lat, dtype=np.float64)) / 180.0 * ny)
    return (
        np.clip(x, 0, nx - 1).astype(np.int64),
        np.clip(y, 0, ny - 1).astype(np.int64),
    )


def cell_encode_np(lat, lon, res: int) -> np.ndarray:
    x, y = cell_xy_np(np.atleast_1d(lat), np.atleast_1d(lon), res)
    return (np.int64(res) << _R_SHIFT) | (x << _X_SHIFT) | y


def cell_decode_np(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    cell = np.atleast_1d(cell).astype(np.int64)
    r = (cell >> _R_SHIFT).astype(np.int64)
    x = (cell >> _X_SHIFT) & _XY_MASK
    y = cell & _XY_MASK
    return r, x, y


def cells_covering_bbox(
    lat_min: float, lat_max: float, lon_min: float, lon_max: float, res: int
) -> np.ndarray:
    """All cell ids intersecting the bbox (driver-side, for small
    polygon tables that get broadcast)."""
    nx = 1 << (res + 1)
    x0, y1 = cell_xy_np(np.array([lat_min]), np.array([lon_min]), res)
    x1, y0 = cell_xy_np(np.array([lat_max]), np.array([lon_max]), res)
    xs = np.arange(int(x0[0]), int(x1[0]) + 1) % nx
    ys = np.arange(int(y0[0]), int(y1[0]) + 1)
    gx, gy = np.meshgrid(xs, ys)
    return (np.int64(res) << _R_SHIFT) | (gx.ravel() << _X_SHIFT) | gy.ravel()


def tile_xy_np(lat, lon, z: int) -> tuple[np.ndarray, np.ndarray]:
    n = 1 << z
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MERCATOR_LAT_MAX, MERCATOR_LAT_MAX)
    lon = np.asarray(lon, dtype=np.float64)
    tx = np.floor((lon + 180.0) / 360.0 * n)
    ty = np.floor((1.0 - np.arcsinh(np.tan(np.radians(lat))) / math.pi) / 2.0 * n)
    return (
        np.clip(tx, 0, n - 1).astype(np.int64),
        np.clip(ty, 0, n - 1).astype(np.int64),
    )


def hilbert_key(lat: Column, lon: Column, order: int = 10) -> Column:
    """Hilbert-curve key on a square 2^order x 2^order grid — the
    data-layout clustering key with strictly better locality than
    ``zorder_key`` (no Morton "seams": every consecutive pair of
    Hilbert keys is a grid-adjacent pair, so range-partitioning a
    100 TB table by hkey gives near-optimal file locality for bbox
    scans; the public Delta/Iceberg layout literature measures
    10-30 % fewer files touched vs Z-order).

    The classic xy->d walk (Wikipedia "Hilbert curve", public domain
    pseudocode) is a LOOP with carried (x, y, d) state — unrolling it
    as plain Column expressions would duplicate the state expressions
    2^order times (each level references x/y twice), so the loop runs
    as ONE aggregate() fold over the descending level sequence with a
    struct accumulator: the state is a VALUE per step, `order` (~10)
    interpreted lambda steps per row, no expression blow-up.  All
    integer ops — the SQL oracle unrolls the same levels as CTEs.
    """
    n = 1 << order
    x0 = F.greatest(
        F.lit(0).cast("long"),
        F.least(
            F.lit(n - 1).cast("long"),
            F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n))),
        ),
    )
    y0 = F.greatest(
        F.lit(0).cast("long"),
        F.least(
            F.lit(n - 1).cast("long"),
            F.floor((F.lit(90.0) - lat) / F.lit(180.0) * F.lit(float(n))),
        ),
    )
    init = F.struct(
        x0.alias("x"), y0.alias("y"), F.lit(0).cast("long").alias("d")
    )

    def step(acc, lvl):
        s = F.call_function(
            "shiftleft", F.lit(1).cast("long"), lvl.cast("int")
        )
        rx = F.when(acc["x"].bitwiseAND(s) != 0, F.lit(1)).otherwise(
            F.lit(0)
        ).cast("long")
        ry = F.when(acc["y"].bitwiseAND(s) != 0, F.lit(1)).otherwise(
            F.lit(0)
        ).cast("long")
        d2 = acc["d"] + s * s * (rx * 3).bitwiseXOR(ry)
        flip = (ry == 0) & (rx == 1)
        newx = (
            F.when(ry == 1, acc["x"])
            .when(flip, s - 1 - acc["y"])
            .otherwise(acc["y"])
        )
        newy = (
            F.when(ry == 1, acc["y"])
            .when(flip, s - 1 - acc["x"])
            .otherwise(acc["x"])
        )
        return F.struct(newx.alias("x"), newy.alias("y"), d2.alias("d"))

    return F.aggregate(
        F.sequence(F.lit(order - 1), F.lit(0), F.lit(-1)),
        init,
        step,
        lambda acc: acc["d"],
    )
