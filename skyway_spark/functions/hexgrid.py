"""Hexagonal cell grid (H3-style axial/cube coordinates) as pure
Column expressions — the hex complement to the square qcell scheme in
functions/cells.py.

The north rule names an "H3/S2 cell index"; qcell covers the S2-like
square hierarchy, and this module supplies the hex algebra H3 users
rely on — axial encode with cube rounding, hex distance, k-ring/disk
neighborhoods — over an equirectangular plane in integer microdegrees.
Hexagons tile with uniform 6-neighbor adjacency (no square-grid corner
ambiguity), which is why H3 won for mobility analytics; the same
property holds here.

Engine-exact by construction: sqrt(3) enters ONLY as the fixed-point
constant SQRT3_FP = round(sqrt(3) * 2^20); all products stay < 2^53 at
microdegree scale, every division is explicit floor division, and cube
rounding resolves on integer remainders with a deterministic
(q-first, then r) tie order — so the SQL mirror reproduces cell ids
bit-for-bit (see __spark_entry__._hex_sql helpers).

Pointy-top axial transform for hex size ``s`` (center-to-corner,
microdegrees), x = lon_u, y = lat_u:

    q = (sqrt(3)*x - y) / (3*s)        r = 2*y / (3*s)

scaled by FP = 2^20 before rounding. Cell id packs biased (q, r) into
one int64: ((q + B) << 30) | (r + B), B = 2^29.

All functions are scan-stage Column math (whole-stage codegen, no
Python, no shuffle) — same contract as cells.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

FP = 1 << 20
SQRT3_FP = 1816187  # round(sqrt(3) * 2^20) = round(1816186.6...)
HEX_B = 1 << 29
_R_MASK = (1 << 30) - 1


def _fdiv(a: Column, b: int) -> Column:
    """Exact floor division of an integer Column by positive int ``b``:
    subtract the non-negative pmod, then the (now exact) quotient.  The
    intermediate stays integer-typed (no double round-trip)."""
    return ((a - F.pmod(a, F.lit(b))) / F.lit(b)).cast("long")


def _frac_axial(x_u: Column, y_u: Column, size_u: int) -> tuple[Column, Column]:
    """FP-scaled fractional axial coordinates (qs, rs) — the linear
    half of the hex transform, before cube rounding."""
    s3 = 3 * int(size_u)
    # force long math: int32 inputs (or int literals in tests) would
    # overflow the ANSI multiply at microdegree scale
    x_u, y_u = x_u.cast("long"), y_u.cast("long")
    qs = _fdiv(F.lit(SQRT3_FP).cast("long") * x_u - F.lit(FP) * y_u, s3)
    rs = _fdiv(F.lit(2 * FP).cast("long") * y_u, s3)
    return qs, rs


def hex_qr(x_u: Column, y_u: Column, size_u: int) -> tuple[Column, Column]:
    """Axial (q, r) hex coordinates for integer-microdegree planar
    coords, via FP-scaled fractional axial + cube rounding.

    Column-composition form: the rounding cascade references (qs, rs)
    many times, so the returned trees are textually LARGE — fine at
    the top of a simple plan, but when the result feeds grouping keys
    fused with joins/parses, prefer ``assign_hex`` (the staged
    DataFrame form) to stay inside the codegen 64 KB method limit."""
    qs, rs = _frac_axial(x_u, y_u, size_u)
    return _cube_round(qs, rs)


def _cube_round(qs: Column, rs: Column) -> tuple[Column, Column]:
    """Cube-round FP-scaled fractional axial coords to integer (q, r):
    round each of (q, r, s) to nearest, then fix the axis with the
    largest rounding error so q + r + s == 0 (deterministic q-first,
    then r tie order)."""
    ss = -qs - rs
    half = FP // 2
    qr = _fdiv(qs + half, FP)
    rr = _fdiv(rs + half, FP)
    sr = _fdiv(ss + half, FP)
    dq = F.abs(qs - qr * FP)
    dr = F.abs(rs - rr * FP)
    ds = F.abs(ss - sr * FP)
    bad = (qr + rr + sr) != 0
    fix_q = bad & (dq >= dr) & (dq >= ds)
    fix_r = bad & ~fix_q & (dr >= ds)
    q = F.when(fix_q, -rr - sr).otherwise(qr)
    r = F.when(fix_r, -qr - sr).otherwise(rr)
    return q.cast("long"), r.cast("long")


def assign_hex(df, x_col: str, y_col: str, size_u: int, keep: list[str] | None = None):
    """DataFrame-level hex assignment, staged into TWO projections with
    a Generate barrier between them (plans/barrier.stage): the linear
    fractional-axial step lands as attributes, then the cube-rounding
    cascade reads those attributes.  Same values as ``hex_qr`` in every
    case, but the rounding tree never textually inlines the (already
    large) fractional step — each stage whole-stage-codegens on its
    own, so composing the result into grouped/joined consumers cannot
    blow Janino's 64 KB method limit (round-3 sweep: q_hex_disk,
    q_variogram — BENCH/SWEEP_r03c.log).

    Returns ``df`` narrowed to ``keep`` (default: all existing columns)
    plus integer axial columns ``q``/``r``.  Row-local
    scan-stage work: no shuffle, no materialization.
    """
    from skyway_spark.plans.barrier import stage

    keep = list(df.columns) if keep is None else list(keep)
    qs, rs = _frac_axial(F.col(x_col), F.col(y_col), size_u)
    st = stage(df, *keep, qs.alias("__qs"), rs.alias("__rs"))
    q, r = _cube_round(F.col("__qs"), F.col("__rs"))
    return st.select(*keep, q.alias("q"), r.alias("r"))


def hex_pack(q: Column, r: Column) -> Column:
    return (
        F.shiftleft((q + F.lit(HEX_B)).cast("long"), 30) + (r + F.lit(HEX_B))
    ).cast("long")


def hex_q(cell: Column) -> Column:
    return F.shiftright(cell, 30) - F.lit(HEX_B)


def hex_r(cell: Column) -> Column:
    return cell.bitwiseAND(F.lit(_R_MASK)) - F.lit(HEX_B)


def hex_encode(x_u: Column, y_u: Column, size_u: int) -> Column:
    """Integer-microdegree (x=lon_u, y=lat_u) -> packed hex cell id."""
    q, r = hex_qr(x_u, y_u, size_u)
    return hex_pack(q, r)


def hex_distance(q1: Column, r1: Column, q2: Column, r2: Column) -> Column:
    """Hex grid distance: (|dq| + |dr| + |dq+dr|) / 2 — the cube-norm
    identity; exact integers (the sum is always even)."""
    dq, dr = q1 - q2, r1 - r2
    tot = F.abs(dq) + F.abs(dr) + F.abs(dq + dr)
    return _fdiv(tot, 2)


def disk_offsets(k: int) -> list[tuple[int, int]]:
    """All axial offsets within hex distance ``k`` — 1 + 3k(k+1) of
    them, in deterministic (dq, dr) order."""
    out = [
        (dq, dr)
        for dq in range(-k, k + 1)
        for dr in range(-k, k + 1)
        if max(abs(dq), abs(dr), abs(dq + dr)) <= k
    ]
    assert len(out) == 1 + 3 * k * (k + 1)
    return out


def hex_disk(cell: Column, k: int) -> Column:
    """Array of the 1+3k(k+1) cell ids within hex distance ``k`` of
    ``cell`` (including itself) — the hex k-ring neighborhood.

    ``hex_pack`` is affine in (q, r), so the distance-(dq, dr)
    neighbor id is exactly ``cell + (dq << 30) + dr`` (the biased q
    stays within its 30-bit field for |dq| <= k << 2^29): the disk is
    one literal delta array + a transform referencing ``cell`` ONCE,
    instead of an unpack+repack tree per offset (38+ textual copies of
    ``cell`` at k=2 — a whole-stage-codegen 64 KB hazard once composed
    into a fused consumer stage; round-3 sweep hit it in q_hex_disk)."""
    deltas = F.array(*[F.lit((dq << 30) + dr).cast("long") for dq, dr in disk_offsets(k)])
    return F.transform(deltas, lambda d: cell + d)
