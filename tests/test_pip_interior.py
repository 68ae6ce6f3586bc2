"""Direct unit pins for the round-4 PIP adaptive interior covering
(operators/pip._classify_cover / _pick_cover_res): the end-to-end
oracle tests in test_spatial.py prove the composition; these
prove the classification invariants themselves against dense exact
sampling, so a regression is localized instead of surfacing as a
far-away verdict diff.

Invariants (the correctness contract of the shortcut):
  I1  every cell flagged interior contains ONLY inside points;
  I2  every point inside the polygon falls in a KEPT cell (exterior
      dropping loses nothing);
  I3  dropped (exterior) cells contain NO inside points;
  I4  cells overlapping any ring edge are never flagged interior.
"""

from __future__ import annotations

import numpy as np

from skyway_spark.functions import cells
from skyway_spark.operators.pip import (
    _classify_cover,
    _corner_verdict,
    _pick_cover_res,
    _ray_cast_batch,
)


def _geom(outer_rings, hole_rings=()):
    return {
        "outer": [(np.array([p[0] for p in r], float), np.array([p[1] for p in r], float)) for r in outer_rings],
        "hole": [(np.array([p[0] for p in r], float), np.array([p[1] for p in r], float)) for r in hole_rings],
    }


def _star(lat0, lon0, r, n=10, inner=0.45):
    import math

    pts = []
    for k in range(2 * n):
        a = 2 * math.pi * k / (2 * n)
        rr = r if k % 2 == 0 else r * inner
        pts.append((lat0 + rr * math.sin(a), lon0 + rr * math.cos(a)))
    pts.append(pts[0])
    return pts


def _donut(lat0, lon0, r_out, r_in, n=12):
    import math

    def ring(r):
        pts = [
            (lat0 + r * math.sin(2 * math.pi * k / n), lon0 + r * math.cos(2 * math.pi * k / n))
            for k in range(n)
        ]
        pts.append(pts[0])
        return pts

    return ring(r_out), ring(r_in)


GEOMS = {
    "concave_star": _geom([_star(10.0, 20.0, 2.0)]),
    "donut": _geom([_donut(-30.0, 45.0, 3.0, 1.2)[0]], [_donut(-30.0, 45.0, 3.0, 1.2)[1]]),
    "two_outers": _geom([_star(0.0, 0.0, 1.0, n=6), _star(0.5, 6.0, 1.5, n=7)]),
}


def _cell_rects(cell_ids):
    _r, x, y = cells.cell_decode_np(cell_ids)
    f = int(_r[0])
    nx, ny = 1 << (f + 1), 1 << f
    xlo = x * 360.0 / nx - 180.0
    xhi = (x + 1) * 360.0 / nx - 180.0
    yhi = 90.0 - y * 180.0 / ny
    ylo = 90.0 - (y + 1) * 180.0 / ny
    return ylo, yhi, xlo, xhi


def _dense_grid(ylo, yhi, xlo, xhi, n=7):
    eps = 1e-9
    ys = np.linspace(ylo + eps, yhi - eps, n)
    xs = np.linspace(xlo + eps, xhi - eps, n)
    gy, gx = np.meshgrid(ys, xs)
    return gy.ravel(), gx.ravel()


def test_classification_invariants():
    for name, g in GEOMS.items():
        rings = g["outer"] + g["hole"]
        ys_all = np.concatenate([r[0] for r in rings])
        xs_all = np.concatenate([r[1] for r in rings])
        f = _pick_cover_res(
            float(ys_all.min()), float(ys_all.max()),
            float(xs_all.min()), float(xs_all.max()), 6,
        )
        ids, interior = _classify_cover(g, f)
        assert interior.sum() > 0, name  # the shortcut actually engages
        full = cells.cells_covering_bbox(
            float(ys_all.min()), float(ys_all.max()),
            float(xs_all.min()), float(xs_all.max()), f,
        )
        dropped = np.setdiff1d(full, ids)
        assert len(dropped) > 0, name  # exterior dropping engages too

        # I1 + I4: dense-sample every interior cell — all points inside
        ylo, yhi, xlo, xhi = _cell_rects(ids[interior])
        for i in range(len(ylo)):
            py, px = _dense_grid(ylo[i], yhi[i], xlo[i], xhi[i])
            assert _corner_verdict(g, py, px).all(), (name, i)

        # I3: dense-sample dropped cells — no point inside
        if len(dropped):
            dylo, dyhi, dxlo, dxhi = _cell_rects(dropped)
            for i in range(len(dylo)):
                py, px = _dense_grid(dylo[i], dyhi[i], dxlo[i], dxhi[i])
                assert not _corner_verdict(g, py, px).any(), (name, i)

        # I2: random inside points all land in kept cells
        rng = np.random.default_rng(42)
        py = rng.uniform(ys_all.min(), ys_all.max(), 4000)
        px = rng.uniform(xs_all.min(), xs_all.max(), 4000)
        inside = _corner_verdict(g, py, px)
        pc = cells.cell_encode_np(py[inside], px[inside], f)
        assert np.isin(pc, ids).all(), name


def test_ray_cast_edge_free_rect_constant_verdict():
    """The theorem the shortcut rests on, sampled: an edge-free cell
    rect has a constant verdict equal to its corners'."""
    g = GEOMS["concave_star"]
    rings = g["outer"]
    ys_all = np.concatenate([r[0] for r in rings])
    xs_all = np.concatenate([r[1] for r in rings])
    f = _pick_cover_res(
        float(ys_all.min()), float(ys_all.max()),
        float(xs_all.min()), float(xs_all.max()), 6,
    )
    ids, interior = _classify_cover(g, f)
    ylo, yhi, xlo, xhi = _cell_rects(ids)
    for i in range(len(ylo)):
        py, px = _dense_grid(ylo[i], yhi[i], xlo[i], xhi[i], n=5)
        v = _corner_verdict(g, py, px)
        if interior[i]:
            assert v.all()
        # boundary cells may be mixed — no assertion
