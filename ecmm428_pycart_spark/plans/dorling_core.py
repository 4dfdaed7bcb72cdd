"""Sequential Dorling force sweep — exact reference semantics, pure numpy.

Replicates the arithmetic of pycart/cartogram.py:343-402 (helpers
_repel :35-77 and _attract :80-138) including its quirks (SURVEY.md §2.5):

- Q1 Gauss–Seidel: positions update in region-index order *within* an
  iteration, so later regions see earlier regions already moved.
- Q3 non-neighbour "attraction" keeps the negative overlap, i.e. pushes
  away from non-touching candidates.
- Q4 clamp arithmetic, including the `+ 1.0` damping denominators.
- Q6 `stop` breaks at the start of iteration `i == stop`.

These functions are driver-free (plain numpy) so they can run inside a
single-group applyInPandas for the exact-parity mode, and be unit-tested
without a SparkSession. ``reference_layout`` is that mode end to end:
Queen borders (``operators.borders.queen_borders``), centroids,
perimeters, radius calibration and the sweep, all in one task.
``halo_step`` is the scalable mode's kernel: K synchronous (Jacobi)
steps over a bucket of grid cells, vectorised, with ``halo_reach`` the
movement bound that sizes the cells for K; ``jacobi_step`` is its
scalar oracle.
"""

from __future__ import annotations

import math

import numpy as np

from ecmm428_pycart_spark.geometry import core
from ecmm428_pycart_spark.operators.borders import queen_borders


def reference_layout(idx, values, wkbs, borders=None,
                     iterations: int = 100, ratio: float = 0.4,
                     friction: float = 0.5, stop: int | None = None):
    """Reference-mode Dorling for one whole map, in one process
    (pycart/cartogram.py:308-402).

    ``idx`` holds each row's region index. ``borders`` is an optional
    precomputed ``(focal, neighbor, weight)`` triple keyed by region
    index; without it the Queen borders are found here. The
    radius calibration k = ΣD/ΣR runs over the directed edge list
    (SURVEY.md Q5), summed exactly (``math.fsum``) so that k does not
    depend on the edge order.

    Returns ``(cx, cy, radius)`` arrays aligned with the input rows, or
    None when there are no Queen edges (every region an island: k is
    undefined)."""
    idx = np.asarray(idx, dtype="i8")
    if not len(idx):
        return None
    order = np.argsort(idx, kind="stable")
    sidx = idx[order]
    geoms = [core.loads(bytes(wkbs[p])) for p in order]
    if borders is None:
        bf, bn, bw = queen_borders(geoms)
    else:
        bf, bn = (_positions(sidx, c) for c in borders[:2])
        bw = np.asarray(borders[2], dtype="f8")
    cx, cy = np.array([core.centroid(g) for g in geoms], dtype="f8").T
    perim = np.array([core.perimeter(g) for g in geoms], dtype="f8")
    unit = np.sqrt(np.asarray(values, dtype="f8")[order] / math.pi)
    total_radius = math.fsum(unit[bf] + unit[bn])
    if total_radius == 0.0:
        return None
    k = math.fsum(np.hypot(cx[bn] - cx[bf], cy[bn] - cy[bf])) / total_radius
    radius = unit * k
    x, y = dorling_sweep(cx, cy, radius, perim, bf, bn, bw,
                         iterations=iterations, ratio=ratio,
                         friction=friction, stop=stop)
    back = np.argsort(order)
    return x[back], y[back], radius[back]


def _positions(sorted_idx: np.ndarray, ids) -> np.ndarray:
    """Positions of region indices ``ids`` in ``sorted_idx``; raises on
    an index the map does not hold."""
    ids = np.asarray(ids, dtype="i8")
    pos = np.searchsorted(sorted_idx, ids).clip(max=len(sorted_idx) - 1)
    if (sorted_idx[pos] != ids).any():
        raise ValueError("dorling: borders name a region_idx that is not "
                         "in the map")
    return pos


def dorling_sweep(x: np.ndarray, y: np.ndarray, radius: np.ndarray,
                  perimeter: np.ndarray,
                  border_focal: np.ndarray, border_neighbor: np.ndarray,
                  border_weight: np.ndarray,
                  iterations: int = 100, ratio: float = 0.4,
                  friction: float = 0.5, stop: int | None = None):
    """Run the iterative force simulation; returns updated (x, y).

    Arrays are indexed by region position 0..n-1; ``border_*`` is the
    directed edge list from get_borders. Mutates copies, not inputs.
    """
    x = x.astype("f8").copy()
    y = y.astype("f8").copy()
    radius = radius.astype("f8")
    n = len(x)
    widest = float(radius.max()) if n else 0.0

    # border weight lookup: dict keyed by (focal, neighbor). The reference
    # does a mask scan of the borders frame per pair (cartogram.py:121-126);
    # a hash lookup is the same semantics. Duplicate edges would make the
    # reference raise (Q7) — last-wins here, get_borders emits unique pairs.
    wmap = {}
    for f, nb, w in zip(border_focal, border_neighbor, border_weight):
        wmap[(int(f), int(nb))] = float(w)

    for i in range(iterations):
        if stop is not None and i == stop:
            break
        for idx in range(n):
            xrepel = yrepel = xattract = yattract = 0.0
            closest = widest

            dx = x - x[idx]
            dy = y - y[idx]
            dist = np.hypot(dx, dy)
            thresh = widest + radius[idx]
            mask = (dist > 0.0) & (dist < thresh)   # 'neither'-inclusive range
            if mask.any():
                nd = dist[mask]
                closest = widest if nd.min() > widest else float(nd.min())
                overlap = (radius[mask] + radius[idx]) - nd
                nidx = np.nonzero(mask)[0]
                for j, (ov, d) in enumerate(zip(overlap, nd)):
                    k = nidx[j]
                    if ov > 0.0:
                        xrepel -= ov * dx[k] / d
                        yrepel -= ov * dy[k] / d
                    else:
                        w = wmap.get((idx, int(k)))
                        if w is not None:
                            ov = abs(ov) * w / perimeter[idx]
                        xattract += ov * dx[k] / d
                        yattract += ov * dy[k] / d

            attract_dist = np.hypot(xattract, yattract)
            repel_dist = np.hypot(xrepel, yrepel)

            if repel_dist > closest:
                xrepel = closest * xrepel / (repel_dist + 1.0)
                yrepel = closest * yrepel / (repel_dist + 1.0)
                repel_dist = closest

            if repel_dist > 0.0:
                xtotal = (1.0 - ratio) * xrepel + ratio * (
                    repel_dist * xattract / (attract_dist + 1.0))
                ytotal = (1.0 - ratio) * yrepel + ratio * (
                    repel_dist * yattract / (attract_dist + 1.0))
            else:
                if attract_dist > closest:
                    xattract = closest * xattract / (attract_dist + 1.0)
                    yattract = closest * yattract / (attract_dist + 1.0)
                xtotal, ytotal = xattract, yattract

            x[idx] += friction * xtotal
            y[idx] += friction * ytotal

    return x, y


# relative margin on every halo radius, so that rounding in a distance
# or in floor(x / side) never drops a pair the exact arithmetic keeps
_SLACK = 2.0 ** -30


def halo_reach(steps: int, ratio: float, friction: float,
               widest: float) -> np.ndarray:
    """Dependency radii of ``steps`` Jacobi steps run on one halo
    exchange: entry t (0..steps) is how far from a grid cell a region
    may sit at the exchange and still have its position after step t
    needed by the regions the cell owns. Entry 0 is the cell's side;
    entry ``steps`` is 0, the owned regions themselves.

    A step moves a region by less than m = |friction|·(|1−ratio| +
    |ratio|)·widest: the repulsion is clamped to ``closest`` ≤ widest,
    the attraction term to ratio·that, and a lone attraction to closest.
    Step t reads positions of step t − 1 within widest + r ≤ 2·widest,
    which sat within 2·widest + 2(t − 1)·m at the exchange; summing
    these from the last step back gives the radii."""
    move = abs(friction) * (abs(1.0 - ratio) + abs(ratio)) * widest
    need = 2.0 * widest + 2.0 * move * np.arange(steps)
    return np.r_[np.cumsum(need[::-1])[::-1], 0.0] * (1.0 + _SLACK)


def halo_step(gx, gy, owned, idx, x, y, radius, perimeter, edges,
              steps: int, ratio: float, friction: float, widest: float):
    """``steps`` synchronous (Jacobi) steps for the regions owned by a
    set of halo cells — the scalable mode's force kernel, vectorised.

    Each row is one region's copy in one grid cell ``(gx, gy)`` of side
    ``halo_reach(steps, …)[0]``: its home cell (``owned``) or one of
    the 8 cells around it (a ghost). Every cell present must hold all
    of its rows, so it holds every region its owned rows depend on over
    all the steps. Ghosts are stepped too, so every row carries its
    perimeter; ``edges`` is the Queen borders of the regions present as
    ``(focal, neighbor, weight)`` region indices. Cells are stepped
    independently, and step t only for rows within ``halo_reach(…)[t]``
    of the cell: a shrinking cone whose rows have every input of the
    step. Pairs are found on a grid of side 2·widest.

    The arithmetic is ``jacobi_step``'s, term for term, and each
    region's forces are summed in ascending neighbour ``idx``, so the
    result does not depend on how cells are grouped. Returns the new
    ``(x, y)`` of the owned rows, in their input order."""
    owned = np.asarray(owned, dtype=bool)
    if not owned.any():
        return np.empty(0), np.empty(0)
    gx, gy, idx = (np.asarray(a, dtype="i8") for a in (gx, gy, idx))
    _, cell = np.unique(np.c_[gx, gy], axis=0, return_inverse=True)
    cell = cell.ravel()
    # a cell with no owned row needs no step
    keep = np.isin(cell, cell[owned])
    gx, gy, idx, cell, owned = (a[keep] for a in (gx, gy, idx, cell, owned))
    x, y, radius, perimeter = (np.asarray(a, dtype="f8")[keep]
                               for a in (x, y, radius, perimeter))
    reach = halo_reach(steps, ratio, friction, widest)
    side = reach[0]
    ox, oy = gx * side, gy * side
    away = np.hypot(np.maximum(np.maximum(ox - x, x - (ox + side)), 0.0),
                    np.maximum(np.maximum(oy - y, y - (oy + side)), 0.0))
    away[owned] = 0.0
    weight = _edge_weights(idx, edges)
    live = np.ones(len(idx), dtype=bool)
    for t in range(1, steps + 1):
        focal = np.flatnonzero(away <= reach[t])
        nx, ny = _jacobi_rows(focal, np.flatnonzero(live), cell, ox, oy, idx,
                              x, y, radius, perimeter, weight, ratio,
                              friction, widest)
        x, y = x.copy(), y.copy()
        x[focal], y[focal] = nx, ny
        live = away <= reach[t]
    return x[owned], y[owned]


def _jacobi_rows(focal, live, cell, ox, oy, idx, x, y, radius, perimeter,
                 weight, ratio, friction, widest):
    """One Jacobi step for rows ``focal`` against the ``live`` rows of
    their own cell, whose corner is ``(ox, oy)``; returns their new
    (x, y)."""
    # pairs: each focal against the live rows of the 3 × 3 grid squares
    # (side 2·widest) around it in its cell, in ascending neighbour idx.
    # The squares are counted from the cell's corner, so their keys stay
    # small however far the map spans.
    size = 2.0 * widest * (1.0 + _SLACK)
    sx = np.floor((x - ox) / size).astype("i8")
    sy = np.floor((y - oy) / size).astype("i8")
    x0, y0 = sx[live].min() - 1, sy[live].min() - 1
    span_x, span_y = sx[live].max() - x0 + 2, sy[live].max() - y0 + 2

    def key(r, dx, dy):
        return ((cell[r] * span_x + sx[r] + dx - x0) * span_y
                + sy[r] + dy - y0)

    order = np.lexsort((idx[live], sy[live], sx[live], cell[live]))
    rows = live[order]
    skey = key(rows, 0, 0)
    q = np.concatenate([key(focal, dx, dy)
                        for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    lo = np.searchsorted(skey, q, "left")
    cnt = np.searchsorted(skey, q, "right") - lo
    f = np.repeat(np.tile(focal, 9), cnt)
    nb = rows[np.repeat(lo, cnt) + np.arange(cnt.sum())
              - np.repeat(np.cumsum(cnt) - cnt, cnt)]
    by = np.lexsort((idx[nb], f))
    f, nb = f[by], nb[by]
    dx, dy = x[nb] - x[f], y[nb] - y[f]
    d = np.hypot(dx, dy)
    hit = (d > 0.0) & (d < widest + radius[f])
    f, nb, dx, dy, d = f[hit], nb[hit], dx[hit], dy[hit], d[hit]

    ov = (radius[nb] + radius[f]) - d
    w, has_w = weight(idx[f], idx[nb])
    att = np.where(has_w, np.abs(ov) * w / perimeter[f], ov)
    rep = ov > 0.0
    # bincount adds its weights in input order, so each sum is the
    # sequential one jacobi_step computes
    fo = np.searchsorted(focal, f)
    m = len(focal)
    xr = np.bincount(fo[rep], -(ov * dx / d)[rep], m)
    yr = np.bincount(fo[rep], -(ov * dy / d)[rep], m)
    xa = np.bincount(fo[~rep], (att * dx / d)[~rep], m)
    ya = np.bincount(fo[~rep], (att * dy / d)[~rep], m)
    mind = np.full(m, np.inf)
    np.minimum.at(mind, fo, d)
    closest = np.where(mind > widest, widest, mind)

    rd, ad = np.hypot(xr, yr), np.hypot(xa, ya)
    clamp = rd > closest
    xr = np.where(clamp, closest * xr / (rd + 1.0), xr)
    yr = np.where(clamp, closest * yr / (rd + 1.0), yr)
    rd = np.where(clamp, closest, rd)
    aclamp = ad > closest
    xt = np.where(rd > 0.0,
                  (1.0 - ratio) * xr + ratio * (rd * xa / (ad + 1.0)),
                  np.where(aclamp, closest * xa / (ad + 1.0), xa))
    yt = np.where(rd > 0.0,
                  (1.0 - ratio) * yr + ratio * (rd * ya / (ad + 1.0)),
                  np.where(aclamp, closest * ya / (ad + 1.0), ya))
    return x[focal] + friction * xt, y[focal] + friction * yt


def _edge_weights(idx, edges):
    """Lookup ``(pf, pn) -> (weight, is an edge)`` over ``edges``.
    Region indices are ranked among ``idx`` so that one int64 key
    orders the pairs; a sentinel key ends the sorted edges."""
    uniq = np.unique(idx)
    ef, en = (np.asarray(a, dtype="i8") for a in edges[:2])
    rf, rn = (np.searchsorted(uniq, a).clip(max=len(uniq) - 1)
              for a in (ef, en))
    known = (uniq[rf] == ef) & (uniq[rn] == en)
    ekey = rf[known] * len(uniq) + rn[known]
    order = np.argsort(ekey, kind="stable")
    ekey = np.r_[ekey[order], np.iinfo("i8").max]
    ew = np.r_[np.asarray(edges[2], dtype="f8")[known][order], 0.0]

    def weight(pf, pn):
        pkey = (np.searchsorted(uniq, pf) * len(uniq)
                + np.searchsorted(uniq, pn))
        at = np.searchsorted(ekey, pkey)
        return ew[at], ekey[at] == pkey
    return weight


def jacobi_step(x: np.ndarray, y: np.ndarray, radius: np.ndarray,
                perimeter: np.ndarray, wmap: dict,
                ratio: float, friction: float, widest: float):
    """One synchronous (Jacobi) iteration — all forces computed against the
    same snapshot, then all positions updated. The scalar oracle the
    tests hold ``halo_step`` and the distributed scalable mode to."""
    n = len(x)
    nx, ny = x.copy(), y.copy()
    for idx in range(n):
        xrepel = yrepel = xattract = yattract = 0.0
        closest = widest
        dx = x - x[idx]
        dy = y - y[idx]
        dist = np.hypot(dx, dy)
        mask = (dist > 0.0) & (dist < widest + radius[idx])
        if mask.any():
            nd = dist[mask]
            closest = widest if nd.min() > widest else float(nd.min())
            overlap = (radius[mask] + radius[idx]) - nd
            for k, ov, d in zip(np.nonzero(mask)[0], overlap, nd):
                if ov > 0.0:
                    xrepel -= ov * dx[k] / d
                    yrepel -= ov * dy[k] / d
                else:
                    w = wmap.get((idx, int(k)))
                    if w is not None:
                        ov = abs(ov) * w / perimeter[idx]
                    xattract += ov * dx[k] / d
                    yattract += ov * dy[k] / d
        attract_dist = np.hypot(xattract, yattract)
        repel_dist = np.hypot(xrepel, yrepel)
        if repel_dist > closest:
            xrepel = closest * xrepel / (repel_dist + 1.0)
            yrepel = closest * yrepel / (repel_dist + 1.0)
            repel_dist = closest
        if repel_dist > 0.0:
            xtotal = (1.0 - ratio) * xrepel + ratio * (
                repel_dist * xattract / (attract_dist + 1.0))
            ytotal = (1.0 - ratio) * yrepel + ratio * (
                repel_dist * yattract / (attract_dist + 1.0))
        else:
            if attract_dist > closest:
                xattract = closest * xattract / (attract_dist + 1.0)
                yattract = closest * yattract / (attract_dist + 1.0)
            xtotal, ytotal = xattract, yattract
        nx[idx] = x[idx] + friction * xtotal
        ny[idx] = y[idx] + friction * ytotal
    return nx, ny
