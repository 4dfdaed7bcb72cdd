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
``halo_step`` is the scalable mode's synchronous (Jacobi) step over a
bucket of grid cells, vectorised; ``jacobi_step`` is its scalar oracle.
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


def halo_step(gx, gy, owned, idx, x, y, radius, perimeter, edges,
              ratio: float, friction: float, widest: float):
    """One synchronous (Jacobi) step for the regions owned by a set of
    halo cells — the scalable mode's force kernel, vectorised.

    Each row is one region's copy in one grid cell ``(gx, gy)`` of side
    2·widest, the largest interaction distance: its home cell
    (``owned``) or one of the 8 cells around it (a ghost). Every cell
    present must hold all of its rows, so an owned region sees every
    region it can interact with in its home cell. ``perimeter`` is read
    on owned rows only; ``edges`` is the owned regions' Queen borders as
    ``(focal, neighbor, weight)`` region indices.

    The arithmetic is ``jacobi_step``'s, term for term, and each
    region's forces are summed in ascending neighbour ``idx``, so the
    result does not depend on how cells are grouped. Returns the new
    ``(x, y)`` of the owned rows, in their input order."""
    idx = np.asarray(idx, dtype="i8")
    if not np.any(owned):
        return np.empty(0), np.empty(0)
    order = np.lexsort((idx, gy, gx))
    gx, gy, idx = np.asarray(gx)[order], np.asarray(gy)[order], idx[order]
    owned = np.asarray(owned, dtype=bool)[order]
    x, y, radius, perimeter = (np.asarray(a, dtype="f8")[order]
                               for a in (x, y, radius, perimeter))
    # pairs: every owned row against every row of its cell, the
    # neighbours of one focal in ascending idx
    first = np.r_[True, (gx[1:] != gx[:-1]) | (gy[1:] != gy[:-1])]
    start = np.flatnonzero(first)
    cell = np.cumsum(first) - 1
    size = np.diff(np.r_[start, len(idx)])
    foc = np.flatnonzero(owned)
    cnt = size[cell[foc]]
    f = np.repeat(foc, cnt)
    nb = (np.repeat(start[cell[foc]], cnt) + np.arange(cnt.sum())
          - np.repeat(np.cumsum(cnt) - cnt, cnt))
    dx, dy = x[nb] - x[f], y[nb] - y[f]
    d = np.hypot(dx, dy)
    keep = (d > 0.0) & (d < widest + radius[f])
    f, nb, dx, dy, d = f[keep], nb[keep], dx[keep], dy[keep], d[keep]

    ov = (radius[nb] + radius[f]) - d
    w, has_w = _edge_weights(idx, idx[f], idx[nb], edges)
    att = np.where(has_w, np.abs(ov) * w / perimeter[f], ov)
    rep = ov > 0.0
    # bincount adds its weights in input order, so each sum is the
    # sequential one jacobi_step computes
    fo = (np.cumsum(owned) - 1)[f]
    m = len(foc)
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
    back = np.argsort(order[foc])
    return (x[foc] + friction * xt)[back], (y[foc] + friction * yt)[back]


def _edge_weights(idx, pf, pn, edges):
    """Weight of each (pf, pn) pair in ``edges`` and whether it is an
    edge at all. Region indices are ranked among ``idx`` so that one
    int64 key orders the pairs; a sentinel key ends the sorted edges."""
    uniq = np.unique(idx)
    ef, en = (np.asarray(a, dtype="i8") for a in edges[:2])
    rf, rn = (np.searchsorted(uniq, a).clip(max=len(uniq) - 1)
              for a in (ef, en))
    known = (uniq[rf] == ef) & (uniq[rn] == en)
    ekey = rf[known] * len(uniq) + rn[known]
    order = np.argsort(ekey, kind="stable")
    ekey = np.r_[ekey[order], np.iinfo("i8").max]
    ew = np.r_[np.asarray(edges[2], dtype="f8")[known][order], 0.0]
    pkey = np.searchsorted(uniq, pf) * len(uniq) + np.searchsorted(uniq, pn)
    at = np.searchsorted(ekey, pkey)
    return ew[at], ekey[at] == pkey


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
