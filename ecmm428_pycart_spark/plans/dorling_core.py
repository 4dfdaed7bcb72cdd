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


def jacobi_step(x: np.ndarray, y: np.ndarray, radius: np.ndarray,
                perimeter: np.ndarray, wmap: dict,
                ratio: float, friction: float, widest: float):
    """One synchronous (Jacobi) iteration — all forces computed against the
    same snapshot, then all positions updated. Used by tests as the local
    oracle for the distributed scalable mode."""
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
