"""Independent numpy oracles for the generated lattice maps.

Nothing here imports the program: every expected value is derived from
the lattice the generator built (``inputs.LatticeMap``). Oracles are
computed once per seed, before any timing starts.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from inputs import ISO_PAIRS, EtlInputs, LatticeMap


def _shoelace(rings):
    x, y = rings[..., 0], rings[..., 1]
    cross = x[:, :-1] * y[:, 1:] - x[:, 1:] * y[:, :-1]
    return cross, 0.5 * cross.sum(axis=1)


def areas(m: LatticeMap) -> np.ndarray:
    return np.abs(_shoelace(m.rings)[1])


def centroids(m: LatticeMap):
    cross, a = _shoelace(m.rings)
    x, y = m.rings[..., 0], m.rings[..., 1]
    cx = ((x[:, :-1] + x[:, 1:]) * cross).sum(axis=1) / (6.0 * a)
    cy = ((y[:, :-1] + y[:, 1:]) * cross).sum(axis=1) / (6.0 * a)
    return cx, cy


def _polyline_len(pts):
    d = np.diff(pts, axis=-2)
    return np.hypot(d[..., 0], d[..., 1]).sum(axis=-1)


def perimeters(m: LatticeMap) -> np.ndarray:
    return _polyline_len(m.rings)


@dataclass
class Borders:
    """Directed Queen edge list of a lattice map."""

    focal: np.ndarray
    neighbor: np.ndarray
    weight: np.ndarray

    @property
    def count(self) -> int:
        return len(self.focal)

    @property
    def total_weight(self) -> float:
        return float(self.weight.sum())


def borders(m: LatticeMap) -> Borders:
    """Each cell's Queen neighbours are its eight lattice neighbours; an
    edge neighbour shares a whole subdivided edge (weight = its length),
    a diagonal neighbour one corner (weight 0)."""
    s, rows = m.subdiv, m.rows
    bottom = _polyline_len(m.rings[:, 0:s + 1])      # shared with (i, j-1)
    right = _polyline_len(m.rings[:, s:2 * s + 1])   # shared with (i+1, j)
    k = np.arange(m.n)
    i, j = k // rows, k % rows
    fs, ns, ws = [], [], []
    for di in (-1, 0, 1):
        for dj in (-1, 0, 1):
            if di == 0 and dj == 0:
                continue
            ok = ((i + di >= 0) & (i + di < m.cols)
                  & (j + dj >= 0) & (j + dj < rows))
            f = k[ok]
            n = (i[ok] + di) * rows + (j[ok] + dj)
            if (di, dj) == (0, -1):
                w = bottom[f]
            elif (di, dj) == (0, 1):
                w = bottom[n]
            elif (di, dj) == (1, 0):
                w = right[f]
            elif (di, dj) == (-1, 0):
                w = right[n]
            else:
                w = np.zeros(len(f))
            fs.append(f)
            ns.append(n)
            ws.append(w)
    return Borders(np.concatenate(fs), np.concatenate(ns), np.concatenate(ws))


def olson_total_area(m: LatticeMap, values: np.ndarray) -> float:
    """Sum of Olson-scaled areas: each region is scaled by
    sqrt(density / max density), so its new area is value / max density."""
    a = areas(m)
    return float(values.sum() / (values / a).max())


def dorling_k(m: LatticeMap, values: np.ndarray, b: Borders) -> float:
    """Radius coefficient k = sum(centroid distance) / sum(unit radii)
    over the directed edge list."""
    cx, cy = centroids(m)
    ur = np.sqrt(values / math.pi)
    dist = np.hypot(cx[b.neighbor] - cx[b.focal], cy[b.neighbor] - cy[b.focal])
    return float(dist.sum() / (ur[b.focal] + ur[b.neighbor]).sum())


def _grid_pairs(x, y, cell):
    """All ordered pairs (f, n), f != n, in the same or an adjacent grid
    cell of side ``cell``."""
    gx = np.floor(x / cell).astype("i8")
    gy = np.floor(y / cell).astype("i8")
    span = int(gy.max() - gy.min()) + 3
    key = (gx - gx.min() + 1) * span + (gy - gy.min() + 1)
    order = np.argsort(key, kind="stable")
    skey = key[order]
    fs, ns = [], []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            probe = key + dx * span + dy
            lo = np.searchsorted(skey, probe, "left")
            cnt = np.searchsorted(skey, probe, "right") - lo
            f = np.repeat(np.arange(len(x)), cnt)
            start = np.repeat(lo, cnt)
            within = np.arange(cnt.sum()) - np.repeat(np.cumsum(cnt) - cnt, cnt)
            fs.append(f)
            ns.append(order[start + within])
    f, n = np.concatenate(fs), np.concatenate(ns)
    keep = f != n
    return f[keep], n[keep]


def jacobi(m: LatticeMap, values: np.ndarray, b: Borders, iterations: int,
           ratio: float = 0.4, friction: float = 0.5):
    """Positions after ``iterations`` synchronous Dorling steps, with every
    region's forces computed against the same snapshot. Candidates come
    from a grid of cell 2 * widest, the largest interaction distance."""
    k = dorling_k(m, values, b)
    ur = np.sqrt(values / math.pi)
    r = ur * k
    widest = float(ur.max()) * k
    per = perimeters(m)
    x, y = centroids(m)
    wkey = dict(zip(zip(b.focal.tolist(), b.neighbor.tolist()),
                    b.weight.tolist()))
    for _ in range(iterations):
        f, n = _grid_pairs(x, y, 2.0 * widest)
        d = np.hypot(x[n] - x[f], y[n] - y[f])
        keep = (d > 0) & (d < widest + r[f])
        f, n, d = f[keep], n[keep], d[keep]
        ov = r[n] + r[f] - d
        dxu = (x[n] - x[f]) / d
        dyu = (y[n] - y[f]) / d
        w = np.array([wkey.get(p, np.nan)
                      for p in zip(f.tolist(), n.tolist())], dtype="f8")
        att = np.where(np.isnan(w), ov, np.abs(ov) * np.nan_to_num(w) / per[f])
        rep = ov > 0
        xr = np.bincount(f, np.where(rep, -ov * dxu, 0.0), len(x))
        yr = np.bincount(f, np.where(rep, -ov * dyu, 0.0), len(x))
        xa = np.bincount(f, np.where(rep, 0.0, att * dxu), len(x))
        ya = np.bincount(f, np.where(rep, 0.0, att * dyu), len(x))
        mind = np.full(len(x), np.inf)
        np.minimum.at(mind, f, d)
        closest = np.where(mind > widest, widest, mind)
        rd, ad = np.hypot(xr, yr), np.hypot(xa, ya)
        clamp = rd > closest
        xr2 = np.where(clamp, closest * xr / (rd + 1.0), xr)
        yr2 = np.where(clamp, closest * yr / (rd + 1.0), yr)
        rd2 = np.where(clamp, closest, rd)
        aclamp = ad > closest
        xa_c = np.where(aclamp, closest * xa / (ad + 1.0), xa)
        ya_c = np.where(aclamp, closest * ya / (ad + 1.0), ya)
        xt = np.where(rd2 > 0, (1 - ratio) * xr2 + ratio * (rd2 * xa / (ad + 1.0)), xa_c)
        yt = np.where(rd2 > 0, (1 - ratio) * yr2 + ratio * (rd2 * ya / (ad + 1.0)), ya_c)
        x, y = x + friction * xt, y + friction * yt
    return x, y, r


def etl_population(e: EtlInputs) -> np.ndarray:
    """Population after the replacement layer: its revision wins."""
    pop = e.base_pop.copy()
    pop[e.v2_idx] = e.v2_pop
    return pop


def etl_rows(m: LatticeMap, e: EtlInputs) -> dict:
    """Expected ETL output: id -> (parent, alpha-2 code, population).
    Aggregates keep their alpha-3 code."""
    iso2 = dict(ISO_PAIRS)
    pop = etl_population(e)
    return {m.ids[k]: (e.parent[k], iso2.get(e.iso3[k], e.iso3[k]), int(pop[k]))
            for k in range(m.n)}
