"""Seeded input generator for the cartogram benchmark.

Every map is a jittered lattice of ``cols x rows`` cells. Lattice corners
are jittered, and every cell edge is subdivided into ``subdiv`` segments
whose interior points wiggle perpendicular to the edge, so each polygon
has ``4 * subdiv`` vertices. Neighbouring cells take the coordinates of
a shared corner or edge point from the same array, and every coordinate
is written with six decimals, so shared vertices parse to identical
doubles on both sides: the Queen neighbours of a cell are exactly its
eight lattice neighbours, which is what the oracles rely on.

Coordinates are kept as the exact doubles the program will parse
(``round(v, 6)`` formats back to the same six-decimal text), so the
numpy oracles and the program see the same numbers.
"""

from __future__ import annotations

import csv
from dataclasses import dataclass

import numpy as np

# Small ISO 3166 alpha-3 -> alpha-2 table owned by the benchmark, so the
# ETL oracle does not read the program's own mapping. The two World Bank
# aggregates have no alpha-2 code and pass through unmapped.
ISO_PAIRS = [
    ("AUS", "AU"), ("AUT", "AT"), ("BEL", "BE"), ("BRA", "BR"),
    ("CAN", "CA"), ("CHE", "CH"), ("CHL", "CL"), ("CHN", "CN"),
    ("DEU", "DE"), ("DNK", "DK"), ("EGY", "EG"), ("ESP", "ES"),
    ("FIN", "FI"), ("FRA", "FR"), ("GBR", "GB"), ("GRC", "GR"),
    ("IND", "IN"), ("IRL", "IE"), ("ITA", "IT"), ("JPN", "JP"),
    ("KEN", "KE"), ("KOR", "KR"), ("MEX", "MX"), ("NGA", "NG"),
    ("NLD", "NL"), ("NOR", "NO"), ("NZL", "NZ"), ("PER", "PE"),
    ("POL", "PL"), ("PRT", "PT"), ("SWE", "SE"), ("TUR", "TR"),
    ("USA", "US"), ("ZAF", "ZA"),
]
AGGREGATES = ["WLD", "EUU"]


@dataclass
class LatticeMap:
    """A generated map: ``rings[k]`` is the closed ring of region ``k``
    (cell ``(k // rows, k % rows)``), ``values[k]`` its population."""

    cols: int
    rows: int
    subdiv: int
    rings: np.ndarray      # (n, 4 * subdiv + 1, 2) float64, closed
    values: np.ndarray     # (n,) int64
    ids: list[str]

    @property
    def n(self) -> int:
        return self.cols * self.rows


def _edge_points(rng, a, b, subdiv, wiggle):
    """Interior points of the edges ``a -> b`` (arrays of shape (..., 2)):
    evenly spaced along the edge, each pushed along the edge normal by at
    most ``wiggle`` of a sub-segment length, so the polyline never folds
    back on itself or crosses a neighbouring edge."""
    t = np.arange(1, subdiv) / subdiv
    d = b - a
    normal = np.stack([-d[..., 1], d[..., 0]], axis=-1)
    base = a[..., None, :] + t[:, None] * d[..., None, :]
    off = rng.uniform(-wiggle, wiggle, base.shape[:-1]) / subdiv
    return base + off[..., None] * normal[..., None, :]


def lattice_map(seed: int, cols: int, rows: int, subdiv: int,
                jitter: float = 0.25, wiggle: float = 0.3) -> LatticeMap:
    """Generate the jittered, subdivided lattice map for ``seed``."""
    rng = np.random.default_rng(seed)
    gx, gy = np.meshgrid(np.arange(cols + 1), np.arange(rows + 1),
                         indexing="ij")
    corners = np.stack([gx, gy], axis=-1).astype("f8") + 1.0
    corners += rng.uniform(-jitter, jitter, corners.shape)
    corners = np.round(corners, 6)
    h = np.round(_edge_points(rng, corners[:-1, :], corners[1:, :],
                              subdiv, wiggle), 6)   # (cols, rows+1, s-1, 2)
    v = np.round(_edge_points(rng, corners[:, :-1], corners[:, 1:],
                              subdiv, wiggle), 6)   # (cols+1, rows, s-1, 2)
    c00 = corners[:-1, :-1, None, :]
    c10 = corners[1:, :-1, None, :]
    c11 = corners[1:, 1:, None, :]
    c01 = corners[:-1, 1:, None, :]
    rings = np.concatenate([
        c00, h[:, :-1], c10, v[1:, :], c11,
        h[:, 1:, ::-1], c01, v[:-1, :, ::-1], c00,
    ], axis=2).reshape(cols * rows, 4 * subdiv + 1, 2)
    values = np.floor(10.0 ** rng.uniform(5.0, 6.0, cols * rows)).astype("i8")
    ids = [f"R{k:06d}" for k in range(cols * rows)]
    return LatticeMap(cols, rows, subdiv, rings, values, ids)


def ring_wkt(ring: np.ndarray) -> str:
    return "POLYGON ((" + ", ".join(
        f"{x:.6f} {y:.6f}" for x, y in ring.tolist()) + "))"


def write_map_csv(m: LatticeMap, path: str) -> None:
    """Region table: ``id,value,geometry`` with WKT polygons."""
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["id", "value", "geometry"])
        for rid, val, ring in zip(m.ids, m.values.tolist(), m.rings):
            w.writerow([rid, val, ring_wkt(ring)])


def _thousands(v: int) -> str:
    return f"{v:,}"


@dataclass
class EtlInputs:
    """The ``main.py``-style population tables for a map.

    ``pop.csv`` lists, in file order, a ``Region`` header row followed by
    its ``Country`` rows; populations carry thousands separators.
    ``pop_v2.csv`` is a replacement layer that re-issues some countries
    with a newer revision and a new population. ``iso3`` codes map to
    alpha-2 through ``ISO_PAIRS``; aggregates stay unmapped."""

    iso3: list[str]
    parent: list[str]
    base_pop: np.ndarray
    v2_idx: np.ndarray
    v2_pop: np.ndarray


def etl_inputs(seed: int, m: LatticeMap) -> EtlInputs:
    rng = np.random.default_rng(seed + 7919)
    codes = [a for a, _ in ISO_PAIRS] + AGGREGATES
    iso3 = [codes[int(i)] for i in rng.integers(0, len(codes), m.n)]
    # Regions group whole lattice columns, so the running fill has to
    # carry each header over a run of country rows.
    parent = [f"Region{(k // m.rows) // 2:03d}" for k in range(m.n)]
    v2_idx = np.sort(rng.choice(m.n, size=max(1, m.n // 8), replace=False))
    v2_pop = np.floor(10.0 ** rng.uniform(5.0, 6.0, len(v2_idx))).astype("i8")
    return EtlInputs(iso3, parent, m.values, v2_idx, v2_pop)


def write_etl_csvs(m: LatticeMap, e: EtlInputs, pop_path: str,
                   v2_path: str) -> None:
    with open(pop_path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["Geography", "name", "iso3", "Population"])
        last = None
        for k in range(m.n):
            if e.parent[k] != last:
                last = e.parent[k]
                w.writerow(["Region", last, "", ""])
            w.writerow(["Country", m.ids[k], e.iso3[k],
                        _thousands(int(e.base_pop[k]))])
    with open(v2_path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["Geography", "name", "iso3", "Population"])
        for k, pop in zip(e.v2_idx.tolist(), e.v2_pop.tolist()):
            w.writerow(["Country", m.ids[k], e.iso3[k], _thousands(pop)])
