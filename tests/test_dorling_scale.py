"""Scalable-mode Dorling at a few hundred regions: invariants + exact
match against the local Jacobi oracle (SURVEY.md §4.3.2 mode='scalable'),
the halo exchange's coverage and the Spark jobs per call."""

import math

import numpy as np
import pytest

from ecmm428_pycart_spark import Cartogram, get_borders
from ecmm428_pycart_spark.geometry import core
from ecmm428_pycart_spark.plans import dorling_core

N_SIDE = 12  # 144 regions — the reference's demonstrated scale is ~370


@pytest.fixture(scope="module")
def grid_df(spark):
    rows = []
    for k in range(N_SIDE * N_SIDE):
        gx, gy = k % N_SIDE, k // N_SIDE
        ring = np.asarray([(gx, gy), (gx + 1, gy), (gx + 1, gy + 1),
                           (gx, gy + 1), (gx, gy)], dtype="f8")
        rows.append((k, f"r{k}", float((k % 13) + 1),
                     core.dumps(("Polygon", [ring]))))
    return spark.createDataFrame(
        rows, "region_idx long, name string, value double, geometry binary")


def _local(grid_rows):
    values = np.array([r["value"] for r in grid_rows])
    n = len(values)
    side = N_SIDE
    cents = [(r["region_idx"] % side + 0.5, r["region_idx"] // side + 0.5)
             for r in grid_rows]
    perims = np.full(n, 4.0)
    edges = []
    for k in range(n):
        gx, gy = k % side, k // side
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                if dx == dy == 0:
                    continue
                nx, ny = gx + dx, gy + dy
                if 0 <= nx < side and 0 <= ny < side:
                    j = ny * side + nx
                    w = 1.0 if abs(dx) + abs(dy) == 1 else 0.0
                    edges.append((k, j, w))
    D = sum(math.hypot(cents[j][0] - cents[i][0], cents[j][1] - cents[i][1])
            for i, j, _ in edges)
    R = sum(math.sqrt(values[i] / math.pi) + math.sqrt(values[j] / math.pi)
            for i, j, _ in edges)
    k_coef = D / R
    radii = np.sqrt(values / math.pi) * k_coef
    return cents, values, perims, edges, radii


def test_scalable_matches_jacobi_oracle_at_scale(spark, grid_df):
    """Iterations 1–5 (one and two halo exchanges) equal iterated
    ``jacobi_step`` bit for bit, started from the call's own centroids
    and radii; the radii match an independent calibration."""
    grid_rows = sorted(grid_df.collect(), key=lambda r: r["region_idx"])
    cents, values, perims, edges, radii = _local(grid_rows)
    wmap = {(i, j): w for i, j, w in edges}
    cart = Cartogram(grid_df, "value", "name", idx_field="region_idx")

    def run(iters):
        out = sorted(cart.dorling(iterations=iters, mode="scalable")
                     .select("region_idx", "cx", "cy", "radius").collect())
        assert [r[0] for r in out] == list(range(N_SIDE * N_SIDE))
        return tuple(np.array([r[c] for r in out]) for c in (1, 2, 3))

    x, y, radius = run(0)
    np.testing.assert_allclose(x, [c[0] for c in cents], atol=1e-12)
    np.testing.assert_allclose(y, [c[1] for c in cents], atol=1e-12)
    np.testing.assert_allclose(radius, radii, rtol=1e-9)
    widest = radius.max()
    for iters in range(1, 6):
        x, y = dorling_core.jacobi_step(x, y, radius, perims, wmap,
                                        ratio=0.4, friction=0.5,
                                        widest=widest)
        got = run(iters)
        assert np.array_equal(got[0], x) and np.array_equal(got[1], y)
        assert np.array_equal(got[2], radius)


def test_scalable_dorling_is_partition_independent(spark):
    """Forces are summed in ascending neighbour region_idx inside the
    kernel, so neither the bucket count (spark.sql.shuffle.partitions)
    nor AQE may move a single bit of the output. The map and its
    borders are materialised once, under the session's settings, so
    that only the Dorling call sees the changed ones."""
    from tests.test_dorling_reference import _SCHEMA, _lattice_rows

    regions = spark.createDataFrame(
        _lattice_rows(11, cols=12, rows=10, island=True),
        _SCHEMA).localCheckpoint(eager=True)
    borders = get_borders(regions, "name", idx_field="region_idx")[0] \
        .localCheckpoint(eager=True)

    def run(parts, aqe):
        conf = spark.conf
        saved = {k: conf.get(k) for k in ("spark.sql.shuffle.partitions",
                                          "spark.sql.adaptive.enabled")}
        conf.set("spark.sql.shuffle.partitions", str(parts))
        conf.set("spark.sql.adaptive.enabled", str(aqe).lower())
        try:
            out = Cartogram(regions, "Population", "name",
                            idx_field="region_idx", borders=borders) \
                .dorling(iterations=3, mode="scalable")
            return sorted(tuple(r) for r in out.select(
                "name", "cx", "cy", "radius").collect())
        finally:
            for k, v in saved.items():
                conf.set(k, v)

    base = run(1, True)
    assert len(base) == 121
    assert run(7, True) == base
    assert run(7, False) == base
    assert run(1, False) == base


def test_halo_holds_every_interacting_pair(spark):
    """Property of the exchange for K = 1, 2 and 4 Jacobi steps: every
    region within the K-step dependency radius R_K of a focal (R_1 =
    2·widest, R_K = R_(K−1) + 2·widest + 2(K−1)·m, m the per-step
    movement bound) has a row in the focal's home cell, and so in its
    bucket; every region is owned exactly once; ghosts carry the
    perimeter and weights they are stepped with, but no id or value.
    Points sit on cell boundaries and at negative coordinates too."""
    for steps in (1, 2, 4):
        _check_halo(spark, steps)


def _check_halo(spark, steps):
    from ecmm428_pycart_spark.plans.cartogram import _halo

    rng = np.random.default_rng(5 + steps)
    n = 400
    radius = rng.uniform(0.05, 0.5, n)
    widest = float(radius.max())
    reach = 2.0 * widest
    for k in range(2, steps + 1):
        reach += 2.0 * widest + 2.0 * (k - 1) * 0.5 * widest
    size = dorling_core.halo_reach(steps, 0.4, 0.5, widest)[0]
    span = 3.0 * size
    x = rng.uniform(-span, span, n)
    y = rng.uniform(-span, span, n)
    x[:40] = np.round(x[:40] / size) * size        # on a cell edge
    y[20:60] = np.round(y[20:60] / size) * size
    cur = spark.createDataFrame(
        [(i, f"r{i}", 1.0, float(x[i]), float(y[i]), float(radius[i]),
          4.0, [i + 1], [0.5]) for i in range(n)],
        "region_idx long, _id string, _value double, cx double, "
        "cy double, radius double, perimeter double, _nb array<bigint>, "
        "_wt array<double>")
    rows = cur.select(_halo(cur.schema, size, 7)).select(
        "region_idx", "gx", "gy", "owned", "_bucket", "_id", "_value",
        "perimeter", "_nb").collect()
    home = {r["region_idx"]: (r["gx"], r["gy"], r["_bucket"])
            for r in rows if r["owned"]}
    assert len(home) == n and sum(r["owned"] for r in rows) == n
    assert all(r["_id"] is None and r["_value"] is None
               and r["perimeter"] == 4.0 and r["_nb"] == [r["region_idx"] + 1]
               for r in rows if not r["owned"])
    where = {(r["region_idx"], r["gx"], r["gy"]): r["_bucket"] for r in rows}
    d = np.hypot(x[:, None] - x[None, :], y[:, None] - y[None, :])
    pairs = np.argwhere((d > 0) & (d < reach))
    assert len(pairs) > n
    for f, nb in pairs:
        gx, gy, bucket = home[f]
        assert where.get((nb, gx, gy)) == bucket, (f, nb)


def test_scalable_dorling_jobs_per_call(spark, grid_df):
    """Absolute pin on the Spark jobs of one scalable call plus its
    collect at 2 and 3 iterations, read through a job group: the
    set-up's jobs (regions checkpoint, the calibration collect with its
    adaptive stages, weights attach), one halo exchange of up to
    ``K_MAX`` Jacobi steps, and the collect; nothing is joined back.
    Measured 13–15: the adaptive jobs of the set-up vary by one or two
    from run to run, so the pin leaves one job of room. One exchange
    per iteration with a join-back after the loop ran 18–19."""
    from ecmm428_pycart_spark.plans.cartogram import K_MAX

    sc = spark.sparkContext

    def jobs(iterations):
        tag = f"dorling-jobs-{iterations}"
        sc.setJobGroup(tag, tag)
        try:
            Cartogram(grid_df, "value", "name", idx_field="region_idx") \
                .dorling(iterations=iterations, mode="scalable") \
                .select("name", "cx", "cy", "radius").collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(tag))

    assert K_MAX >= 3
    for iterations in (2, 3):
        assert jobs(iterations) <= 16, iterations
