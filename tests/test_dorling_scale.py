"""Scalable-mode Dorling at a few hundred regions: invariants + exact
match against the local Jacobi oracle (SURVEY.md §4.3.2 mode='scalable')."""

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
    grid_rows = sorted(grid_df.collect(), key=lambda r: r["region_idx"])
    cents, values, perims, edges, radii = _local(grid_rows)
    x = np.array([c[0] for c in cents])
    y = np.array([c[1] for c in cents])
    wmap = {(i, j): w for i, j, w in edges}
    widest = radii.max()
    iters = 3
    for _ in range(iters):
        x, y = dorling_core.jacobi_step(x, y, radii, perims, wmap,
                                        ratio=0.4, friction=0.5, widest=widest)

    cart = Cartogram(grid_df, "value", "name", idx_field="region_idx")
    out = {r["region_idx"]: r
           for r in cart.dorling(iterations=iters, mode="scalable").collect()}
    assert len(out) == N_SIDE * N_SIDE
    ex = np.array([out[i]["cx"] for i in range(len(x))])
    ey = np.array([out[i]["cy"] for i in range(len(y))])
    np.testing.assert_allclose(ex, x, atol=1e-8)
    np.testing.assert_allclose(ey, y, atol=1e-8)
    # invariants: radii preserved exactly, no NaNs, bounded displacement
    for i in range(len(x)):
        assert out[i]["radius"] == pytest.approx(radii[i], rel=1e-9)
        assert abs(out[i]["cx"] - cents[i][0]) < iters * widest


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
    """Property of the exchange: for every pair with dist < widest + r_i
    the neighbour has a row in the focal's home cell, and so in its
    bucket; every region is owned exactly once. Points sit on cell
    boundaries and at negative coordinates too."""
    from ecmm428_pycart_spark.plans.cartogram import _halo

    rng = np.random.default_rng(5)
    n = 400
    radius = rng.uniform(0.05, 0.5, n)
    widest = float(radius.max())
    size = 2.0 * widest
    x = rng.uniform(-6.0, 6.0, n)
    y = rng.uniform(-6.0, 6.0, n)
    x[:40] = np.round(x[:40] / size) * size        # on a cell edge
    y[20:60] = np.round(y[20:60] / size) * size
    cur = spark.createDataFrame(
        [(i, float(x[i]), float(y[i]), float(radius[i]), 4.0)
         for i in range(n)],
        "region_idx long, cx double, cy double, radius double, "
        "perimeter double")
    rows = cur.select(_halo(cur.schema, size, 7)).select(
        "region_idx", "gx", "gy", "owned", "_bucket", "perimeter").collect()
    home = {r["region_idx"]: (r["gx"], r["gy"], r["_bucket"])
            for r in rows if r["owned"]}
    assert len(home) == n and sum(r["owned"] for r in rows) == n
    assert all(r["perimeter"] is None for r in rows if not r["owned"])
    where = {(r["region_idx"], r["gx"], r["gy"]): r["_bucket"] for r in rows}
    d = np.hypot(x[:, None] - x[None, :], y[:, None] - y[None, :])
    pairs = np.argwhere((d > 0) & (d < widest + radius[:, None]))
    assert len(pairs) > n
    for f, nb in pairs:
        gx, gy, bucket = home[f]
        assert where.get((nb, gx, gy)) == bucket, (f, nb)


def test_dorling_lazy_checkpoints_match_eager_and_run_fewer_jobs(
        spark, grid_df, monkeypatch):
    """r14 "fewer jobs" lever (plans/cartogram._ckpt): lazy
    localCheckpoints compile the identical physical plans (same
    truncation, same partitioning) but defer materialization to the
    terminal action, collapsing the per-stage checkpoint jobs into
    one. Output must match the eager path to the last ULP (approx at
    1e-12: the calibration's float sums are fetch-order sensitive;
    radii exact), and the lazy path must demonstrably run FEWER Spark
    jobs."""
    from ecmm428_pycart_spark.plans.cartogram import Cartogram

    def run(tag, eager_off):
        if eager_off:
            monkeypatch.setenv("SPARK_GRAFT_DORLING_LAZYCKPT_OFF", "1")
        else:
            monkeypatch.delenv("SPARK_GRAFT_DORLING_LAZYCKPT_OFF",
                               raising=False)
        sc = spark.sparkContext
        sc.setJobGroup(tag, tag)
        try:
            cart = Cartogram(grid_df, "value", "name",
                             idx_field="region_idx")
            rows = (cart.dorling(iterations=3, mode="scalable")
                    .select("name", "cx", "cy", "radius").collect())
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup(tag)
        return (sorted((r["name"], r["cx"], r["cy"], r["radius"])
                       for r in rows), len(jobs))

    lazy_rows, lazy_jobs = run("dorling-arm-lazy", eager_off=False)
    eager_rows, eager_jobs = run("dorling-arm-eager", eager_off=True)
    assert [r[0] for r in lazy_rows] == [r[0] for r in eager_rows]
    for (_, lx, ly, lr), (_, ex, ey, er) in zip(lazy_rows, eager_rows):
        assert lx == pytest.approx(ex, rel=1e-12, abs=1e-12)
        assert ly == pytest.approx(ey, rel=1e-12, abs=1e-12)
        assert lr == er
    # eager runs one blocking job per checkpoint (base, borders, the
    # weighted state, one per iteration) ON TOP of the jobs both arms
    # share (the regions checkpoint, the setup collect, one map stage
    # per exchange, the terminal action) — so the pin is strictly-fewer,
    # not an absolute count.
    assert lazy_jobs < eager_jobs, (
        f"lazy dorling must run fewer jobs ({lazy_jobs} vs {eager_jobs})")
