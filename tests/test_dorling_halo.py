"""The scalable mode's vectorised force kernel (dorling_core.halo_step)
against the scalar Jacobi oracle (dorling_core.jacobi_step), without
Spark: every region is placed in its home cell and, as a ghost, in the
8 cells around it, cells are dealt into buckets, and the kernel runs
once per bucket."""

import numpy as np
import pytest

from ecmm428_pycart_spark.plans import dorling_core

RATIO, FRICTION = 0.4, 0.5
_OFFSETS = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]


def _jittered_map(seed, side, extras=True):
    """A jittered side × side lattice of circles, region indices shuffled
    against the lattice order. Orthogonal neighbours are Queen edges
    with a positive weight, diagonal ones corner-only contacts (weight
    0). ``extras`` adds an island far away (no edges) and a twin whose
    centroid coincides with region 0's."""
    rng = np.random.default_rng(seed)
    n = side * side
    gx, gy = np.divmod(np.arange(n), side)
    x = gx + rng.uniform(-0.3, 0.3, n)
    y = gy + rng.uniform(-0.3, 0.3, n)
    radius = rng.uniform(0.2, 0.9, n)
    perimeter = rng.uniform(3.5, 4.5, n)
    edges = []
    for k in range(n):
        for dx, dy in _OFFSETS:
            i, j = gx[k] + dx, gy[k] + dy
            if (dx or dy) and 0 <= i < side and 0 <= j < side:
                w = 0.0 if dx and dy else float(rng.uniform(0.5, 1.2))
                edges.append((k, i * side + j, w))
    if extras:
        x = np.r_[x, side + 20.0, x[0]]
        y = np.r_[y, side + 20.0, y[0]]
        radius = np.r_[radius, 0.5, 0.4]
        perimeter = np.r_[perimeter, 4.0, 3.0]
        edges += [(n + 1, 0, 0.7), (0, n + 1, 0.7)]
        n += 2
    perm = rng.permutation(n)          # lattice position -> region index
    back = np.argsort(perm)
    edges = [(int(perm[f]), int(perm[b]), w) for f, b, w in edges]
    return (x[back], y[back], radius[back], perimeter[back], edges)


def _halo_steps(x, y, radius, perimeter, edges, widest, nbuckets,
                iterations):
    """``iterations`` kernel steps over halo rows dealt into
    ``nbuckets`` buckets; returns the new positions by region index."""
    ef, en, ew = (np.array(c) for c in zip(*edges))
    idx = np.arange(len(x))
    for _ in range(iterations):
        home_x = np.floor(x / (2.0 * widest)).astype("i8")
        home_y = np.floor(y / (2.0 * widest)).astype("i8")
        gx = np.concatenate([home_x + dx for dx, _ in _OFFSETS])
        gy = np.concatenate([home_y + dy for _, dy in _OFFSETS])
        owned = np.concatenate([np.full(len(x), dx == dy == 0)
                                for dx, dy in _OFFSETS])
        rows = np.tile(idx, len(_OFFSETS))
        bucket = (gx * 7919 + gy * 104729) % nbuckets
        nx, ny = x.copy(), y.copy()
        for b in range(nbuckets):
            sel = bucket == b
            mine = rows[sel & owned]
            keep = np.isin(ef, mine)
            got = dorling_core.halo_step(
                gx[sel], gy[sel], owned[sel], rows[sel], x[rows[sel]],
                y[rows[sel]], radius[rows[sel]],
                np.where(owned[sel], perimeter[rows[sel]], np.nan),
                (ef[keep], en[keep], ew[keep]), RATIO, FRICTION, widest)
            nx[mine], ny[mine] = got
        x, y = nx, ny
    return x, y


def _jacobi(x, y, radius, perimeter, edges, widest, iterations):
    wmap = {(f, b): w for f, b, w in edges}
    for _ in range(iterations):
        x, y = dorling_core.jacobi_step(x, y, radius, perimeter, wmap,
                                        RATIO, FRICTION, widest)
    return x, y


@pytest.mark.parametrize("seed,side,extras", [
    (1, 2, False), (2, 2, True), (3, 6, True), (4, 20, True),
    (5, 40, False)])
@pytest.mark.parametrize("nbuckets", [1, 3, 7])
def test_halo_step_matches_jacobi_step(seed, side, extras, nbuckets):
    """4–1,600 regions, two iterations, any bucketing: the kernel equals
    the scalar oracle to 1e-12."""
    x, y, radius, perimeter, edges = _jittered_map(seed, side, extras)
    widest = float(radius.max())
    want = _jacobi(x, y, radius, perimeter, edges, widest, 2)
    got = _halo_steps(x, y, radius, perimeter, edges, widest, nbuckets, 2)
    for g, w in zip(got, want):
        np.testing.assert_allclose(g, w, rtol=0, atol=1e-12)


def test_halo_step_clamp_branches():
    """Both clamps of the update: region 0 is buried in region 1 (the
    repel force exceeds the closest distance), region 2 has three
    disjoint non-neighbours to its right and no overlap (the attraction
    exceeds the closest distance). Region 6 only sets widest = 2."""
    x = np.array([0.0, 0.1, 10.0, 11.5, 11.6, 11.7, 100.0])
    y = np.array([0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0])
    radius = np.array([1.0, 1.0, 0.1, 0.1, 0.1, 0.1, 2.0])
    perimeter = np.full(7, 4.0)
    edges = [(0, 1, 1.0), (1, 0, 1.0)]
    got = _halo_steps(x, y, radius, perimeter, edges, 2.0, 1, 1)
    want = _jacobi(x, y, radius, perimeter, edges, 2.0, 1)
    for g, w in zip(got, want):
        np.testing.assert_allclose(g, w, rtol=0, atol=1e-12)
    # repel clamp: |repel| = 1.9 > closest = 0.1, no attraction
    assert got[0][0] == pytest.approx(
        -FRICTION * (1 - RATIO) * 0.1 * 1.9 / 2.9, abs=1e-15)
    # attract clamp: |attract| = 1.3 + 1.4 + 1.5 > closest = 1.5, pushing
    # region 2 away from its non-neighbours
    assert got[0][2] == pytest.approx(
        10.0 - FRICTION * 1.5 * 4.2 / 5.2, abs=1e-12)


def test_halo_step_without_owned_rows():
    """A bucket that holds only ghosts moves nothing."""
    got = dorling_core.halo_step(
        [0], [0], [False], [3], [1.0], [1.0], [0.5], [np.nan],
        ([], [], []), RATIO, FRICTION, 0.5)
    assert [len(a) for a in got] == [0, 0]
