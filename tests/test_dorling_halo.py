"""The scalable mode's vectorised K-step force kernel
(dorling_core.halo_step) against the scalar Jacobi oracle
(dorling_core.jacobi_step), and the movement bound that sizes its halo
(dorling_core.halo_reach), without Spark: every region is placed in its
home cell and, as a ghost, in the 8 cells around it, cells are dealt
into buckets, and the kernel runs once per bucket."""

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
                iterations, steps=2, ratio=RATIO, friction=FRICTION):
    """``iterations`` Jacobi steps, ``steps`` per exchange: each exchange
    places every region in its home cell and, as a ghost, in the 8
    cells around it (side ``halo_reach(k)[0]``), deals the cells into
    ``nbuckets`` buckets and runs the kernel once per bucket. Returns
    the new positions by region index and the home cell of every region
    at the start and the end of each exchange."""
    ef, en, ew = (np.array(c) for c in zip(*edges))
    idx = np.arange(len(x))
    done, homes = 0, []
    while done < iterations:
        k = min(steps, iterations - done)
        side = dorling_core.halo_reach(k, ratio, friction, widest)[0]
        home_x = np.floor(x / side).astype("i8")
        home_y = np.floor(y / side).astype("i8")
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
            keep = np.isin(ef, rows[sel])
            got = dorling_core.halo_step(
                gx[sel], gy[sel], owned[sel], rows[sel], x[rows[sel]],
                y[rows[sel]], radius[rows[sel]], perimeter[rows[sel]],
                (ef[keep], en[keep], ew[keep]), k, ratio, friction, widest)
            nx[mine], ny[mine] = got
        homes.append((home_x, home_y, np.floor(nx / side).astype("i8"),
                      np.floor(ny / side).astype("i8")))
        x, y = nx, ny
        done += k
    return x, y, homes


def _jacobi(x, y, radius, perimeter, edges, widest, iterations,
            ratio=RATIO, friction=FRICTION):
    wmap = {(f, b): w for f, b, w in edges}
    for _ in range(iterations):
        x, y = dorling_core.jacobi_step(x, y, radius, perimeter, wmap,
                                        ratio, friction, widest)
    return x, y


@pytest.mark.parametrize("seed,side,extras", [
    (1, 2, False), (2, 2, True), (3, 6, True), (4, 20, True),
    (5, 40, False)])
@pytest.mark.parametrize("nbuckets", [1, 3, 7])
def test_halo_step_matches_jacobi_step(seed, side, extras, nbuckets):
    """4–1,600 regions, any bucketing: K kernel steps on one exchange
    equal K iterated scalar steps bit for bit, K = 1..4, and so do five
    iterations at two steps per exchange. On the larger maps regions
    leave their home cell during the exchange."""
    x, y, radius, perimeter, edges = _jittered_map(seed, side, extras)
    widest = float(radius.max())
    want = [(x, y)]
    for _ in range(5):
        want.append(_jacobi(*want[-1], radius, perimeter, edges, widest, 1))
    crossed = False
    for k in range(1, 5):
        got_x, got_y, homes = _halo_steps(x, y, radius, perimeter, edges,
                                          widest, nbuckets, k, steps=k)
        assert np.array_equal(got_x, want[k][0])
        assert np.array_equal(got_y, want[k][1])
        crossed |= any((a != c).any() or (b != d).any()
                       for a, b, c, d in homes)
    assert crossed or side < 20
    got_x, got_y, _ = _halo_steps(x, y, radius, perimeter, edges, widest,
                                  nbuckets, 5, steps=2)
    assert np.array_equal(got_x, want[5][0])
    assert np.array_equal(got_y, want[5][1])


def _clamp_map():
    """Region 0 is buried in region 1 (the repel force exceeds the
    closest distance), region 2 has three disjoint non-neighbours to its
    right and no overlap (the attraction exceeds the closest distance).
    Region 6 only sets widest = 2."""
    x = np.array([0.0, 0.1, 10.0, 11.5, 11.6, 11.7, 100.0])
    y = np.array([0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0])
    radius = np.array([1.0, 1.0, 0.1, 0.1, 0.1, 0.1, 2.0])
    perimeter = np.full(7, 4.0)
    edges = [(0, 1, 1.0), (1, 0, 1.0)]
    return x, y, radius, perimeter, edges


def test_halo_step_clamp_branches():
    """Both clamps of the update, for K = 1..4 kernel steps."""
    x, y, radius, perimeter, edges = _clamp_map()
    for k in range(1, 5):
        got = _halo_steps(x, y, radius, perimeter, edges, 2.0, 1, k,
                          steps=k)[:2]
        want = _jacobi(x, y, radius, perimeter, edges, 2.0, k)
        for g, w in zip(got, want):
            assert np.array_equal(g, w)
        if k == 1:
            # repel clamp: |repel| = 1.9 > closest = 0.1, no attraction
            assert got[0][0] == pytest.approx(
                -FRICTION * (1 - RATIO) * 0.1 * 1.9 / 2.9, abs=1e-15)
            # attract clamp: |attract| = 1.3 + 1.4 + 1.5 > closest =
            # 1.5, pushing region 2 away from its non-neighbours
            assert got[0][2] == pytest.approx(
                10.0 - FRICTION * 1.5 * 4.2 / 5.2, abs=1e-12)


def test_halo_step_without_owned_rows():
    """A bucket that holds only ghosts moves nothing."""
    got = dorling_core.halo_step(
        [0], [0], [False], [3], [1.0], [1.0], [0.5], [4.0],
        ([], [], []), 2, RATIO, FRICTION, 0.5)
    assert [len(a) for a in got] == [0, 0]


@pytest.mark.parametrize("ratio", [0.0, 0.4, 1.0, 1.5])
@pytest.mark.parametrize("friction", [0.2, 0.5, 1.0])
def test_jacobi_step_moves_less_than_the_bound(ratio, friction):
    """The bound the halo is sized by: one Jacobi step moves a region
    by less than m = |friction|·(|1−ratio| + |ratio|)·widest, on
    jittered lattices with an island and a coincident twin and on the
    clamp map, over several steps."""
    maps = [_jittered_map(seed, side) for seed, side in ((6, 3), (7, 12))]
    maps.append(_clamp_map())
    for x, y, radius, perimeter, edges in maps:
        widest = float(radius.max())
        m = abs(friction) * (abs(1 - ratio) + abs(ratio)) * widest
        for _ in range(4):
            nx, ny = _jacobi(x, y, radius, perimeter, edges, widest, 1,
                             ratio, friction)
            assert np.hypot(nx - x, ny - y).max() < m
            x, y = nx, ny


def test_halo_reach_is_the_dependency_radius():
    """Cell sides follow R_1 = 2·widest, R_K = R_(K−1) + 2·widest +
    2(K−1)·m; with the defaults (m = widest / 2) R_2 = 5·widest."""
    widest = 1.5
    m = FRICTION * widest
    r = 2.0 * widest
    for k in range(1, 9):
        if k > 1:
            r += 2.0 * widest + 2.0 * (k - 1) * m
        reach = dorling_core.halo_reach(k, RATIO, FRICTION, widest)
        assert len(reach) == k + 1 and reach[-1] == 0.0
        assert reach[0] == pytest.approx(r, rel=1e-8) and reach[0] >= r
        assert (np.diff(reach) < 0).all()
    assert dorling_core.halo_reach(2, RATIO, FRICTION, widest)[0] \
        == pytest.approx(5.0 * widest, rel=1e-8)
