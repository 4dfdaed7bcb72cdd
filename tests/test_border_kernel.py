"""The batched border-weight kernel (core.shared_boundary_lengths) against
the per-segment loop it replaced, kept here as its oracle: every weight
must be the same double, on lattices, T-junctions, collinear edges,
holes, zero-length segments and across chunk boundaries, in bounded
memory. The last test holds the st_shared_border_length UDF contract."""

import math
import tracemalloc

import numpy as np
import pytest

from ecmm428_pycart_spark.geometry import core
from tests.test_dorling_reference import _lattice_rows


def _loop_length(ga, gb, rel_tol=1e-9):
    """The per-segment loop the kernel replaced: one a-segment at a time
    against all of gb's segments."""
    sa = core._segments(ga)
    sb = core._segments(gb)
    span = max(np.abs(sa).max(initial=0.0), np.abs(sb).max(initial=0.0), 1.0)
    tol = rel_tol * span
    bminx = np.minimum(sb[:, 0], sb[:, 2]) - tol
    bmaxx = np.maximum(sb[:, 0], sb[:, 2]) + tol
    bminy = np.minimum(sb[:, 1], sb[:, 3]) - tol
    bmaxy = np.maximum(sb[:, 1], sb[:, 3]) + tol
    total = 0.0
    for x1, y1, x2, y2 in sa:
        dx, dy = x2 - x1, y2 - y1
        seg_len = math.hypot(dx, dy)
        if seg_len < tol:
            continue
        lo_x, hi_x = min(x1, x2) - tol, max(x1, x2) + tol
        lo_y, hi_y = min(y1, y2) - tol, max(y1, y2) + tol
        cand = ~((bmaxx < lo_x) | (bminx > hi_x)
                 | (bmaxy < lo_y) | (bminy > hi_y))
        if not cand.any():
            continue
        c = sb[cand]
        cross1 = dx * (c[:, 1] - y1) - dy * (c[:, 0] - x1)
        cross2 = dx * (c[:, 3] - y1) - dy * (c[:, 2] - x1)
        col = ((np.abs(cross1) <= tol * seg_len)
               & (np.abs(cross2) <= tol * seg_len))
        if not col.any():
            continue
        c = c[col]
        t1 = ((c[:, 0] - x1) * dx + (c[:, 1] - y1) * dy) / (seg_len * seg_len)
        t2 = ((c[:, 2] - x1) * dx + (c[:, 3] - y1) * dy) / (seg_len * seg_len)
        tlo = np.clip(np.minimum(t1, t2), 0.0, 1.0)
        thi = np.clip(np.maximum(t1, t2), 0.0, 1.0)
        total += float(np.sum(np.maximum(0.0, thi - tlo))) * seg_len
    return total


def _poly(*rings):
    return ("Polygon", [np.asarray(r, dtype="f8") for r in rings])


def _assert_same(pairs):
    """Both argument orders: the kernel, and the one-pair function, give
    the oracle's doubles exactly. Returns the forward weights."""
    for ps in (pairs, [(b, a) for a, b in pairs]):
        got = core.shared_boundary_lengths(ps)
        want = [_loop_length(a, b) for a, b in ps]
        assert got.dtype == np.float64 and got.shape == (len(ps),)
        assert got.tolist() == want
        assert [core.shared_boundary_length(a, b) for a, b in ps] == want
    return core.shared_boundary_lengths(pairs)


def _lattice_pairs(seed, **kw):
    """Every pair of a jittered subdivided lattice (with an island) that
    shares a vertex, plus each region against the island."""
    geoms = [core.loads(r[3]) for r in
             sorted(_lattice_rows(seed, island=True, **kw))]
    owners = {}
    for k, g in enumerate(geoms):
        for v in map(tuple, core.vertices(g).tolist()):
            owners.setdefault(v, set()).add(k)
    und = sorted({(i, j) for ks in owners.values()
                  for i in ks for j in ks if i < j})
    return ([(geoms[i], geoms[j]) for i, j in und]
            + [(g, geoms[-1]) for g in geoms[:-1]])


def _t_junction(parts, seed=0):
    """A 1×1 cell with an irregular top edge from (0.1, 0.7) to
    (1.3, 0.9), and the cell above it whose bottom edge is that same
    line split into ``parts`` uneven segments."""
    rng = np.random.default_rng(seed)
    p, q = np.array([0.1, 0.7]), np.array([1.3, 0.9])
    t = np.sort(rng.uniform(0.05, 0.95, parts - 1))
    inner = [tuple(p + s * (q - p)) for s in t]
    below = _poly([(0.1, -0.3), (1.3, -0.3), tuple(q), tuple(p), (0.1, -0.3)])
    above = _poly([tuple(p), *inner, tuple(q), (1.3, 1.9), (0.1, 1.9),
                   tuple(p)])
    return below, above


@pytest.mark.parametrize("seed,subdiv", [(1, 3), (2, 3), (3, 9)])
def test_kernel_matches_loop_on_lattices(seed, subdiv):
    """Subdivided lattices: edge neighbours (several collinear segment
    pairs, whose terms add up in ring order), corner-only contacts
    (weight 0) and an island (no contact)."""
    w = _assert_same(_lattice_pairs(seed, cols=5, rows=4, subdiv=subdiv))
    assert (w == 0.0).any() and (w > 0.0).any()


def test_kernel_matches_loop_where_hypot_rounds_differently():
    """Segment lengths are math.hypot's: for this shared edge np.hypot
    rounds to another double, and the weight would follow it."""
    dx, dy = 1.446972, -1.26996
    assert math.hypot(dx, dy) != float(np.hypot(dx, dy))
    a = _poly([(0, 0), (dx, dy), (2, 1), (0, 0)])
    b = _poly([(dx, dy), (0, 0), (0, -2), (dx, dy)])
    _assert_same([(a, b)])


@pytest.mark.parametrize("parts", [2, 3, 9])
def test_kernel_matches_loop_on_t_junctions(parts):
    """One side's shared edge split into 2, 3 or 9 segments: one segment
    of the other side overlaps all of them, so its overlaps are summed
    as np.sum sums them (at 9, np.sum's blocked grouping rounds
    differently from a running sum)."""
    below, above = _t_junction(parts, seed=1)
    w = _assert_same([(below, above)])
    assert w[0] == pytest.approx(math.hypot(1.2, 0.2), rel=1e-12)


def test_kernel_matches_loop_on_collinear_edges_that_do_not_overlap():
    """Collinear edges meeting end to end add 0; so do collinear edges
    far apart, which the bounding boxes drop first."""
    a = _poly([(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)])
    b = _poly([(1, 0), (2.5, 0), (2.5, 1), (1, 1), (1, 0)])
    far = _poly([(3, 0), (4, 0), (4, 1), (3, 1), (3, 0)])
    w = _assert_same([(a, b), (a, far)])
    assert w.tolist() == [1.0, 0.0]


def test_kernel_matches_loop_on_multipolygon_with_hole():
    """A MultiPolygon whose first part has a hole, against the polygon
    filling the hole and against a polygon touching its second part."""
    outer = [(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)]
    hole = [(1, 1), (1, 2.5), (3, 2.5), (3, 1), (1, 1)]
    second = [(5, 0), (7, 0), (7, 1.5), (5, 1.5), (5, 0)]
    multi = ("MultiPolygon", [[np.asarray(outer, "f8"), np.asarray(hole, "f8")],
                              [np.asarray(second, "f8")]])
    plug = _poly(hole[::-1])
    side = _poly([(7, 0.5), (8, 0.5), (8, 1), (7, 1), (7, 0.5)])
    w = _assert_same([(multi, plug), (multi, side), (plug, side)])
    assert w.tolist() == pytest.approx([7.0, 0.5, 0.0], rel=1e-12)


def test_kernel_matches_loop_on_zero_length_segments():
    """A repeated vertex is a zero-length segment: skipped as an a-row,
    collinear with everything (and overlapping nothing) as a b-segment."""
    a = _poly([(0, 0), (1, 0), (1, 0), (1, 1), (1, 1), (0, 1), (0, 0)])
    b = _poly([(1, 0), (1.7, 0), (1.7, 1), (1, 1), (1, 0.3), (1, 0.3),
               (1, 0)])
    w = _assert_same([(a, b), (a, a)])
    assert w[0] == pytest.approx(1.0, rel=1e-12)


def test_kernel_empty_pair_list():
    w = core.shared_boundary_lengths([])
    assert w.dtype == np.float64 and w.shape == (0,)


@pytest.mark.parametrize("chunk", [1, 3, 7])
def test_kernel_matches_loop_across_chunk_boundaries(monkeypatch, chunk):
    """A chunk of a few triples: pairs are split between many passes by
    their a-rows and still give the same doubles."""
    monkeypatch.setattr(core, "_CHUNK_TRIPLES", chunk)
    pairs = (_lattice_pairs(4, cols=3, rows=3, subdiv=2)
             + [_t_junction(3, seed=1), _t_junction(9, seed=1)])
    _assert_same(pairs)


def _circle(n, x0):
    a = np.linspace(0.0, 2.0 * math.pi, n, endpoint=False)
    ring = np.c_[x0 + np.cos(a), np.sin(a)]
    return _poly(np.vstack([ring, ring[:1]]))


def test_kernel_memory_is_bounded_by_the_chunk():
    """2,000 unit-square pairs plus one pair of 4,000-vertex rings: the
    call's traced peak stays under 512 bytes per chunk triple (32 MiB).
    Padding each pair to the largest polygon would ask for 2,001 × 4,000
    × 4,000 doubles per array; even one 4,000 × 4,000 pair is 128 MB."""
    def square(x):
        return _poly([(x, 0), (x + 1, 0), (x + 1, 1), (x, 1), (x, 0)])

    pairs = [(square(2 * i), square(2 * i + 1)) for i in range(2000)]
    big = (_circle(4000, 0.0), _circle(4000, 0.5))
    pairs.append(big)
    bound = 512 * core._CHUNK_TRIPLES
    tracemalloc.start()
    try:
        w = core.shared_boundary_lengths(pairs)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < bound, (peak, bound)
    assert (w[:-1] == 1.0).all()
    assert w[-1] == _loop_length(*big)


def test_st_shared_border_length_rows_in_order_and_nulls(spark):
    """The UDF gives one value per row, in row order, equal to the
    oracle; a null geometry on either side gives a null weight."""
    pairs = _lattice_pairs(5, cols=4, rows=3, subdiv=2)
    rows = []
    for k, (a, b) in enumerate(pairs):
        wa, wb = core.dumps(a), core.dumps(b)
        if k % 7 == 3:
            wa = None
        elif k % 7 == 5:
            wb = None
        elif k % 11 == 4:
            wa = wb = None
        rows.append((k, wa, wb))
    from ecmm428_pycart_spark.functions import st_shared_border_length
    df = spark.createDataFrame(rows, "k long, ga binary, gb binary") \
        .coalesce(1)
    got = [(r["k"], r["w"]) for r in df.select(
        "k", st_shared_border_length("ga", "gb").alias("w")).collect()]
    want = [(k, None if wa is None or wb is None
             else _loop_length(core.loads(wa), core.loads(wb)))
            for k, wa, wb in rows]
    assert got == want
    assert any(w is None for _, w in got) and any(w for _, w in got)
