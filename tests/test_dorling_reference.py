"""Reference-mode Dorling as one task (dorling_core.reference_layout):
the local region index and Queen borders (region_index, queen_borders)
must equal the distributed operators' (with_region_idx, get_borders), a
call must stay a handful of Spark jobs, and precomputed borders must
give the same bits."""

import numpy as np
import pytest

from ecmm428_pycart_spark import Cartogram, get_borders
from ecmm428_pycart_spark.geometry import core
from ecmm428_pycart_spark.operators.borders import (queen_borders, region_index,
                                                    with_region_idx)
from ecmm428_pycart_spark.plans import dorling_core


def _lattice_rows(seed, cols=6, rows=5, subdiv=3, island=False):
    """A jittered lattice whose cell edges are subdivided into wiggled
    segments; neighbouring cells take shared corners and edge points from
    the same arrays, so edge neighbours share several vertices and
    diagonal neighbours exactly one (a corner-only contact, weight 0).
    Rows are (region_idx, name, value, geometry WKB) in a shuffled order;
    names sort differently from the index."""
    rng = np.random.default_rng(seed)
    gx, gy = np.meshgrid(np.arange(cols + 1), np.arange(rows + 1),
                         indexing="ij")
    corners = np.round(np.stack([gx, gy], -1).astype("f8")
                       + rng.uniform(-0.25, 0.25, (cols + 1, rows + 1, 2)), 6)
    t = (np.arange(1, subdiv) / subdiv)[:, None]

    def edge(a, b):
        d = b - a
        pts = a + t * d + rng.uniform(-0.1, 0.1, (subdiv - 1, 1)) \
            * np.array([-d[1], d[0]])
        return np.round(pts, 6)

    horiz = {(i, j): edge(corners[i, j], corners[i + 1, j])
             for i in range(cols) for j in range(rows + 1)}
    vert = {(i, j): edge(corners[i, j], corners[i, j + 1])
            for i in range(cols + 1) for j in range(rows)}
    out = []
    for k in range(cols * rows):
        i, j = k // rows, k % rows
        ring = np.vstack([corners[i, j], horiz[i, j], corners[i + 1, j],
                          vert[i + 1, j], corners[i + 1, j + 1],
                          horiz[i, j + 1][::-1], corners[i, j + 1],
                          vert[i, j][::-1], corners[i, j]])
        out.append([k, f"n{(k * 7) % (cols * rows):03d}",
                    float(rng.integers(50, 500)),
                    core.dumps(("Polygon", [ring]))])
    if island:
        far = np.array([(100, 100), (101, 100), (101, 101), (100, 101),
                        (100, 100)], dtype="f8")
        out.append([len(out), "island", 80.0, core.dumps(("Polygon", [far]))])
    rng.shuffle(out)
    return [tuple(r) for r in out]


_SCHEMA = "region_idx long, name string, Population double, geometry binary"


@pytest.fixture(scope="module", params=["squares", "lattice", "island"])
def map_df(request, spark, squares_df):
    if request.param == "squares":
        return squares_df
    return spark.createDataFrame(
        _lattice_rows(7, island=request.param == "island"), _SCHEMA)


def test_kernel_borders_match_get_borders(spark, map_df):
    """queen_borders equals get_borders(...)[0]: the same
    directed (focal, neighbor) set, weights to 1e-12."""
    pdf = map_df.toPandas().sort_values("region_idx")
    idx = pdf["region_idx"].to_numpy()
    f, n, w = queen_borders(
        [core.loads(bytes(b)) for b in pdf["geometry"]])
    got = {(int(idx[a]), int(idx[b])): wt for a, b, wt in zip(f, n, w)}
    want = {(r["focal"], r["neighbor"]): r["weight"] for r in
            get_borders(map_df, "name", idx_field="region_idx")[0].collect()}
    assert got.keys() == want.keys() and want
    for e, wt in want.items():
        assert got[e] == pytest.approx(wt, abs=1e-12), e
    # the fixtures exercise corner-only contacts (weight 0)
    assert any(wt == 0.0 for wt in want.values())


def test_kernel_region_idx_matches_with_region_idx(spark):
    """With idx_field=None region_index ranks string ids exactly as
    with_region_idx's row_number() over the id ordering does — directly
    and through dorling()'s output."""
    rows = _lattice_rows(11, cols=4, rows=4)
    names = ["b", "Zeta", "a10", "a9", "ä", "A", "é", "_x", "", "a",
             "B2", "b1", "~", "0", "z", "Ω"]
    rows = [(r[0], names[p], r[2], r[3]) for p, r in enumerate(rows)]
    df = spark.createDataFrame(rows, _SCHEMA)
    want = {r["name"]: r["region_idx"] for r in
            with_region_idx(df.drop("region_idx"), "name").collect()}
    idx = region_index([r[1] for r in rows])
    assert dict(zip(names, idx.tolist())) == want
    out = Cartogram(df, "Population", "name").dorling(iterations=1)
    assert {r["name"]: r["region_idx"] for r in out.collect()} == want


def test_dorling_reference_runs_at_most_three_jobs(spark, squares_df):
    """The whole reference mode is one task: a dorling() call plus its
    collect stays within 3 Spark jobs (the distributed set-up it
    replaces ran 19)."""
    sc = spark.sparkContext
    tag = "dorling-reference-jobs"
    sc.setJobGroup(tag, tag)
    try:
        rows = (Cartogram(squares_df, "Population", "name")
                .dorling(iterations=10).collect())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 4
    jobs = sc.statusTracker().getJobIdsForGroup(tag)
    assert len(jobs) <= 3, f"reference dorling ran {len(jobs)} jobs"


@pytest.mark.parametrize("which", ["squares", "lattice"])
def test_dorling_reference_precomputed_borders_bit_identical(
        spark, squares_df, which):
    """borders= (the cogroup path) and the in-kernel borders give the
    same cx/cy/radius to the last bit."""
    df = squares_df if which == "squares" else \
        spark.createDataFrame(_lattice_rows(3), _SCHEMA)
    borders = get_borders(df, "name", idx_field="region_idx")[0]

    def run(b):
        cart = Cartogram(df, "Population", "name", idx_field="region_idx",
                         borders=b)
        return sorted((r["region_idx"], r["cx"], r["cy"], r["radius"])
                      for r in cart.dorling(iterations=20).collect())

    fused, given = run(None), run(borders)
    assert len(fused) == df.count()
    assert fused == given


def test_reference_layout_rejects_unknown_border_index():
    wkb = core.dumps(("Polygon", [np.array(
        [(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)], dtype="f8")]))
    with pytest.raises(ValueError, match="region_idx"):
        dorling_core.reference_layout(
            [0], [1.0], [wkb],
            borders=([0], [5], [1.0]), iterations=1)
