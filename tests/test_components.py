"""Direct unit/property tests for the connected-components kernel
(``datapipe/components.py``) — the clustering step behind the dedup
macros (d15/d18/d19/d70/q133/q136 and ~20 oracle queries total).

Oracle: a driver-side union-find over the same edge list. Covers the
edge cases VERDICT r11 asked to pin before touching the kernel:
self-loops, singleton components, pre-collapsed cliques, long paths
(forces pointer-jump rounds), dumbbells, and randomized graphs.

Every case runs on BOTH execution paths: the default size-gated
driver union-find AND the distributed pointer-jump loop (forced by
setting the gate ``components._LOCAL_MAX_EDGES`` below every edge
count) — the hybrid's two arms must be indistinguishable.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Row

from ecmm428_pycart_spark.datapipe import components
from ecmm428_pycart_spark.datapipe.components import connected_components


@pytest.fixture(params=["local", "distributed"])
def cc_path(request, monkeypatch):
    if request.param == "distributed":
        # no edge count is <= -1, the empty graph's included
        monkeypatch.setattr(components, "_LOCAL_MAX_EDGES", -1)
    return request.param


def _uf_labels(edges):
    """Union-find oracle: node -> min node id in its component, over
    exactly the nodes that appear in the edge list."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # path-compress fully, then label = root (roots are min ids because
    # unions always attach the larger root under the smaller)
    return {x: find(x) for x in list(parent)}


def _run(spark, edges):
    df = spark.createDataFrame([Row(doc_a=a, doc_b=b) for a, b in edges])
    out = connected_components(df)
    assert out.columns == ["node", "component"]
    rows = out.collect()
    got = {r.node: r.component for r in rows}
    assert len(rows) == len(got), "duplicate node rows"
    return got


def test_cc_cliques_and_singleton_selfloop(spark, cc_path):
    # two pre-collapsed cliques (K4 and K3, all pairs present) plus a
    # node that only appears in a self-loop -> its own component
    k4 = [(i, j) for i in range(10, 14) for j in range(10, 14) if i < j]
    k3 = [(i, j) for i in range(20, 23) for j in range(20, 23) if i < j]
    edges = k4 + k3 + [(99, 99)]
    got = _run(spark, edges)
    assert got == _uf_labels(edges)
    assert got[99] == 99
    assert {got[i] for i in range(10, 14)} == {10}
    assert {got[i] for i in range(20, 23)} == {20}


def test_cc_self_loops_inside_component(spark, cc_path):
    # self-loops mixed into a real component must not perturb labels
    edges = [(1, 2), (2, 2), (1, 1), (2, 3), (3, 3)]
    assert _run(spark, edges) == {1: 1, 2: 1, 3: 1}


def test_cc_long_path_needs_jump_rounds(spark, cc_path):
    # 30-node path: diameter 29 — converges only if pointer jumping
    # engages after the early plain rounds (plain propagation alone
    # would need 29 rounds > the loop's max_iter=20)
    edges = [(i, i + 1) for i in range(30)]
    got = _run(spark, edges)
    assert got == {i: 0 for i in range(31)}


def test_cc_dumbbell_and_star(spark, cc_path):
    # two cliques joined by a bridge, plus a star whose center has the
    # HIGHEST id (min label must flow leaf->center->leaves)
    k_a = [(i, j) for i in range(0, 4) for j in range(0, 4) if i < j]
    k_b = [(i, j) for i in range(100, 104) for j in range(100, 104) if i < j]
    bridge = [(3, 100)]
    star = [(500, leaf) for leaf in (200, 201, 202, 203)]
    edges = k_a + k_b + bridge + star
    got = _run(spark, edges)
    assert got == _uf_labels(edges)
    assert {got[i] for i in list(range(4)) + list(range(100, 104))} == {0}
    assert got[500] == 200 and got[203] == 200


def test_cc_duplicate_and_reversed_edges(spark, cc_path):
    # the same pair listed twice and in both orientations
    edges = [(5, 6), (6, 5), (5, 6), (7, 8)]
    assert _run(spark, edges) == {5: 5, 6: 5, 7: 7, 8: 7}


def test_cc_randomized_vs_union_find(spark, cc_path):
    rng = random.Random(1234)
    edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(220)]
    got = _run(spark, edges)
    assert got == _uf_labels(edges)


def test_cc_empty_edges(spark, cc_path):
    df = spark.createDataFrame([], "doc_a long, doc_b long")
    out = connected_components(df)
    assert out.columns == ["node", "component"]
    assert out.count() == 0


def test_cc_string_node_ids(spark, cc_path):
    # the kernel is id-type generic: min() on strings is lexicographic
    # on BOTH paths (Python min vs Spark least/min)
    edges = [("delta", "bravo"), ("bravo", "alpha"), ("zulu", "yankee"),
             ("mike", "mike")]
    df = spark.createDataFrame(
        [Row(doc_a=a, doc_b=b) for a, b in edges])
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == {"alpha": "alpha", "bravo": "alpha", "delta": "alpha",
                   "zulu": "yankee", "yankee": "yankee", "mike": "mike"}


def test_cc_gate_boundary_switches_paths(spark, monkeypatch):
    # threshold == edge count -> local path; one below -> distributed.
    # Same labels either side of the boundary (the hybrid contract).
    edges = [(1, 2), (2, 3), (4, 5)]
    df = spark.createDataFrame([Row(doc_a=a, doc_b=b) for a, b in edges])
    want = {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}

    calls = {"local": 0, "dist": 0}
    real_local = components._local_union_find
    real_dist = components._distributed_cc

    def spy_local(pruned):
        calls["local"] += 1
        return real_local(pruned)

    def spy_dist(pruned, max_iter):
        calls["dist"] += 1
        return real_dist(pruned, max_iter)

    monkeypatch.setattr(components, "_local_union_find", spy_local)
    monkeypatch.setattr(components, "_distributed_cc", spy_dist)

    monkeypatch.setattr(components, "_LOCAL_MAX_EDGES", 3)
    got = {r.node: r.component
           for r in connected_components(df).collect()}
    assert got == want and calls == {"local": 1, "dist": 0}

    monkeypatch.setattr(components, "_LOCAL_MAX_EDGES", 2)
    got = {r.node: r.component
           for r in connected_components(df).collect()}
    assert got == want and calls == {"local": 1, "dist": 1}
