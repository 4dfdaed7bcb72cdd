"""Connected components over a pair graph — the clustering step that
turns near-duplicate PAIRS into dedup GROUPS (keep one doc per
component) at corpus scale.

Hybrid execution, size-gated like Spark's own broadcast-join
threshold (r12, from the measured profile in docs/ROUND12_NOTES.md):

- **Small graphs** (≤ ``_LOCAL_MAX_EDGES`` = 500k edges ≈ tens of
  MB on the driver): collect the materialized edge list and solve
  with path-compressing union-find, one job + one collect instead of
  2-4 distributed rounds. Near-dup graphs are
  tiny relative to the corpus (LSH + verify leaves ~1% of docs in
  pairs), and each distributed round costs a localCheckpoint
  materialization (~1s of driver-round latency at any data size) —
  measured 3.3s → 0.4s on d15's 7.5k-edge graph at sf0.1. The same
  economics as broadcasting a small join side: below a bounded size,
  shipping the data to one place beats coordinating a shuffle.
- **Large graphs** (a 100 TB corpus with billions of duplicate pairs
  blows the gate): min-label propagation to fixpoint, each round one
  join + one groupBy (both shuffle on node id) + a pointer-jump
  self-join (adopt label(label(node)) — O(log n) rounds instead of
  O(diameter)), localCheckpoint per round to keep the plan flat — the
  same L3 loop shape as the scalable dorling and k-means. The
  previous label rides along as ``old_label``, so the convergence
  probe is a count over the checkpoint (every round, nearly free)
  rather than a prev⋈new shuffle join.

Both paths emit identical results: (node, component = min reachable
node id) for exactly the nodes appearing in the edge list, labels
being min() reductions — deterministic, no ordering sensitivity.
Equivalence is pinned by tests/test_components.py, which runs the
union-find oracle against both paths (the distributed one forced by
monkeypatching the gate constant).

Both paths are measured either side of the gate
(docs/BENCH_CC_DIST_r13.md, synthetic clique+chain graphs at
100k/600k/2.4M edges): the distributed loop costs 2.41× at 600k and
1.39× at 2.4M vs the union-find on local[32], the premium shrinking
as per-round work amortizes the ~1s/round checkpoint latency. The
500k gate is therefore a DRIVER-STATE bound (like Spark's
broadcast threshold), not a latency crossover — raising it buys
single-node latency only by growing an unbounded driver collect in
exactly the regime where a cluster must not fall over.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ecmm428_pycart_spark.session import checkpoint

_LOCAL_MAX_EDGES = 500_000


def connected_components(edges: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b",
                         max_iter: int = 20) -> DataFrame:
    """(node, component) for every node in `edges`; component = min node
    id reachable. Stops early when a round changes no label. Results
    are identical on both paths."""
    # materialize the (projected) edge list once — BOTH paths need it:
    # the gate needs its size, the local path collects it, and the
    # distributed path re-joins it every round while upstream it is
    # typically an expensive pipeline (minhash LSH + jaccard verify)
    # that must not re-execute
    pruned = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
              .transform(checkpoint))
    if pruned.count() <= _LOCAL_MAX_EDGES:
        return _local_union_find(pruned)
    return _distributed_cc(pruned, max_iter)


def _local_union_find(pruned: DataFrame) -> DataFrame:
    """Driver-side path-compressing union-find over a bounded,
    already-materialized edge list (the collect is gated — see module
    docstring). Unions attach the larger root under the smaller, so
    every root is its component's min id."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pruned.collect():
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    rows = [(x, find(x)) for x in parent]
    node_type = pruned.schema["a"].dataType.simpleString()
    return pruned.sparkSession.createDataFrame(
        rows, f"node {node_type}, component {node_type}")


def _distributed_cc(pruned: DataFrame, max_iter: int) -> DataFrame:
    sym = (pruned
           .unionByName(pruned.select(F.col("b").alias("a"),
                                      F.col("a").alias("b")))
           .distinct()
           .transform(checkpoint))
    labels = (sym.select(F.col("a").alias("node"))
              .distinct()
              .withColumn("label", F.col("node"))
              .transform(checkpoint))
    for it in range(max_iter):
        nb_min = (sym.join(labels.select("node", "label"),
                           sym["b"] == F.col("node"))
                  .groupBy(F.col("a").alias("node2"))
                  .agg(F.min("label").alias("nb_label")))
        stepped = (labels.select("node", "label")
                   .join(nb_min, F.col("node") == nb_min["node2"], "left")
                   .select("node",
                           F.col("label").alias("old_label"),
                           F.least(F.col("label"),
                                   F.coalesce("nb_label", F.col("label")))
                           .alias("label")))
        # pointer jumping: also adopt label(label(node)) — collapses
        # chains in O(log n) rounds instead of O(diameter), and round
        # COUNT (a checkpoint each) dominates per-round join width
        parent = stepped.select(F.col("node").alias("p_node"),
                                F.col("label").alias("p_label"))
        stepped = (stepped.join(parent,
                                stepped["label"] == parent["p_node"],
                                "left")
                   .select("node", "old_label",
                           F.least(F.col("label"),
                                   F.coalesce("p_label", F.col("label")))
                           .alias("label")))
        new = checkpoint(stepped)
        # old_label is already materialized alongside label, so this is
        # a count over the checkpoint — no join, no extra shuffle
        changed = new.filter(F.col("label") != F.col("old_label")).count()
        labels = new.select("node", "label")
        if changed == 0:
            break
    return labels.select(F.col("node"), F.col("label").alias("component"))
