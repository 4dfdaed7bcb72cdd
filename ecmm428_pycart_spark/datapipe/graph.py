"""Reusable distributed graph primitives (k-core peeling).

The contiguity-graph queries already cover connected components
(datapipe/components.py — min-label propagation with pointer jumping),
PageRank (g10) and triangle counting (g11) inline; this module holds
the reusable pieces that more than one caller needs, starting with
k-core decomposition — the standard "dense enough to matter" filter a
graph-shaped corpus pass runs before expensive per-community work
(spam rings in link graphs, dense duplicate clusters in near-dup
graphs).

Edge convention matches ``operators.borders.get_borders``: UNDIRECTED
graphs are materialized with each edge in BOTH directions
(focal→neighbor and neighbor→focal), so out-degree == degree and every
per-node aggregate is one groupBy on the source column.

Execution shape (same L3 driver-loop discipline as kmeans / dorling /
components): each peel round is one degree aggregate + two semi-joins,
``localCheckpoint`` keeps the plan O(1) across rounds, and the only
driver value per round is the surviving-edge count (the convergence
probe). Rounds are bounded by the peeling depth, which for planar /
bounded-degree graphs is small; the 1000-executor story is the same as
components.py — narrow shuffles on the node id, nothing quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ecmm428_pycart_spark.session import checkpoint


def k_core(edges: DataFrame, k: int, src: str = "src", dst: str = "dst",
           max_rounds: int = 100) -> DataFrame:
    """Nodes of the k-core: the maximal induced subgraph where every
    node has degree >= k.

    ``edges`` must carry each undirected edge in both directions (the
    get_borders convention). Returns a 1-column DataFrame ``node`` —
    deterministic (pure set semantics, no tie-breaks needed).

    Isolated nodes (present in the node set but with no surviving
    edges) are by definition not in any k-core for k >= 1; callers
    wanting k=0 semantics should union the full node set themselves.
    """
    if k < 1:
        raise ValueError("k_core requires k >= 1")
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .transform(checkpoint))
    return _peel(e, k, max_rounds).select(
        F.col("src").alias("node")).distinct()


def _peel(e: DataFrame, k: int, max_rounds: int) -> DataFrame:
    """Peel a checkpointed (src, dst) edge frame to its k-core edge
    set. Convergence is checked AFTER each round's update, so a peel
    that empties (or fixes) the graph on exactly the last budgeted
    round is convergence, not an error."""
    n_edges = e.count()
    for _ in range(max_rounds):
        if n_edges == 0:
            return e
        keep = (e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
                .filter(F.col("d") >= k)
                .select("src"))
        e2 = (e.join(keep, "src", "left_semi")
              .join(keep.withColumnRenamed("src", "dst"), "dst",
                    "left_semi")
              .transform(checkpoint))
        n2 = e2.count()
        converged = n2 == 0 or n2 == n_edges
        e = e2
        n_edges = n2
        if converged:
            return e
    raise RuntimeError(f"k_core did not converge in {max_rounds} "
                       "rounds")


def core_numbers(edges: DataFrame, src: str = "src", dst: str = "dst",
                 k_max: int = 16, max_rounds: int = 100) -> DataFrame:
    """Core number per node: the largest k such that the node belongs
    to the k-core (0 for isolated nodes never seen in an edge — such
    nodes don't appear in ``edges`` and therefore not in the output).

    Successive peels for k = 1..k_max; a node's core number is the
    last k whose core contained it. Cost is sum of the peel depths —
    for the planar contiguity graphs this engine builds, k_max is
    small (a grid's core number is <= 4 with queen adjacency <= 8).
    Raises if the (k_max)-core is still non-empty, rather than
    silently truncating the decomposition.

    Peel-depth warning (measured on the sf0.1 customer grid): proving
    a core EMPTY can be the expensive step — the 5-core peel of an
    L x L queen grid erodes through CORNERS only (ring-interior nodes
    keep degree 5 when the ring above them goes), so the peel runs
    ~2L rounds, not ~L/2. On large low-degeneracy graphs prefer fixed
    small-k `k_core` calls (one or two rounds each) over a full
    decomposition, and size `max_rounds` to the expected erosion
    depth when the emptiness proof is genuinely needed.
    """
    result = None
    # chain the peels: the (k+1)-core of G equals the (k+1)-core of
    # G's k-core, so each iteration starts from the previous core's
    # surviving edges instead of re-peeling the full graph
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .transform(checkpoint))
    for k in range(1, k_max + 1):
        e = _peel(e, k, max_rounds)
        core = e.select(F.col("src").alias("node")).distinct()
        labeled = core.select("node", F.lit(k).alias("core"))
        if core.isEmpty():
            # decomposition complete; empty-edges input returns the
            # empty (node, core) frame
            return labeled if result is None else result
        if result is None:
            result = labeled
        else:
            # later peels overwrite: keep the max k that contained it
            result = (result.unionByName(labeled)
                      .groupBy("node").agg(F.max("core").alias("core")))
    raise ValueError(f"graph has a non-empty {k_max}-core; raise "
                     "k_max to decompose it fully")


def per_node_triangles(edges: DataFrame, src: str = "src",
                       dst: str = "dst") -> DataFrame:
    """Triangles through each node, via degree-ordered edge
    orientation — the classic shuffle-bounded formulation (each
    triangle is enumerated exactly once at its lowest-(degree, id)
    apex, then credited to all three corners), lifted from
    g11_triangle_count so other callers (clustering coefficient,
    community pre-filters) share it.

    ``edges`` must carry each undirected edge in BOTH directions (the
    get_borders convention). Returns ``(node, n_triangles)`` — only
    nodes in >= 1 triangle appear; join against a degree table for
    totality. Wedge work is sum over nodes of (oriented out-degree
    choose 2); orientation by (degree, id) bounds out-degree by
    O(sqrt(|E|)) on any graph — the reason this survives skewed 100 TB
    link graphs where a naive neighbor-pair explode blows up on hub
    nodes.
    """
    und = edges.select(F.col(src).alias("focal"),
                       F.col(dst).alias("neighbor"))
    deg = und.groupBy("focal").agg(F.count(F.lit(1)).alias("d"))
    canon = (und.filter(F.col("focal") < F.col("neighbor"))
             .join(deg.select(F.col("focal"), F.col("d").alias("da")),
                   "focal")
             .join(deg.select(F.col("focal").alias("neighbor"),
                              F.col("d").alias("db")), "neighbor"))
    a_lo = (F.struct(F.col("da").alias("d"), F.col("focal").alias("k"))
            < F.struct(F.col("db").alias("d"),
                       F.col("neighbor").alias("k")))
    dire = (canon.select(
        F.when(a_lo, F.col("focal")).otherwise(F.col("neighbor"))
        .alias("src"),
        F.when(a_lo, F.col("neighbor")).otherwise(F.col("focal"))
        .alias("dst"),
        F.when(a_lo, F.col("db")).otherwise(F.col("da")).alias("dst_d"))
        .localCheckpoint(eager=True))
    e1, e2 = dire.alias("e1"), dire.alias("e2")
    wedges = (e1.join(
        e2,
        (F.col("e1.src") == F.col("e2.src"))
        & (F.struct(F.col("e1.dst_d").alias("d"),
                    F.col("e1.dst").alias("k"))
           < F.struct(F.col("e2.dst_d").alias("d"),
                      F.col("e2.dst").alias("k"))))
        .select(F.col("e1.src").alias("apex"),
                F.col("e1.dst").alias("u"), F.col("e2.dst").alias("v")))
    closing = dire.select(F.col("src").alias("u"),
                          F.col("dst").alias("v"))
    tris = wedges.join(closing, ["u", "v"], "left_semi")
    corners = tris.select(F.explode(F.array("apex", "u", "v"))
                          .alias("node"))
    return (corners.groupBy("node")
            .agg(F.count(F.lit(1)).alias("n_triangles")))


def clustering_coefficient(edges: DataFrame, src: str = "src",
                           dst: str = "dst") -> DataFrame:
    """Local clustering coefficient per node:
    ``2 * triangles / (degree * (degree - 1))``, 0.0 for degree < 2 —
    the per-node density signal community detection and spam-ring
    scoring start from.

    One degree aggregate + the shared ``per_node_triangles`` pass; the
    left join keeps every node total (triangle-less nodes get 0.0).
    Coefficient rounded to 6 places so cross-engine float division
    hashes identically. Returns
    ``(node, degree, n_triangles, coeff)``.
    """
    deg = (edges.groupBy(F.col(src).alias("node"))
           .agg(F.count(F.lit(1)).alias("degree")))
    tri = per_node_triangles(edges, src, dst)
    d = F.col("degree").cast("double")
    return (deg.join(tri, "node", "left")
            .withColumn("n_triangles",
                        F.coalesce("n_triangles", F.lit(0).cast("long")))
            .withColumn(
                "coeff",
                F.when(F.col("degree") >= 2,
                       F.round(2.0 * F.col("n_triangles")
                               / (d * (d - 1)), 6))
                .otherwise(F.lit(0.0))))


def label_propagation(edges: DataFrame, labels: DataFrame,
                      rounds: int = 3, src: str = "src", dst: str = "dst",
                      node_col: str = "node",
                      label_col: str = "label") -> DataFrame:
    """SYNCHRONOUS label propagation (community detection): each round
    every node adopts the most frequent label among its neighbors,
    ties broken by the smallest label — the deterministic variant of
    Raghavan et al.'s LPA. Async/randomized LPA is order-dependent and
    unreplayable; fixed sync rounds with a total tie order make the
    result a pure function of (graph, seed labels, rounds), which is
    what lets an oracle restate it round by round.

    Edge convention as the module header: undirected graphs arrive
    with both directions materialized, so the neighbor-label count is
    one join + one groupBy on the destination's label. Nodes with no
    edges keep their seed label (left-join + coalesce each round).

    Execution shape: per round, one shuffle to join labels onto edges,
    one (node, label) count aggregate, one row_number argmax — all
    keyed on the node id — then ``localCheckpoint`` to pin plan depth
    O(1) (the L3 driver-loop discipline). Rounds is a small constant;
    nothing is ever quadratic in nodes or edges."""
    from pyspark.sql.window import Window

    und = edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
    cur = labels.select(F.col(node_col).alias("_k"),
                        F.col(label_col).cast("long").alias("_lab"))
    for _ in range(rounds):
        counts = (und.join(cur.withColumnRenamed("_k", "_b"), "_b")
                  .groupBy("_a", "_lab")
                  .agg(F.count(F.lit(1)).alias("_c")))
        w = (Window.partitionBy("_a")
             .orderBy(F.col("_c").desc(), F.col("_lab").asc()))
        nxt = (counts.withColumn("_rn", F.row_number().over(w))
               .filter(F.col("_rn") == 1)
               .select(F.col("_a").alias("_k"),
                       F.col("_lab").alias("_new")))
        cur = (cur.join(nxt, "_k", "left")
               .select("_k", F.coalesce("_new", "_lab").alias("_lab"))
               .transform(checkpoint))
    return cur.select(F.col("_k").alias(node_col),
                      F.col("_lab").alias(label_col))


def bfs_layers(edges: DataFrame, sources: DataFrame, max_depth: int = 6,
               src: str = "src", dst: str = "dst",
               node_col: str = "node") -> DataFrame:
    """Multi-source breadth-first search to a bounded depth: returns
    (node, distance) for every node within ``max_depth`` hops of any
    source — the frontier-expansion primitive under k-hop neighborhood
    queries, blast-radius analysis, and bounded shortest paths.

    Level-synchronous: round d joins the frontier onto the edge list,
    distinct-s the successors, anti-joins the visited set, stamps
    distance d. Every shuffle keys on the node id; the visited set
    grows monotonically and is localCheckpoint-ed per round (L3
    driver-loop discipline, plan depth O(1)). Depth is a small
    constant — the 100 TB story is d bounded scans of the edge list,
    never Bellman-Ford's |V| rounds."""
    frontier = (sources.select(F.col(node_col).alias("_k")).distinct()
                .withColumn("_d", F.lit(0)))
    visited = frontier.transform(checkpoint)
    frontier = visited
    for d in range(1, max_depth + 1):
        nxt = (frontier.join(
                   edges.select(F.col(src).alias("_k"),
                                F.col(dst).alias("_n")), "_k")
               .select(F.col("_n").alias("_k")).distinct()
               .join(visited.select("_k"), "_k", "left_anti")
               .withColumn("_d", F.lit(d)))
        visited = visited.unionByName(nxt).transform(checkpoint)
        frontier = nxt
    return visited.select(F.col("_k").alias(node_col),
                          F.col("_d").alias("distance"))


def link_prediction_scores(edges: DataFrame, src: str = "src",
                           dst: str = "dst",
                           max_degree: int | None = None) -> DataFrame:
    """Common-neighbor link prediction (Liben-Nowell & Kleinberg 2003):
    for every NON-adjacent pair (a < b) sharing at least one common
    neighbor, return the common-neighbor count and both degrees —
    the candidate-edge scoring pass under "who should be connected"
    (friend suggestion, missing-citation, knowledge-graph completion).

    All-integer outputs keep the op float-free: callers derive the
    neighborhood-Jaccard ``cn / (deg_a + deg_b - cn)`` themselves (as a
    floor-divided ppm if it must cross engines). Edge convention as the
    module header: undirected, both directions materialized.

    Execution shape: one degree aggregate, then the wedge join —
    ``edges ⋈ edges`` on the shared neighbor — grouped on the (a, b)
    pair, then an anti-join against the edge list to drop pairs that
    are already connected. The wedge join materializes Σ deg(n)² rows,
    the classic hub blowup; ``max_degree`` caps it by dropping
    wedges through nodes above the cap BEFORE the join (the LSH
    MAX_BUCKET_SIZE discipline — for power-law graphs at 100 TB this
    bounds the shuffle at |E|·max_degree while only silencing
    celebrity-hub candidates, which rank poorly under Jaccard anyway).
    Every shuffle keys on a node id or the (a, b) pair; nothing is
    quadratic in |V|."""
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_t"))
    deg = e.groupBy("_s").agg(F.count(F.lit(1)).alias("_deg"))
    wedge_src = e
    if max_degree is not None:
        ok = deg.filter(F.col("_deg") <= max_degree).select("_s")
        wedge_src = e.join(ok, "_s")  # wedges THROUGH capped hubs only
    cn = (wedge_src.select(F.col("_s").alias("_n"), F.col("_t").alias("_a"))
          .join(wedge_src.select(F.col("_s").alias("_n"),
                                 F.col("_t").alias("_b")), "_n")
          .filter(F.col("_a") < F.col("_b"))
          .groupBy("_a", "_b")
          .agg(F.count(F.lit(1)).alias("_cn"))
          .join(e.select(F.col("_s").alias("_a"),
                         F.col("_t").alias("_b")),
                ["_a", "_b"], "left_anti"))
    return (cn
            .join(deg.select(F.col("_s").alias("_a"),
                             F.col("_deg").alias("_deg_a")), "_a")
            .join(deg.select(F.col("_s").alias("_b"),
                             F.col("_deg").alias("_deg_b")), "_b")
            .select(F.col("_a").alias("a"), F.col("_b").alias("b"),
                    F.col("_cn").alias("cn"),
                    F.col("_deg_a").alias("deg_a"),
                    F.col("_deg_b").alias("deg_b")))


def personalized_pagerank(edges: DataFrame, seeds: DataFrame,
                          rounds: int = 3, alpha_ppm: int = 850000,
                          seed_mass: int = 1_000_000_000,
                          src: str = "src", dst: str = "dst",
                          node_col: str = "node") -> DataFrame:
    """Personalized PageRank / random-walk-with-restart in EXACT
    integer arithmetic — the seeded relevance pass that propagates
    trust from a vetted seed set through a link graph (the TrustRank
    shape, Gyongyi et al. 2004) and scores "related nodes" under a
    bounded restart walk.

    Per round: rank'(v) = (alpha_ppm * in(v)) div 1e6
    + [v is seed] * ((1e6 - alpha_ppm) * seed_mass) div 1e6, with
    in(v) the sum of each in-neighbor's floor share
    rank(u) div deg(u); rank0(v) = [v is seed] * seed_mass. Every
    step is BIGINT floor arithmetic, so the result is a pure integer
    function of (graph, seeds, rounds) and an oracle can unroll the
    rounds in SQL with no float convention at all. Floor losses only
    shrink mass (never create it), and dangling mass is dropped —
    standard truncated-RWR semantics. Overflow headroom: total mass
    <= |seeds| * seed_mass, so alpha_ppm * in(v) needs
    |seeds| * seed_mass < 2^63 / 1e6 ~ 9.2e12 — 9000+ seeds at the
    default mass before a caller must scale down.

    Execution shape: per round one broadcast-or-shuffle join of the
    per-node share onto the edge list (keyed on the node id), one sum
    aggregate, one left join back onto the node set, then
    ``localCheckpoint`` to pin plan depth O(1) (the module's L3
    driver-loop discipline). Rounds is a small constant; nothing is
    quadratic in |V| or |E|. Nodes never reached stay at rank 0 and
    still appear in the output (left join + coalesce)."""
    und = edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
    deg = und.groupBy("_a").agg(F.count(F.lit(1)).alias("_deg"))
    nodes = (und.select(F.col("_a").alias("_k"))
             .unionByName(seeds.select(F.col(node_col).alias("_k")))
             .distinct())
    flag = (seeds.select(F.col(node_col).alias("_k")).distinct()
            .withColumn("_f", F.lit(1)))
    base = (nodes.join(flag, "_k", "left")
            .select("_k", F.coalesce("_f", F.lit(0)).alias("_seed"))
            .transform(checkpoint))
    restart = ((1_000_000 - alpha_ppm) * seed_mass) // 1_000_000
    cur = base.select(
        "_k", "_seed",
        (F.col("_seed").cast("long") * F.lit(seed_mass)).alias("_r"))
    for _ in range(rounds):
        shares = (cur.select(F.col("_k").alias("_a"), "_r")
                  .join(deg, "_a")
                  .select("_a", F.expr("_r div _deg").alias("_share")))
        inm = (und.join(shares, "_a")
               .groupBy(F.col("_b").alias("_k"))
               .agg(F.sum("_share").alias("_in")))
        cur = (base.join(inm, "_k", "left")
               .select("_k", "_seed",
                       (F.expr(f"({alpha_ppm} * coalesce(_in, cast(0 as bigint))) div 1000000")
                        + F.col("_seed").cast("long") * F.lit(restart))
                       .alias("_r"))
               .transform(checkpoint))
    return cur.select(F.col("_k").alias(node_col),
                      F.col("_seed").cast("int").alias("is_seed"),
                      F.col("_r").cast("long").alias("rank"))


def bipartite_project(edges: DataFrame, src: str = "u", dst: str = "v",
                      max_src_degree: int | None = None,
                      min_weight: int = 2) -> DataFrame:
    """Bipartite projection: from (u, v) incidence edges (customer
    buys part, user touches file, author cites paper), produce the
    one-mode co-occurrence graph on v — pairs (a < b) with weight =
    number of distinct u incident to BOTH. The graph-construction
    step under market-basket affinity, co-citation networks, and
    item-item collaborative filtering; downstream ops (k-core,
    triangles, link prediction, LPA) consume its output directly.

    Execution shape: distinct the incidence list, then the wedge
    self-join keyed on u grouped on the (a, b) pair — the g21 shape
    on a bipartite base. The hub risk is a single u with a huge
    neighborhood (one mega-basket mints C(d, 2) pairs), so
    ``max_src_degree`` drops over-degree u BEFORE the join (the LSH
    MAX_BUCKET_SIZE discipline), bounding pair generation at
    |edges| * max_src_degree; capped-out baskets carry no
    pair-specific affinity signal at exactly the point they explode.
    All-integer output (a, b, weight)."""
    e = edges.select(F.col(src).alias("_u"),
                     F.col(dst).alias("_v")).distinct()
    if max_src_degree is not None:
        ok = (e.groupBy("_u").agg(F.count(F.lit(1)).alias("_d"))
              .filter(F.col("_d") <= max_src_degree).select("_u"))
        e = e.join(ok, "_u")
    return (e.select(F.col("_u"), F.col("_v").alias("a"))
            .join(e.select(F.col("_u"), F.col("_v").alias("b")), "_u")
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("weight"))
            .filter(F.col("weight") >= min_weight))


def bounded_shortest_paths(edges: DataFrame, sources: DataFrame,
                           rounds: int = 4, src: str = "src",
                           dst: str = "dst", weight_col: str = "w",
                           node_col: str = "node") -> DataFrame:
    """Multi-source WEIGHTED shortest paths to a bounded hop count —
    ``rounds`` synchronous Bellman-Ford relaxations (the
    delta-stepping shape without priority buckets): dist'(v) =
    min(dist(v), min over in-edges (u, v) of dist(u) + w(u, v)).
    BFS (bfs_layers) counts hops; this is its weighted sibling —
    latency maps, cost-to-reach, influence radius under edge costs.
    All-integer: INTEGER edge weights, min() semantics, no float
    anywhere — a pure function of (graph, sources, rounds) an oracle
    unrolls in SQL.

    Execution shape: per round one join of current dists onto the
    edge list (keyed on the node id), one min aggregate, one left
    join back + localCheckpoint (the module's L3 discipline). Nodes
    not reached within ``rounds`` hops are absent from the output
    (the bounded contract — at 100 TB you budget relaxation rounds
    exactly like BFS depth)."""
    und = edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"),
                       F.col(weight_col).cast("long").alias("_w"))
    cur = (sources.select(F.col(node_col).alias("_k")).distinct()
           .withColumn("_d", F.lit(0).cast("long"))
           .transform(checkpoint))
    for _ in range(rounds):
        relaxed = (und.join(cur.withColumnRenamed("_k", "_a"), "_a")
                   .select(F.col("_b").alias("_k"),
                           (F.col("_d") + F.col("_w")).alias("_nd")))
        cur = (cur.withColumnRenamed("_d", "_nd")
               .unionByName(relaxed)
               .groupBy("_k").agg(F.min("_nd").alias("_d"))
               .transform(checkpoint))
    return cur.select(F.col("_k").alias(node_col),
                      F.col("_d").alias("dist"))


def k_truss(edges: DataFrame, k: int = 4,
            max_rounds: int = 8, src: str = "src",
            dst: str = "dst") -> DataFrame:
    """k-truss decomposition step (Cohen 2008): iteratively drop
    edges supported by fewer than k-2 triangles until the edge set
    is stable — the EDGE-level cohesion filter (k-core keeps nodes
    with enough neighbors; k-truss keeps edges embedded in enough
    triangles, the stronger community signal spam-ring and dense
    near-dup cluster analysis uses). Returns the surviving (a, b)
    undirected edge list (a < b).

    Execution shape: per round one triangle-support count — the
    canonical wedge join (edges x und x und on the shared endpoint
    pair), grouped per edge — then a support filter; localCheckpoint
    pins plan depth, and the only driver value per round is the
    surviving-edge count (the convergence probe, the k_core
    discipline). Support counting is the g11 triangle pass cost,
    O(sum deg^2) worst case, degree-bounded on planar/grid graphs;
    rounds are bounded by ``max_rounds``."""
    cur = (edges.select(F.least(src, dst).alias("a"),
                        F.greatest(src, dst).alias("b"))
           .filter(F.col("a") < F.col("b")).distinct()
           .transform(checkpoint))
    n_prev = cur.count()
    for _ in range(max_rounds):
        und = (cur.select("a", "b")
               .unionByName(cur.select(F.col("b").alias("a"),
                                       F.col("a").alias("b"))))
        supp = (cur
                .join(und.select(F.col("a").alias("a"),
                                 F.col("b").alias("_n1"))
                      .withColumnRenamed("a", "a"), "a")
                .join(und.select(F.col("a").alias("b"),
                                 F.col("b").alias("_n2")), "b")
                .filter(F.col("_n1") == F.col("_n2"))
                .groupBy("a", "b")
                .agg(F.count(F.lit(1)).alias("_supp")))
        nxt = (cur.join(supp, ["a", "b"], "left")
               .filter(F.coalesce("_supp", F.lit(0)) >= k - 2)
               .select("a", "b").transform(checkpoint))
        n = nxt.count()
        cur = nxt
        if n == n_prev:
            break
        n_prev = n
    return cur


def hash_random_walks(edges: DataFrame, seeds: DataFrame,
                      steps: int = 3, src: str = "src",
                      dst: str = "dst",
                      node_col: str = "node") -> DataFrame:
    """DeepWalk-style walk-corpus generation with HASH randomness:
    from each seed, ``steps`` transitions where the next hop is the
    neighbor minimizing md5(walk_id:step:neighbor) — a uniform-ish
    choice that is a pure function of (graph, seeds, steps), so the
    walk corpus is replayable (the md5-RNG contract every sampled op
    in this repo uses; true RNG walks are unreplayable and untestable
    cross-engine). Returns (walk_id, step, node) with step 0 = seed.

    The argmin packs (40-bit md5 prefix) * 2^22 + neighbor id into
    one BIGINT (the winnowing pack — ties impossible, node ids up to
    4M), so min() IS the choice. Per step: one join of frontiers
    onto the edge list keyed on the node id + one min aggregate,
    localCheckpoint pinned. A dead-end walk simply stops early."""
    out = (seeds.select(F.col(node_col).alias("walk_id"))
           .distinct()
           .withColumn("step", F.lit(0))
           .withColumn("node", F.col("walk_id"))
           .transform(checkpoint))
    cur = out
    for t in range(1, steps + 1):
        nxt = (cur.select("walk_id", F.col("node").alias("_u"))
               .join(edges.select(F.col(src).alias("_u"),
                                  F.col(dst).alias("_v")), "_u")
               .select("walk_id",
                       (F.conv(F.substring(F.md5(F.concat_ws(
                           ":", F.col("walk_id").cast("string"),
                           F.lit(str(t)),
                           F.col("_v").cast("string"))), 1, 10),
                           16, 10).cast("long") * 4194304
                        + F.col("_v")).alias("_packed"))
               .groupBy("walk_id")
               .agg(F.min("_packed").alias("_m"))
               .select("walk_id", F.lit(t).alias("step"),
                       (F.col("_m") % 4194304).alias("node")))
        cur = nxt.transform(checkpoint)
        out = out.unionByName(cur)
    return out


def hits_scores(edges: DataFrame, rounds: int = 3,
                scale: int = 1_000_000, src: str = "src",
                dst: str = "dst") -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg, JACM 1999) in EXACT
    integer arithmetic: per round, authority(v) = sum of hub(u) over
    in-edges u->v, hub(u) = sum of authority(v) over out-edges, each
    rescaled to [0, scale] by FLOOR division by that round's maximum
    (the integer stand-in for the usual L-infinity normalization —
    exact, engine-replayable, and overflow-safe: post-rescale values
    are <= scale, so a sum is bounded by max_degree * scale). hub0 =
    scale for every node. The result is a pure integer function of
    (graph, rounds), so an oracle unrolls the rounds in SQL with no
    float convention — the personalized_pagerank discipline.

    Execution shape per round: two node-keyed join+sum passes (in-
    edges then out-edges) and two 1-row max aggregates broadcast back
    onto the node set (a BroadcastNestedLoopJoin with a single-row
    build side — the documented g27/d72 pattern, constant cost), then
    ``localCheckpoint`` to pin plan depth O(1). Nothing is quadratic
    in |V| or |E|; nodes without in- (out-) edges hold score 0 via
    left join + coalesce. Returns (node, auth_ppm, hub_ppm)."""
    e = edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
    nodes = (e.select(F.col("_a").alias("_k"))
             .unionByName(e.select(F.col("_b").alias("_k")))
             .distinct().transform(checkpoint))
    hub = nodes.select("_k", F.lit(scale).cast("long").alias("_v"))
    auth = None
    for _ in range(rounds):
        araw = (nodes.join(
                    e.join(hub.select(F.col("_k").alias("_a"), "_v"),
                           "_a")
                    .groupBy(F.col("_b").alias("_k"))
                    .agg(F.sum("_v").alias("_s")), "_k", "left")
                .select("_k", F.coalesce("_s", F.lit(0).cast("long"))
                        .alias("_raw")))
        amax = araw.agg(F.max("_raw").alias("_m"))
        auth = (araw.crossJoin(F.broadcast(amax))
                .select("_k", F.expr(f"_raw * {scale} div _m")
                        .alias("_v")).transform(checkpoint))
        hraw = (nodes.join(
                    e.join(auth.select(F.col("_k").alias("_b"), "_v"),
                           "_b")
                    .groupBy(F.col("_a").alias("_k"))
                    .agg(F.sum("_v").alias("_s")), "_k", "left")
                .select("_k", F.coalesce("_s", F.lit(0).cast("long"))
                        .alias("_raw")))
        hmax = hraw.agg(F.max("_raw").alias("_m"))
        hub = (hraw.crossJoin(F.broadcast(hmax))
               .select("_k", F.expr(f"_raw * {scale} div _m")
                       .alias("_v")).transform(checkpoint))
    return (nodes.join(auth.select(F.col("_k"),
                                   F.col("_v").alias("auth_ppm")),
                       "_k")
            .join(hub.select(F.col("_k"), F.col("_v").alias("hub_ppm")),
                  "_k")
            .select(F.col("_k").alias("node"), "auth_ppm", "hub_ppm"))


def modularity_stats(edges: DataFrame, labels: DataFrame,
                     src: str = "src", dst: str = "dst",
                     node_col: str = "node",
                     label_col: str = "label") -> DataFrame:
    """Newman modularity of a community assignment in EXACT integer
    arithmetic — the quality score that tells you whether a label
    propagation / clustering run found real structure (Q near 0 =
    no better than random, Q > ~0.3 = meaningful communities).
    Per community c: in_c = both-direction intra-community edge rows,
    D_c = sum of member degrees, and the integer CONTRIBUTION
    in_c * 2m - D_c^2 (modularity's per-community term scaled by
    (2m)^2 — Q = sum(contrib) / (2m)^2), which avoids any division
    so no floor-semantics convention is needed even for negative
    terms. Overflow: D_c <= 2m, so contributions need (2m)^2 < 2^63
    — fine below ~3e9 edge rows; shard the label space and rescale
    for graphs beyond that.

    Edge convention as the module header (both directions
    materialized). Plan: two node-keyed label joins onto the edge
    list, one degree aggregate, three small per-label aggregates,
    and the 1-row 2m total broadcast back (the documented single-row
    BNLJ pattern). Returns (label, n_nodes, in_rows, deg_sum,
    two_m, contrib)."""
    und = edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
    lab = labels.select(F.col(node_col).alias("_k"),
                        F.col(label_col).cast("long").alias("_l"))
    two_m = und.agg(F.count(F.lit(1)).alias("two_m"))
    deg = und.groupBy(F.col("_a").alias("_k")) \
        .agg(F.count(F.lit(1)).alias("_deg"))
    dsum = (lab.join(deg, "_k", "left")
            .groupBy("_l")
            .agg(F.count(F.lit(1)).alias("n_nodes"),
                 F.sum(F.coalesce("_deg", F.lit(0))).alias("deg_sum")))
    intra = (und
             .join(lab.select(F.col("_k").alias("_a"),
                              F.col("_l").alias("_la")), "_a")
             .join(lab.select(F.col("_k").alias("_b"),
                              F.col("_l").alias("_lb")), "_b")
             .filter(F.col("_la") == F.col("_lb"))
             .groupBy(F.col("_la").alias("_l"))
             .agg(F.count(F.lit(1)).alias("in_rows")))
    return (dsum.join(intra, "_l", "left")
            .select(F.col("_l").alias(label_col), "n_nodes",
                    F.coalesce("in_rows", F.lit(0).cast("long"))
                    .alias("in_rows"), "deg_sum")
            .crossJoin(F.broadcast(two_m))
            .withColumn("contrib",
                        F.col("in_rows") * F.col("two_m")
                        - F.col("deg_sum") * F.col("deg_sum")))


def cc_two_phase(edges: DataFrame, src: str = "src", dst: str = "dst",
                 max_rounds: int = 30) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii:
    "Connected Components in MapReduce and Beyond", ACM SoCC 2014).

    components.connected_components is min-label propagation —
    O(diameter) rounds, the right tool for the shallow near-dup
    graphs it serves. THIS is the 100 TB-shaped alternative: each
    round contracts toward star forests, converging in O(log^2 n)
    rounds on ANY graph — a trillion-edge path graph finishes in
    ~dozens of rounds where propagation would need a billion.

    Per round (two hash shuffles on node id, nothing quadratic):
      large-star: every node u connects its strictly-larger
        neighbors to m = min(N(u) ∪ {u});
      small-star: grouped by the larger endpoint of each canonical
        edge, u connects itself and its smaller neighbors to the min.
    Both emit (hi, lo) pairs with hi > lo by construction, so the
    edge set stays canonical and self-loop-free; localCheckpoint
    keeps the plan flat; convergence = unchanged (count, md5-sum)
    edge fingerprint, at which point the edges ARE the star forest.

    Accepts edges in either or both directions. Returns (node,
    component) for every node appearing in ``edges`` — component =
    min reachable node id, identical to connected_components.
    """
    e = (edges.select(F.least(F.col(src), F.col(dst)).alias("lo"),
                      F.greatest(F.col(src), F.col(dst)).alias("hi"))
         .filter(F.col("lo") < F.col("hi"))
         .distinct()
         .transform(checkpoint))
    all_nodes = (e.select(F.col("lo").alias("node"))
                 .union(e.select(F.col("hi").alias("node")))
                 .distinct()
                 .transform(checkpoint))

    def _fingerprint(df: DataFrame):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.conv(F.substring(
                F.md5(F.concat_ws(",", "lo", "hi")), 1, 15),
                16, 10).cast("long") % F.lit(10 ** 12)).alias("s")
        ).head()
        return row.n, row.s

    fp = _fingerprint(e)
    for _ in range(max_rounds):
        if fp[0] == 0:
            break
        # -- large-star over symmetric neighborhoods ----------------
        sym = e.union(e.select(F.col("hi").alias("lo"),
                               F.col("lo").alias("hi"))) \
            .toDF("u", "v")
        mins = (sym.groupBy("u").agg(F.min("v").alias("mn"))
                .select("u", F.least("mn", "u").alias("m")))
        large = (sym.join(mins, "u")
                 .filter(F.col("v") > F.col("u"))
                 .select(F.col("m").alias("lo"),
                         F.col("v").alias("hi"))
                 .filter(F.col("lo") < F.col("hi"))
                 .distinct())
        # -- small-star grouped by the larger endpoint --------------
        mins2 = large.groupBy("hi").agg(F.min("lo").alias("m"))
        joined = large.join(mins2, "hi")
        e2 = (joined.select(F.col("m").alias("lo"),
                            F.col("lo").alias("hi"))
              .union(joined.select(F.col("m").alias("lo"),
                                   F.col("hi").alias("hi")))
              .filter(F.col("lo") < F.col("hi"))
              .distinct()
              .transform(checkpoint))
        fp2 = _fingerprint(e2)
        converged = fp2 == fp
        e, fp = e2, fp2
        if converged:
            break
    else:
        raise RuntimeError(f"cc_two_phase did not converge in "
                           f"{max_rounds} rounds")
    # converged star forest: hi -> lo is the component label; roots
    # and isolated nodes label themselves.
    lbl = e.select(F.col("hi").alias("node"),
                   F.col("lo").alias("component"))
    return (all_nodes.join(lbl, "node", "left")
            .select("node", F.coalesce("component", "node")
                    .alias("component")))


def association_rules(edges: DataFrame, src: str = "u",
                      dst: str = "v",
                      max_src_degree: int | None = None,
                      min_weight: int = 2) -> DataFrame:
    """Association-rule metrics over (basket, item) incidence — the
    Apriori readout (Agrawal & Srikant 1994) on top of the
    bipartite_project wedge join: for each co-occurring item pair
    (a < b), support and both confidences as exact ppm floor
    divisions, and lift UNDIVIDED as (lift_num, lift_den) =
    (n_ab * n_baskets, n_a * n_b) — everything nonnegative integers,
    so the whole page replays in SQL. Same mega-basket discipline as
    bipartite_project: ``max_src_degree`` drops over-degree baskets
    BEFORE the wedge join, and the capped incidence set is the one
    the marginals and basket count are measured on (metrics stay
    internally consistent). The basket total reaches the pair rows
    as a 1-row broadcast — the documented single-row pattern.
    Returns (a, b, n_ab, n_a, n_b, support_ppm, conf_ab_ppm,
    conf_ba_ppm, lift_num, lift_den)."""
    e = edges.select(F.col(src).alias("_u"),
                     F.col(dst).alias("_v")).distinct()
    if max_src_degree is not None:
        ok = (e.groupBy("_u").agg(F.count(F.lit(1)).alias("_d"))
              .filter(F.col("_d") <= max_src_degree).select("_u"))
        e = e.join(ok, "_u")
    pairs = (e.select("_u", F.col("_v").alias("a"))
             .join(e.select("_u", F.col("_v").alias("b")), "_u")
             .filter(F.col("a") < F.col("b"))
             .groupBy("a", "b")
             .agg(F.count(F.lit(1)).alias("n_ab"))
             .filter(F.col("n_ab") >= min_weight))
    item = e.groupBy(F.col("_v").alias("_i")) \
        .agg(F.count(F.lit(1)).alias("_n"))
    nb = e.agg(F.countDistinct("_u").alias("n_baskets"))
    j = (pairs
         .join(item.select(F.col("_i").alias("a"),
                           F.col("_n").alias("n_a")), "a")
         .join(item.select(F.col("_i").alias("b"),
                           F.col("_n").alias("n_b")), "b")
         .crossJoin(nb))
    return j.select(
        "a", "b", "n_ab", "n_a", "n_b",
        F.expr("n_ab * 1000000 div n_baskets").alias("support_ppm"),
        F.expr("n_ab * 1000000 div n_a").alias("conf_ab_ppm"),
        F.expr("n_ab * 1000000 div n_b").alias("conf_ba_ppm"),
        (F.col("n_ab") * F.col("n_baskets")).alias("lift_num"),
        (F.col("n_a") * F.col("n_b")).alias("lift_den"))
