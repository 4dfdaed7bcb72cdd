"""Queen-contiguity border extraction (reference pycart/border_util.py:5-91, A4).

Queen contiguity (as computed by libpysal, which the reference uses at
border_util.py:28) declares two polygons neighbours iff they share at
least one vertex. That definition is exactly a **vertex-equality
self-join**, which Spark does natively:

    vertices = explode(st_vertices(geom))      # one row per ring vertex
    pairs    = vertices ⋈ vertices on (x, y)   # hash shuffle on vertex key
    borders  = distinct (focal, neighbor) pairs, focal != neighbor

No UDF in the join path; the only pandas UDFs are vertex extraction and
the shared-border-length weight (border_util.py:44,70), both Arrow-batched.
Scales to planar partitions of any size: the shuffle key is the vertex
coordinate, and real-world polygon maps have bounded vertex fan-in (a
vertex is shared by a handful of polygons), so no skew.

The reference returns the borders keyed by **positional row index**
(border_util.py:63) and separately a list of islands — regions with no
neighbours (border_util.py:31-39). We reproduce both: `focal`/`neighbor`
are the caller-supplied (or generated) region index, and islands come from
an anti-join (R15).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ecmm428_pycart_spark.geometry import core
from ecmm428_pycart_spark.geometry.udfs import st_shared_border_length, st_vertices

# Vertices are matched after rounding to this many decimals; GeoJSON/WKT
# text gives byte-identical doubles for shared vertices, rounding guards
# against last-ulp drift introduced by upstream float math.
_VERTEX_DECIMALS = 9


def with_region_idx(df: DataFrame, id_field: str,
                    idx_field: str | None = None) -> DataFrame:
    """Materialize the reference's positional region index (SURVEY.md §1.4).

    If the source already carries a positional column (e.g. the GeoJSON
    reader's `feature_index`), pass it as `idx_field`. Otherwise a
    deterministic index is generated by `row_number()` over `id_field`
    ordering (documented deviation: the reference keys by raw row
    position, which Spark does not have).
    """
    if idx_field is not None:
        return df.withColumn("region_idx", F.col(idx_field).cast("long"))
    w = W.orderBy(F.col(id_field))
    return df.withColumn("region_idx", F.row_number().over(w).cast("long") - 1)


def region_index(keys) -> np.ndarray:
    """``with_region_idx(df, id_field)`` over one local column of keys:
    each row's 0-based position in ascending key order, nulls first
    (Spark's ascending default), ties in arrival order."""
    order = (pd.Series(keys).reset_index(drop=True)
             .sort_values(kind="stable", na_position="first").index)
    idx = np.empty(len(order), dtype="i8")
    idx[order.to_numpy()] = np.arange(len(order))
    return idx


def queen_neighbors(regions: DataFrame, geo_field: str = "geometry") -> DataFrame:
    """Directed neighbour pairs (focal, neighbor) by shared-vertex rule.

    Formulated as ONE aggregation, not a vertex self-join: group vertex
    rows by coordinate, collect the (tiny, fan-in-bounded) set of regions
    touching each vertex, and explode its ordered pairs. A self-join
    would execute the vertex-extraction UDF and its distinct shuffle
    twice — Python-UDF subplans are not exchange-reused across join
    sides. Per-vertex fan-in is bounded in planar maps (≤4 for grids),
    so collect_set stays O(1) per group and the pair explosion is
    skew-free."""
    verts = (
        regions.select("region_idx", F.explode(st_vertices(F.col(geo_field))).alias("v"))
        .select(
            "region_idx",
            F.round(F.col("v.x"), _VERTEX_DECIMALS).alias("vx"),
            F.round(F.col("v.y"), _VERTEX_DECIMALS).alias("vy"),
        )
    )
    return (
        verts.groupBy("vx", "vy")
        .agg(F.collect_set("region_idx").alias("_ks"))
        .filter(F.size("_ks") >= 2)
        .select(F.explode("_ks").alias("focal"), "_ks")
        .select("focal", F.explode("_ks").alias("neighbor"))
        .filter(F.col("focal") != F.col("neighbor"))
        .distinct()
    )


def queen_borders(geoms):
    """``get_borders(...)[0]`` over local parsed geometries listed in
    region-index order: directed (focal, neighbor, weight) arrays of list
    positions, sorted by (focal, neighbor).

    Two regions are Queen neighbours iff they share a vertex after
    rounding to ``_VERTEX_DECIMALS`` (numpy's half-even rounding; it can
    group differently from Spark's half-up ``round`` only for distinct
    vertices less than 1e-9 apart). The weight is the shared boundary
    length of the lower-index geometry against the higher, mirrored — the
    argument order get_borders uses, so the weights are the same doubles.
    All pairs go through one ``core.shared_boundary_lengths`` call."""
    owners: dict[tuple, set] = {}
    for r, g in enumerate(geoms):
        for v in map(tuple, np.round(core.vertices(g), _VERTEX_DECIMALS)
                     .tolist()):
            owners.setdefault(v, set()).add(r)
    und = {(i, j) for rs in owners.values() for i in rs for j in rs if i < j}
    a, b = np.array(list(und), dtype="i8").reshape(-1, 2).T
    w = core.shared_boundary_lengths(
        [(geoms[i], geoms[j]) for i, j in zip(a.tolist(), b.tolist())])
    focal = np.concatenate([a, b])
    neighbor = np.concatenate([b, a])
    weight = np.concatenate([w, w])
    o = np.lexsort((neighbor, focal))
    return focal[o], neighbor[o], weight[o]


def get_borders(regions: DataFrame, id_field: str,
                geo_field: str = "geometry",
                idx_field: str | None = None):
    """Borders edge table + islands (reference `get_borders`, A4).

    Returns ``(borders, islands)``:

    - ``borders``: focal(long), neighbor(long), weight(double) — plus
      focal_id / neighbor_id carrying `id_field` values (engine extension;
      positional ints alone are fragile in a distributed setting).
      weight = length of the shared border; 0.0 for corner-only contact
      (matches intersection().length at border_util.py:44,70).
    - ``islands``: regions with no Queen neighbours (border_util.py:31-39);
      empty DataFrame (not None) when there are none.
    """
    idx = with_region_idx(regions, id_field, idx_field)
    idx = idx.select("region_idx", F.col(id_field).alias("_rid"),
                     F.col(geo_field).alias("_geom"))
    pairs = queen_neighbors(idx.withColumnRenamed("_geom", "geometry"),
                            geo_field="geometry")

    fgeo = idx.select(F.col("region_idx").alias("focal"),
                      F.col("_rid").alias("focal_id"),
                      F.col("_geom").alias("_fg"))
    ngeo = idx.select(F.col("region_idx").alias("neighbor"),
                      F.col("_rid").alias("neighbor_id"),
                      F.col("_geom").alias("_ng"))
    # weight is symmetric — run the (expensive) intersection-length UDF
    # once per undirected pair, then mirror for the directed edge list.
    # repartition the (int-only) pair list first: AQE coalesces the tiny
    # vertex-join shuffle to 1-2 partitions, which would serialize the
    # Python UDF work — spread it across all cores before attaching the
    # geometry blobs (cheap shuffle: two longs per row)
    par = regions.sparkSession.sparkContext.defaultParallelism
    und = (pairs.filter(F.col("focal") < F.col("neighbor"))
           .join(fgeo, "focal").join(ngeo, "neighbor")
           .repartition(par, "focal")
           .withColumn("weight",
                       st_shared_border_length(F.col("_fg"), F.col("_ng")))
           .select("focal", "neighbor", "weight", "focal_id", "neighbor_id"))
    # Mirror to the directed edge list INSIDE one pass: explode a 2-array
    # of (focal→neighbor, neighbor→focal) structs. A union of two selects
    # over `und` would plan the whole vertex-join + weight-UDF pipeline
    # twice (no exchange reuse across the post-shuffle UDF stage) —
    # measured 2× the borders wall time at 15k regions.
    borders = (und.select(F.explode(F.array(
        F.struct(F.col("focal"), F.col("neighbor"), F.col("weight"),
                 F.col("focal_id"), F.col("neighbor_id")),
        F.struct(F.col("neighbor").alias("focal"),
                 F.col("focal").alias("neighbor"), F.col("weight"),
                 F.col("neighbor_id").alias("focal_id"),
                 F.col("focal_id").alias("neighbor_id")))).alias("_e"))
        .select("_e.*"))

    islands = (
        idx.join(pairs.select(F.col("focal").alias("region_idx")).distinct(),
                 "region_idx", "left_anti")
        .select("region_idx", F.col("_rid").alias(id_field))
    )
    return borders, islands
