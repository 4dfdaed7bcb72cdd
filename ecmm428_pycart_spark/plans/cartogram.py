"""Cartogram macro-operators (reference pycart/cartogram.py — A1/A2/A3).

`Cartogram` binds a DataFrame + column names exactly like the reference's
constructor (pycart/cartogram.py:142-170) and exposes:

- ``non_contiguous`` — Olson 1976 non-contiguous cartogram
  (pycart/cartogram.py:172-243): one lazy DataFrame DAG, embarrassingly
  parallel, no driver loop.
- ``dorling`` — Dorling 1996 circle cartogram
  (pycart/cartogram.py:245-414) in two execution modes:

  * ``mode='reference'`` — exact parity with the reference's sequential
    Gauss–Seidel sweep (SURVEY.md Q1). The whole mode — region index,
    Queen borders, centroids, perimeters, radius calibration and the
    sweep — runs as ONE single-group applyInPandas task
    (``dorling_core.reference_layout``), collected when called: no
    distributed setup; two Spark jobs per call (three with ``borders``)
    and one more to read the circle polygons. Bounded by one executor
    (fine: reference workloads are ≤ ~400 regions).
  * ``mode='scalable'`` — synchronous Jacobi iteration: grid-bucket
    distance join + native-column force math + groupBy(focal) agg per
    step, localCheckpoint each iteration to truncate lineage. Safe at
    cluster scale; documented deviation from the reference's
    order-dependent updates (converges to an equivalent layout).
"""

from __future__ import annotations

import math
import os

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ecmm428_pycart_spark.geometry.udfs import (
    centroid_cols,
    st_area,
    st_buffer_point,
    st_perimeter,
    st_scale_about_centroid,
)
from ecmm428_pycart_spark.operators.borders import (get_borders, region_index,
                                                    with_region_idx)
from ecmm428_pycart_spark.operators.spatial_join import distance_range_self_join
from ecmm428_pycart_spark.plans import dorling_core


def _ckpt(df: DataFrame) -> DataFrame:
    """Plan-truncating localCheckpoint, LAZY by default (r14 "fewer
    jobs" lever): eager=False compiles the physical plan and wraps its
    (persisted) RDD exactly like eager=True — same LogicalRDD, same
    lineage truncation, so the per-iteration 3^k plan blowup the r12
    cadence probe measured cannot return — but defers materialization
    to the query's terminal action. The N checkpoint jobs a dorling
    call used to run (one per setup stage + one per Jacobi iteration)
    collapse into that one job, whose stages read each intermediate
    from the persist-on-first-compute cache; per-round driver job
    latency (the measured dorling wall: the r13 profile put g08's 3
    iterations at ~0.8-2.3s against ~0.2-1s/round scheduling latency
    under contention) is paid once, not N times. Results are
    byte-identical: the compiled plans, partitioning and float
    accumulation orders are unchanged — only WHEN the same RDDs run.
    ``SPARK_GRAFT_DORLING_LAZYCKPT_OFF=1`` restores the eager
    per-stage jobs (the A/B arm)."""
    eager = os.environ.get("SPARK_GRAFT_DORLING_LAZYCKPT_OFF") == "1"
    return df.localCheckpoint(eager=eager)


# no Queen edges at all (single region / all islands): the reference
# divides by zero here (cartogram.py:335); we fail fast with this instead
_NO_EDGES = ("dorling: no contiguity edges — every region is an island, "
             "radius calibration k = D/R is undefined (reference would "
             "raise ZeroDivisionError)")


class Cartogram:
    """Binds a dataset + column names; no computation until an algorithm
    is called (pycart/cartogram.py:142-170, A1)."""

    # Below this many regions the per-iteration borders/forces joins are
    # broadcast; above it they stay shuffle joins. The broadcast build
    # side is the DIRECTED borders edge list, ~8 edges/region × ~40 B ≈
    # 32 MB at 100k regions — comfortably under executor/driver limits.
    # 1M regions would push it past 300 MB (repeated every iteration),
    # so the ceiling sits at 100k; raise only with a measured edge count.
    _BROADCAST_REGIONS = 100_000

    def __init__(self, df: DataFrame, value_field: str, id_field: str,
                 geometry_field: str = "geometry", idx_field: str | None = None,
                 borders: DataFrame | None = None):
        missing = [c for c in (value_field, id_field, geometry_field)
                   if c not in df.columns]
        if idx_field is not None and idx_field not in df.columns:
            missing.append(idx_field)
        if missing:
            raise ValueError(
                f"Cartogram: column(s) {missing} not in DataFrame "
                f"(has {df.columns}). The reference fails late with a "
                f"KeyError here (SURVEY.md §1.4); we fail fast.")
        if borders is not None:
            need = {"focal", "neighbor", "weight"}
            if not need.issubset(borders.columns):
                raise ValueError(
                    f"Cartogram: precomputed borders must carry {need}, "
                    f"got {borders.columns}")
        self.df = df
        self.value_field = value_field
        self.id_field = id_field
        self.geo_field = geometry_field
        self.idx_field = idx_field
        # r14: a precomputed Queen-borders edge table (the write-once
        # borders store). MUST equal get_borders(...)[0] over this df's
        # (idx, geometry) — the store is row-identity-pinned against
        # fresh output (tests/test_borders_store.py); the setup then
        # skips the vertex join + weight UDF (~1.8s vs 0.26s at 15k
        # regions, measured this round).
        self._borders = borders

    # ------------------------------------------------------------------
    # Non-contiguous (A2)
    # ------------------------------------------------------------------
    def non_contiguous(self, size_value: float = 1.0) -> DataFrame:
        """Scale each region about its centroid by sqrt(density / anchor
        density) * size_value (pycart/cartogram.py:219-243).

        The anchor (max density) stays in-plan via a broadcast 1-row
        cross-join — no unpartitioned window, no driver round-trip, so the
        whole thing is one Catalyst DAG that scales.
        """
        v, i, g = self.value_field, self.id_field, self.geo_field
        geodf = (self.df.select(v, i, g)
                 .withColumn("_area", st_area(F.col(g)))
                 .withColumn("density", F.col(v) / F.col("_area")))
        anchor = geodf.agg(F.max("density").alias("_anchor"))
        return (
            geodf.crossJoin(F.broadcast(anchor))
            .withColumn("scale",
                        F.sqrt(F.col("density") / F.col("_anchor"))
                        * F.lit(float(size_value)))
            .withColumn(g, st_scale_about_centroid(F.col(g), F.col("scale")))
            .select(v, i, g, "scale")
        )

    # ------------------------------------------------------------------
    # Dorling (A3)
    # ------------------------------------------------------------------
    def _dorling_setup(self, materialize_borders: bool = False):
        """Distributed setup of the scalable mode and ``dorling_radii``
        (pycart/cartogram.py:308-341): borders, perimeters, centroids,
        radius calibration k = ΣD/ΣR over the directed edge list
        (SURVEY.md Q5), radii, widest.

        Returns (state_df, borders_df, widest). state has columns
        region_idx, id, value, cx, cy, radius, perimeter.

        ``materialize_borders`` checkpoints the borders pipeline (vertex
        join + weight UDF) eagerly — pass True when borders will be
        re-consumed per iteration (scalable mode); the extra action is a
        net loss for the one-shot ``dorling_radii``.
        """
        v, i, g = self.value_field, self.id_field, self.geo_field
        cols = [v, i, g]
        if self.idx_field is not None and self.idx_field not in cols:
            cols.append(self.idx_field)
        base = with_region_idx(self.df.select(*cols), i, self.idx_field)
        # setup fans out into 4+ branches (vertex join, weight join,
        # centroid/perimeter, calibration aggregates) that would each
        # re-execute the upstream plan (often ingest UDFs) — materialize
        # once so every branch reads the checkpointed partitions.
        # dict.fromkeys dedupes when id_field == idx_field == "region_idx".
        base = _ckpt(base.select(*dict.fromkeys([v, i, g, "region_idx"])))
        if self._borders is not None:
            borders = self._borders
        else:
            borders, _islands = get_borders(base, i, g,
                                            idx_field="region_idx")
        if materialize_borders and self._borders is None:
            borders = _ckpt(borders)

        regions = centroid_cols(base, geom_col=g, prefix="c")
        regions = regions.withColumn("perimeter", st_perimeter(F.col(g)))
        regions = regions.select(
            "region_idx", F.col(i).alias("_id"), F.col(v).alias("_value"),
            "cx", "cy", "perimeter",
        )

        pos = regions.select("region_idx", "cx", "cy", "_value")
        f = pos.select(F.col("region_idx").alias("focal"),
                       F.col("cx").alias("_fx"), F.col("cy").alias("_fy"),
                       F.col("_value").alias("_fv"))
        n = pos.select(F.col("region_idx").alias("neighbor"),
                       F.col("cx").alias("_nx"), F.col("cy").alias("_ny"),
                       F.col("_value").alias("_nv"))
        edge = borders.join(f, "focal").join(n, "neighbor")
        # ONE driver round trip for all loop-control scalars: the edge
        # calibration sums and the region stats are independent 1-row
        # aggregates, crossJoined and collected together. widest is
        # derived as k·max(unit radius) — bit-identical to
        # max(unit radius·k) because multiplying by a positive scalar is
        # monotone under IEEE rounding.
        sums = edge.agg(
            F.sum(F.hypot(F.col("_nx") - F.col("_fx"),
                          F.col("_ny") - F.col("_fy"))).alias("total_distance"),
            F.sum(F.sqrt(F.col("_fv") / math.pi)
                  + F.sqrt(F.col("_nv") / math.pi)).alias("total_radius"),
        )
        stats = regions.agg(
            F.max(F.sqrt(F.col("_value") / math.pi)).alias("_maxur"),
            F.count(F.lit(1)).alias("_n"))
        row = sums.crossJoin(stats).collect()[0]
        if row["total_radius"] is None or float(row["total_radius"]) == 0.0:
            raise ValueError(_NO_EDGES)
        k = float(row["total_distance"]) / float(row["total_radius"])

        state = regions.withColumn(
            "radius", F.sqrt(F.col("_value") / math.pi) * F.lit(k))
        self._n_regions = int(row["_n"])
        return state, borders, float(row["_maxur"]) * k

    def dorling_radii(self) -> DataFrame:
        """The dorling radius calibration as a standalone DataFrame
        (region_idx, id, value, radius) — pycart/cartogram.py:320-338
        without the force loop. Oracle-checkable (SURVEY.md Q5: the k
        coefficient sums run over the directed borders edge list)."""
        state, _borders, _widest = self._dorling_setup()
        return state.select("region_idx", F.col("_id").alias("id"),
                            F.col("_value").alias("value"), "radius")

    def dorling(self, iterations: int = 100, ratio: float = 0.4,
                friction: float = 0.5, stop: int | None = None,
                mode: str = "reference") -> DataFrame:
        """Dorling cartogram; returns one circle polygon per region
        (columns: id, value, region_idx, cx, cy, radius, geometry).

        The reference rebuilds all buffers after every single-region move
        and keeps only the last (Q2); we buffer once after the loop —
        identical result, O(n²·iters) fewer buffer calls.
        """
        if mode == "reference":
            moved = self._dorling_fused(iterations, ratio, friction, stop)
        elif mode == "scalable":
            state, borders, widest = self._dorling_setup(
                materialize_borders=True)
            moved = self._dorling_scalable(state, borders, widest,
                                           iterations, ratio, friction, stop)
        else:
            raise ValueError(f"unknown dorling mode: {mode}")

        return (
            moved.withColumn("geometry",
                             st_buffer_point(F.col("cx"), F.col("cy"),
                                             F.col("radius")))
            .select(F.col("_id").alias(self.id_field),
                    F.col("_value").alias(self.value_field),
                    "region_idx", "cx", "cy", "radius", "geometry")
        )

    def _dorling_fused(self, iterations, ratio, friction, stop):
        """Reference mode as one task: a single-group applyInPandas over
        the input rows (cogrouped with ``borders`` when given) runs
        ``dorling_core.reference_layout``. Its ≤ hundreds of rows are
        collected here so an all-islands map fails at call time; the
        result is returned as a local DataFrame."""
        v, i, g = self.value_field, self.id_field, self.geo_field
        by_idx = self.idx_field is not None
        key = F.col(self.idx_field).cast("long") if by_idx else F.col(i)
        rows = self.df.select(
            key.alias("_key"), F.col(i).cast("string").alias("_id"),
            F.col(v).cast("double").alias("_value"),
            F.col(g).alias("_geom"), F.lit(1).alias("_g"))
        out_schema = ("region_idx long, _id string, _value double, "
                      "cx double, cy double, radius double")

        def run(left, borders=None):
            idx = (left["_key"].to_numpy() if by_idx
                   else region_index(left["_key"]))
            got = dorling_core.reference_layout(
                idx, left["_value"], left["_geom"], borders=borders,
                iterations=iterations, ratio=ratio, friction=friction,
                stop=stop)
            if got is None:
                return pd.DataFrame(columns=["region_idx", "_id", "_value",
                                             "cx", "cy", "radius"])
            x, y, radius = got
            return pd.DataFrame({"region_idx": idx, "_id": left["_id"],
                                 "_value": left["_value"], "cx": x, "cy": y,
                                 "radius": radius})

        # one-argument lambda: applyInPandas reads a two-argument
        # function as (key, pdf)
        if self._borders is None:
            out = rows.groupBy("_g").applyInPandas(
                lambda left: run(left), schema=out_schema)
        else:
            rhs = (self._borders.select("focal", "neighbor", "weight")
                   .withColumn("_g", F.lit(1)))
            out = rows.groupBy("_g").cogroup(rhs.groupBy("_g")).applyInPandas(
                lambda left, right: run(left, (right["focal"],
                                               right["neighbor"],
                                               right["weight"])),
                schema=out_schema)
        # Arrow both ways: a local frame built from pandas is ~6x faster
        # to read back than one built from collected Rows
        pdf = out.toPandas()
        if pdf.empty:
            raise ValueError(_NO_EDGES)
        return self.df.sparkSession.createDataFrame(pdf, out_schema)

    def _dorling_scalable(self, state, borders, widest,
                          iterations, ratio, friction, stop):
        """Synchronous Jacobi iteration, fully distributed.

        Per step: grid-bucket candidate join (cell = 2·widest, the max
        possible interaction distance) → per-pair force components as
        native columns (CASE WHEN, whole-stage codegen) → one shuffle on
        groupBy(focal) → position update join. localCheckpoint truncates
        lineage so plan size stays O(1) across iterations.

        Checkpoint cadence is every iteration deliberately: measured
        every-3rd-iteration checkpointing is ~30-50% slower here because
        the un-truncated plan replays the grid join chain 3× deep —
        materializing the (small) state each step is the cheaper side of
        the trade at every scale tested (144-1600 regions). Since r14
        the checkpoints are LAZY (see ``_ckpt``): the cadence and the
        compiled plans are identical, but the per-iteration
        materialization jobs collapse into the query's terminal action.

        The borders join and the force→position join are per-region-sized
        sides; below _BROADCAST_REGIONS they are broadcast (measured 4×
        faster at 15k regions: shuffle-stage overhead dominates tiny
        data), above it they stay shuffle hash joins on region_idx.
        """
        bw = borders.select(
            F.col("focal").alias("f_region_idx"),
            F.col("neighbor").alias("n_region_idx"),
            "weight")
        small = getattr(self, "_n_regions", None) is not None \
            and self._n_regions <= self._BROADCAST_REGIONS
        hint = F.broadcast if small else (lambda df: df)
        cur = _ckpt(state)
        n_iter = iterations if stop is None else min(iterations, stop)
        for _ in range(n_iter):
            cand = distance_range_self_join(
                cur.select("region_idx", "cx", "cy", "radius", "perimeter"),
                "cx", "cy", max_dist=2.0 * widest, key="region_idx")
            cand = cand.filter(
                (F.col("dist") > 0)
                & (F.col("dist") < F.lit(widest) + F.col("f_radius")))
            pair = cand.join(hint(bw), ["f_region_idx", "n_region_idx"], "left")
            ov = (F.col("n_radius") + F.col("f_radius")) - F.col("dist")
            dxu = (F.col("n_cx") - F.col("f_cx")) / F.col("dist")
            dyu = (F.col("n_cy") - F.col("f_cy")) / F.col("dist")
            att_ov = F.when(
                F.col("weight").isNotNull(),
                F.abs(ov) * F.col("weight") / F.col("f_perimeter")
            ).otherwise(ov)
            pair = pair.select(
                "f_region_idx", "dist",
                F.when(ov > 0, -ov * dxu).otherwise(0.0).alias("_xr"),
                F.when(ov > 0, -ov * dyu).otherwise(0.0).alias("_yr"),
                F.when(ov <= 0, att_ov * dxu).otherwise(0.0).alias("_xa"),
                F.when(ov <= 0, att_ov * dyu).otherwise(0.0).alias("_ya"),
            )
            forces = pair.groupBy("f_region_idx").agg(
                F.sum("_xr").alias("xrepel"), F.sum("_yr").alias("yrepel"),
                F.sum("_xa").alias("xattract"), F.sum("_ya").alias("yattract"),
                F.min("dist").alias("_mind"),
            )
            j = cur.join(hint(forces),
                         cur["region_idx"] == forces["f_region_idx"], "left")
            closest = F.when(F.col("_mind").isNull() | (F.col("_mind") > widest),
                             F.lit(widest)).otherwise(F.col("_mind"))
            xr = F.coalesce(F.col("xrepel"), F.lit(0.0))
            yr = F.coalesce(F.col("yrepel"), F.lit(0.0))
            xa = F.coalesce(F.col("xattract"), F.lit(0.0))
            ya = F.coalesce(F.col("yattract"), F.lit(0.0))
            rd = F.hypot(xr, yr)
            ad = F.hypot(xa, ya)
            clamp = rd > closest
            xr2 = F.when(clamp, closest * xr / (rd + 1.0)).otherwise(xr)
            yr2 = F.when(clamp, closest * yr / (rd + 1.0)).otherwise(yr)
            rd2 = F.when(clamp, closest).otherwise(rd)
            xa_c = F.when(ad > closest, closest * xa / (ad + 1.0)).otherwise(xa)
            ya_c = F.when(ad > closest, closest * ya / (ad + 1.0)).otherwise(ya)
            xtotal = F.when(rd2 > 0,
                            (1.0 - ratio) * xr2 + ratio * (rd2 * xa / (ad + 1.0))
                            ).otherwise(xa_c)
            ytotal = F.when(rd2 > 0,
                            (1.0 - ratio) * yr2 + ratio * (rd2 * ya / (ad + 1.0))
                            ).otherwise(ya_c)
            cur = _ckpt(j.select(
                "region_idx", "_id", "_value", "perimeter", "radius",
                (F.col("cx") + friction * xtotal).alias("cx"),
                (F.col("cy") + friction * ytotal).alias("cy"),
            ))
        return cur
