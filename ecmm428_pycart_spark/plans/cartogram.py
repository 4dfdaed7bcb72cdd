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
  * ``mode='scalable'`` — synchronous Jacobi iteration, K =
    min(iterations left, ``K_MAX``) steps per exchange: every region
    goes to its grid cell and, as a ghost, to the 8 cells around it;
    the cell side is the K-step dependency radius that the per-step
    movement bound gives (``dorling_core.halo_reach``: 2·widest at
    K = 1, 5·widest at K = 2 with the defaults). One applyInPandas per
    bucket of cells runs the vectorised K-step force kernel
    (``dorling_core.halo_step``), the id and value ride on owned rows
    so nothing is joined back, and a lazy localCheckpoint per exchange
    truncates lineage. Positions equal iterated ``jacobi_step`` bit for
    bit. Safe at cluster scale; documented deviation from the
    reference's order-dependent updates (converges to an equivalent
    layout).
"""

from __future__ import annotations

import math

import numpy as np
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
from ecmm428_pycart_spark.plans import dorling_core
from ecmm428_pycart_spark.session import checkpoint


# exact sum type for the radius calibration: 20 integer digits, 18
# fractional ones
_EXACT = "decimal(38,18)"


def _unit(value_col: str):
    """Unit radius: the radius of a circle of area ``value``."""
    return F.sqrt(F.col(value_col) / math.pi)


# no Queen edges at all (single region / all islands): the reference
# divides by zero here (cartogram.py:335); we fail fast with this instead
_NO_EDGES = ("dorling: no contiguity edges — every region is an island, "
             "radius calibration k = D/R is undefined (reference would "
             "raise ZeroDivisionError)")


class Cartogram:
    """Binds a dataset + column names; no computation until an algorithm
    is called (pycart/cartogram.py:142-170, A1)."""

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
        whole thing is one Catalyst DAG that scales. Both branches read
        the density through one lazy checkpoint, so the area UDF runs
        once per region, not once per branch.
        """
        v, i, g = self.value_field, self.id_field, self.geo_field
        geodf = checkpoint(self.df.select(v, i, g)
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
    def _dorling_setup(self, scalable: bool = False):
        """Distributed setup of the scalable mode and ``dorling_radii``
        (pycart/cartogram.py:308-341): borders, perimeters, centroids,
        radius calibration k = ΣD/ΣR over the directed edge list
        (SURVEY.md Q5), radii, widest.

        Returns (state_df, borders_df, widest). state has columns
        region_idx, id, value, cx, cy, radius, perimeter.

        ``scalable`` materialises what the scalable mode reads again
        after the calibration: the borders pipeline (vertex join +
        weight UDF, read again to attach the weights) and, eagerly, the
        regions with their centroid/perimeter UDF columns. Both are a
        net loss for the one-shot ``dorling_radii`` (measured: g03 and
        q41 slower with the eager regions checkpoint).
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
        base = checkpoint(
            base.select(*dict.fromkeys([v, i, g, "region_idx"])))
        if self._borders is not None:
            borders = self._borders
        else:
            borders, _islands = get_borders(base, i, g,
                                            idx_field="region_idx")
        if scalable and self._borders is None:
            borders = checkpoint(borders)

        regions = centroid_cols(base, geom_col=g, prefix="c")
        regions = regions.withColumn("perimeter", st_perimeter(F.col(g)))
        regions = regions.select(
            "region_idx", F.col(i).alias("_id"), F.col(v).alias("_value"),
            "cx", "cy", "perimeter",
        )
        if scalable:
            # eager: the calibration collect below runs two concurrent
            # map stages over regions, and state reads it again; a lazy
            # checkpoint would still run the UDFs twice
            regions = regions.localCheckpoint(eager=True)

        # ONE driver round trip for all loop-control scalars: the edge
        # calibration sums and the widest unit radius are one aggregate
        # over edge rows and region rows, so the collect runs one
        # exchange. The sums are decimal, hence exact: a double sum
        # depends on the order partial sums arrive in, and k with it.
        # widest is derived as k·max(unit radius) — bit-identical to
        # max(unit radius·k) because multiplying by a positive scalar is
        # monotone under IEEE rounding. Both joins read one positions
        # frame, so they share its broadcast.
        pos = regions.select("region_idx", "cx", "cy", "_value")
        f, n = pos.alias("f"), pos.alias("n")
        nothing = F.lit(None).cast("double")
        edge = (borders.join(f, F.col("focal") == F.col("f.region_idx"))
                .join(n, F.col("neighbor") == F.col("n.region_idx"))
                .select(F.hypot(F.col("n.cx") - F.col("f.cx"),
                                F.col("n.cy") - F.col("f.cy")).alias("_d"),
                        (_unit("f._value") + _unit("n._value")).alias("_r"),
                        nothing.alias("_u")))
        row = edge.unionByName(regions.select(
            nothing.alias("_d"), nothing.alias("_r"),
            _unit("_value").alias("_u"))).agg(
            F.sum(F.col("_d").cast(_EXACT)).alias("total_distance"),
            F.sum(F.col("_r").cast(_EXACT)).alias("total_radius"),
            F.max("_u").alias("_maxur")).collect()[0]
        if row["total_radius"] is None or float(row["total_radius"]) == 0.0:
            raise ValueError(_NO_EDGES)
        k = float(row["total_distance"]) / float(row["total_radius"])

        state = regions.withColumn("radius", _unit("_value") * F.lit(k))
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
                scalable=True)
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
        """Synchronous Jacobi iteration, up to ``K_MAX`` steps per
        exchange.

        An exchange of K steps sends every region to its home cell and,
        as a ghost, to the 8 cells around it (``_halo``); cells have
        side ``dorling_core.halo_reach(K, …)[0]``, the farthest a region
        can sit and still reach an owned region within K steps, so an
        owned region finds every region it depends on in its own cell.
        Cells are grouped into ``spark.sql.shuffle.partitions`` buckets;
        one applyInPandas per bucket runs the vectorised K-step kernel
        ``dorling_core.halo_step`` (grouping by cell instead pays pandas
        overhead per cell: ~3x slower measured). Forces are summed in
        ascending neighbour region_idx, so positions do not depend on
        partitioning or AQE. Each region's Queen weights ride along as
        two array columns, attached once here (measured faster than
        sending edge rows through each exchange), and so do its id and
        value, on owned rows only, so nothing is joined back after the
        loop. The lazy checkpoint per exchange (``session.checkpoint``) keeps
        the plan O(1) deep.
        """
        nparts = int(state.sparkSession.conf.get(
            "spark.sql.shuffle.partitions"))
        # weights attached in one exchange: region rows and edge rows
        # grouped by region, each column taken from the rows that carry it
        cols = ["_id", "_value", "cx", "cy", "radius", "perimeter"]
        rows = state.select("region_idx", *cols,
                            F.lit(None).cast("struct<neighbor:bigint,"
                                             "weight:double>").alias("_e"))
        rows = rows.unionByName(borders.select(
            F.col("focal").alias("region_idx"),
            *[F.lit(None).cast(t).alias(c) for c, t in
              state.select(*cols).dtypes],
            F.struct(F.col("neighbor").cast("long").alias("neighbor"),
                     F.col("weight").cast("double").alias("weight"))
            .alias("_e")))
        cur = checkpoint(rows.groupBy("region_idx")
                         .agg(*[F.first(c, ignorenulls=True).alias(c)
                                for c in cols],
                              F.collect_list("_e").alias("_e"))
                         .filter(F.col("cx").isNotNull())
                         .select("region_idx", *cols,
                                 F.col("_e.neighbor").alias("_nb"),
                                 F.col("_e.weight").alias("_wt")))
        schema = cur.schema

        def stepper(k):
            def step(pdf):
                own = pdf["owned"].to_numpy()
                # each region's edges once, however many cells hold it
                one = pdf[~pdf["region_idx"].duplicated()]
                edges = (np.repeat(one["region_idx"].to_numpy(),
                                   one["_nb"].map(len)),
                         np.concatenate([*one["_nb"], np.empty(0, "i8")]),
                         np.concatenate([*one["_wt"], np.empty(0)]))
                x, y = dorling_core.halo_step(
                    pdf["gx"], pdf["gy"], own, pdf["region_idx"], pdf["cx"],
                    pdf["cy"], pdf["radius"], pdf["perimeter"], edges, k,
                    ratio, friction, widest)
                return pdf.loc[own, schema.names].assign(cx=x, cy=y)
            return step

        left = iterations if stop is None else min(iterations, stop)
        while left > 0:
            k = min(left, K_MAX)
            side = dorling_core.halo_reach(k, ratio, friction, widest)[0]
            cur = checkpoint(cur.select(_halo(schema, side, nparts))
                             .groupBy("_bucket")
                             .applyInPandas(stepper(k), schema))
            left -= k
        return cur


# Jacobi steps per halo exchange. The cells grow with the steps (side
# 5·widest at 2 steps, 14 at 4, 44 at 8 with the default ratio and
# friction) while each step recomputes at most 9 copies of a region.
# On a 40 × 40 lattice (2 cores, warm, median of 5 interleaved calls)
# 8 iterations took 5.74 / 3.64 / 2.33 / 1.73 s at 1 / 2 / 4 / 8 steps
# per exchange, and 2 or 4 iterations the same at 4 and 8.
K_MAX = 8
# cell offsets: the home cell and the 8 cells around it
_HALO = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
# the columns only an owned row carries
_OWNED = ("_id", "_value")


def _halo(schema, size: float, nparts: int):
    """Generator column over state rows of ``schema``: every region in
    its home cell (``owned``) and in the 8 cells around it as a ghost
    carrying all but its id and value; cells have side ``size`` and
    ``_bucket`` = pmod(hash(cell), nparts) groups them for the
    exchange. One SQL expression, so that building it per exchange
    costs one call into the JVM rather than one per column."""
    side = f"CAST('{float(size)!r}' AS DOUBLE)"
    rows = []
    for dx, dy in _HALO:
        gx, gy = f"floor(cx / {side}) + {dx}", f"floor(cy / {side}) + {dy}"
        owned = dx == 0 and dy == 0
        fields = [f"'{c}', {c}" if owned or c not in _OWNED else
                  f"'{c}', CAST(NULL AS {schema[c].dataType.simpleString()})"
                  for c in schema.names]
        fields += [f"'gx', {gx}", f"'gy', {gy}",
                   f"'owned', {str(owned).lower()}",
                   f"'_bucket', pmod(hash({gx}, {gy}), {nparts})"]
        rows.append(f"named_struct({', '.join(fields)})")
    return F.expr(f"inline(array({', '.join(rows)}))")
