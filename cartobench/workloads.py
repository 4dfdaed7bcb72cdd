"""The benchmark's workloads.

Each workload generates its inputs from the seed and computes its oracles
(both untimed), loads what it needs in ``setup`` and runs one cartogram
job per ``job`` call through the package's public API, checking every
output against the oracles before the job counts as done.

- ``dorling_scalable``: the map and its Queen borders are loaded in
  set-up; each job runs a fixed number of scalable Jacobi Dorling
  iterations. Time is the Dorling set-up and the per-iteration
  join/aggregate loop, bound by Spark job and stage latency.
- ``reference_etl``: the reference ``main.py`` flow near paper scale
  (196 regions): population CSVs with thousands separators, a
  replacement layer, running fill, argmax dedup, a code-mapping join and
  the join to the map loaded in set-up; then reference-mode Dorling
  (100 iterations), Olson and a CSV write. Small inputs: bound by driver,
  scheduling and Python latency, and by the sequential Gauss-Seidel
  kernel.
- ``map_build``: WKT-CSV ingest, fresh Queen borders, Olson cartogram,
  GeoJSON write. Sources, the geometry UDFs and the borders operator do
  nearly all the work; there is no driver loop.

In a traced run every public call is wrapped in a span and its result is
materialised at the span end (``Ctx.mat``); layers a workload's job does
not call are measured by probes over the workload's own map, so every
per-layer metric is measured on every workload.
"""

from __future__ import annotations

import gc
import glob
import json
import math
import os
import re

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import inputs
import oracle
from ecmm428_pycart_spark import Cartogram, get_borders
from ecmm428_pycart_spark.geometry.udfs import (
    st_area, st_centroid_xy, st_perimeter, st_shared_border_length, st_vertices,
)
from ecmm428_pycart_spark.operators.relational import (
    argmax_per_group, map_country_codes, running_fill,
)
from ecmm428_pycart_spark.plans import dorling_core
from ecmm428_pycart_spark.sources import read_pop_csv, read_wkt_csv, write_geojson
from ecmm428_pycart_spark.sources.sinks import write_csv, write_parquet

# Off-path reference-mode probes run on the 20 x 20 corner of a map:
# the sequential sweep is quadratic in the region count.
SUB_SIDE = 20
PROBE_REF_ITERATIONS = 10


class CheckFailed(Exception):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def close(a: float, b: float, rel: float = 1e-9) -> bool:
    return abs(a - b) <= rel * max(abs(a), abs(b), 1.0)


class Ctx:
    """One set-up's state: the Spark session, the tracer, the frames the
    set-up loaded (released by ``close``) and the frames a job cached
    (released by ``release`` after each job)."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self._cached = []
        self._loaded = []

    def span(self, name, **attrs):
        return self.tracer.span(name, **attrs)

    def mat(self, df, keep: bool = False):
        """Traced, cache and materialise ``df`` now, so the span's time is
        its own layer's work. Untraced, leave the plan lazy; ``keep``
        caches it lazily for a job that reads it more than once.
        Released after the job."""
        if self.tracer.enabled:
            df = df.cache()
            df.count()
        elif keep:
            df = df.cache()
        else:
            return df
        self._cached.append(df)
        return df

    def load(self, df):
        """Cache and materialise ``df`` until ``close``."""
        df = df.cache()
        df.count()
        self._loaded.append(df)
        return df

    def release(self) -> None:
        """Unpersist the job's frames, then collect garbage in Python and
        in the JVM, between jobs and untimed: otherwise a job now and then
        pays for collecting what the jobs before it left."""
        for df in self._cached:
            df.unpersist()
        self._cached = []
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def close(self) -> None:
        self.release()
        for df in self._loaded:
            df.unpersist()
        self._loaded = []


def _shoelace_area(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return abs(0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1])))


_WKT_RING = re.compile(r"\(\(([^()]*)\)\)")


def _wkt_area(wkt: str) -> float:
    body = _WKT_RING.search(wkt).group(1)
    ring = np.array([p.split() for p in body.split(",")], dtype="f8")
    return _shoelace_area(ring)


class Workload:
    name = ""
    cols = rows = subdiv = 0
    dorling_mode = "scalable"
    ref_iterations = PROBE_REF_ITERATIONS
    warmup_jobs = 1  # untimed, before the timed jobs: the JIT warms up

    def __init__(self, seed: int, work: str):
        self.dir = os.path.join(work, f"{self.name}-{seed}")
        os.makedirs(self.dir, exist_ok=True)
        self.map = inputs.lattice_map(seed, self.cols, self.rows, self.subdiv)
        self.map_csv = os.path.join(self.dir, "map.csv")
        inputs.write_map_csv(self.map, self.map_csv)
        self.values = self.map.values.astype("f8")
        self.borders = oracle.borders(self.map)

    @property
    def n(self) -> int:
        return self.map.n

    def read_regions(self, spark):
        return read_wkt_csv(spark, self.map_csv).withColumn(
            "value", F.col("value").cast("double"))

    def setup(self, ctx: Ctx) -> None:
        pass

    def job(self, ctx: Ctx) -> int:
        raise NotImplementedError

    def probe_regions(self, ctx: Ctx):
        """The map as (id, value, geometry), cached, for the probes."""
        return ctx.load(self.read_regions(ctx.spark))

    def sub_ids(self) -> list[str]:
        side_i, side_j = min(SUB_SIDE, self.cols), min(SUB_SIDE, self.rows)
        return [self.map.ids[i * self.rows + j]
                for i in range(side_i) for j in range(side_j)]


class MapBuild(Workload):
    name = "map_build"
    cols, rows, subdiv = 40, 50, 5

    def __init__(self, seed, work):
        super().__init__(seed, work)
        self.olson_area = oracle.olson_total_area(self.map, self.values)
        self.out = os.path.join(self.dir, "olson.geojson")

    def job(self, ctx: Ctx) -> int:
        spark = ctx.spark
        with ctx.span("job", phase="job"):
            with ctx.span("sources.read"):
                regions = ctx.mat(self.read_regions(spark))
            with ctx.span("operators.borders"):
                borders = ctx.mat(get_borders(regions, "id", "geometry")[0])
                cnt, wsum = borders.agg(F.count(F.lit(1)),
                                        F.sum("weight")).collect()[0]
            with ctx.span("plans.non_contiguous"):
                olson = ctx.mat(Cartogram(regions, "value", "id")
                                .non_contiguous())
            with ctx.span("sources.write"):
                write_geojson(olson, self.out)
            expect(cnt == self.borders.count, f"borders edge count {cnt}")
            expect(close(wsum, self.borders.total_weight), "borders weight")
            n, total = 0, 0.0
            for part in glob.glob(os.path.join(self.out, "part-*")):
                with open(part) as fh:
                    for line in fh:
                        for feat in json.loads(line)["features"]:
                            ring = np.array(feat["geometry"]["coordinates"][0])
                            total += _shoelace_area(ring)
                            n += 1
            expect(n == self.n, f"geojson has {n} features")
            expect(close(total, self.olson_area), "olson total area")
        return self.n


class DorlingScalable(Workload):
    name = "dorling_scalable"
    cols, rows, subdiv = 40, 40, 2
    iterations = 2
    warmup_jobs = 3

    def __init__(self, seed, work):
        super().__init__(seed, work)
        self.x, self.y, self.radius = oracle.jacobi(
            self.map, self.values, self.borders, self.iterations)

    def setup(self, ctx: Ctx) -> None:
        with ctx.span("sources.read", phase="setup"):
            self.regions = ctx.load(self.read_regions(ctx.spark))
        with ctx.span("operators.borders", phase="setup"):
            self.borders_df = ctx.load(
                get_borders(self.regions, "id", "geometry")[0]
                .select("focal", "neighbor", "weight"))

    def job(self, ctx: Ctx) -> int:
        k = self.iterations
        with ctx.span("job", phase="job"):
            with ctx.span("plans.dorling", mode="scalable", iterations=k):
                rows = (Cartogram(self.regions, "value", "id",
                                  borders=self.borders_df)
                        .dorling(iterations=k, mode="scalable")
                        .select("id", "cx", "cy", "radius").collect())
            expect(len(rows) == self.n, f"dorling returned {len(rows)} regions")
            pos = {rid: i for i, rid in enumerate(self.map.ids)}
            for r in rows:
                i = pos[r["id"]]
                expect(abs(r["cx"] - self.x[i]) <= 1e-6
                       and abs(r["cy"] - self.y[i]) <= 1e-6,
                       f"jacobi position of {r['id']}")
                expect(close(r["radius"], self.radius[i]),
                       f"radius of {r['id']}")
        return self.n

    def probe_regions(self, ctx):
        return self.regions


class ReferenceEtl(Workload):
    name = "reference_etl"
    cols, rows, subdiv = 14, 14, 4
    dorling_mode = "reference"
    ref_iterations = 100

    def __init__(self, seed, work):
        super().__init__(seed, work)
        self.etl = inputs.etl_inputs(seed, self.map)
        self.pop_csv = os.path.join(self.dir, "pop.csv")
        self.v2_csv = os.path.join(self.dir, "pop_v2.csv")
        inputs.write_etl_csvs(self.map, self.etl, self.pop_csv, self.v2_csv)
        self.rows_expected = oracle.etl_rows(self.map, self.etl)
        self.values = oracle.etl_population(self.etl).astype("f8")
        self.k = oracle.dorling_k(self.map, self.values, self.borders)
        self.olson_area = oracle.olson_total_area(self.map, self.values)
        self.out = os.path.join(self.dir, "olson.csv")

    def setup(self, ctx: Ctx) -> None:
        """The map is static reference data, loaded once."""
        with ctx.span("sources.read", phase="setup"):
            self.geo = ctx.load(read_wkt_csv(ctx.spark, self.map_csv)
                                .select("id", "geometry"))

    def merged(self, ctx: Ctx):
        """The ETL: clean, fill, replace, dedup, map codes, join the map."""
        spark, geo = ctx.spark, self.geo
        with ctx.span("sources.read"):
            pop = ctx.mat(read_pop_csv(spark, self.pop_csv))
            v2 = ctx.mat(read_pop_csv(spark, self.v2_csv))
        with ctx.span("operators.relational"):
            filled = (running_fill(pop, "file_order",
                                   F.col("Geography") == "Region",
                                   "name", "parent")
                      .filter(F.col("Geography") == "Country"))
            layered = (filled.select("name", "iso3", "Population",
                                     F.lit(0).alias("rev"))
                       .unionByName(v2.select("name", "iso3", "Population",
                                              F.lit(1).alias("rev"))))
            latest = (argmax_per_group(layered, "name", "rev")
                      .join(filled.select("name", "parent"), "name"))
            coded = map_country_codes(latest, "iso3", "iso2")
            merged = ctx.mat(geo.join(coded, geo["id"] == coded["name"])
                             .select("id", "parent", "iso2", "Population",
                                     "geometry"), keep=True)
        return merged

    def job(self, ctx: Ctx) -> int:
        with ctx.span("job", phase="job"):
            merged = self.merged(ctx)
            with ctx.span("plans.dorling", mode="reference",
                          iterations=self.ref_iterations):
                circles = (Cartogram(merged, "Population", "id")
                           .dorling(iterations=self.ref_iterations,
                                    mode="reference")
                           .select("id", "cx", "cy", "radius").collect())
            with ctx.span("plans.non_contiguous"):
                olson = ctx.mat(Cartogram(merged, "Population", "id")
                                .non_contiguous())
            with ctx.span("sources.write"):
                write_csv(olson, self.out, single_file=True)
            rows = merged.select("id", "parent", "iso2", "Population").collect()
            got = {r["id"]: (r["parent"], r["iso2"], r["Population"])
                   for r in rows}
            expect(got == self.rows_expected, "ETL rows")
            expect(len(circles) == self.n,
                   f"dorling returned {len(circles)} regions")
            pos = {rid: i for i, rid in enumerate(self.map.ids)}
            for r in circles:
                want = self.k * math.sqrt(self.values[pos[r["id"]]] / math.pi)
                expect(close(r["radius"], want), f"radius of {r['id']}")
                expect(math.isfinite(r["cx"]) and math.isfinite(r["cy"]),
                       f"position of {r['id']}")
            written = pd.concat(pd.read_csv(p) for p in
                                glob.glob(os.path.join(self.out, "part-*")))
            expect(len(written) == self.n, f"csv has {len(written)} rows")
            total = sum(_wkt_area(w) for w in written["geometry"])
            # the CSV sink writes WKT coordinates to 9 significant digits
            expect(close(total, self.olson_area, rel=1e-6), "olson total area")
        return self.n

    def probe_regions(self, ctx):
        with ctx.tracer.paused():
            df = self.merged(ctx).withColumnRenamed("Population", "value")
        return ctx.load(df.select("id", "value", "geometry"))


WORKLOADS = {w.name: w for w in (MapBuild, DorlingScalable, ReferenceEtl)}


# ---------------------------------------------------------------------------
# Probes: every layer the workload's job or set-up did not call, measured
# on the workload's own map.
# ---------------------------------------------------------------------------

def run_probes(ctx: Ctx, w: Workload) -> None:
    tr = ctx.tracer
    covered = {s["name"] for s in tr.spans if s["phase"] in ("job", "setup")}
    regions = w.probe_regions(ctx)
    # Scalable probes reuse precomputed borders, as dorling_scalable does.
    borders = getattr(w, "borders_df", None)
    if borders is None:
        with ctx.span("operators.borders", phase="probe"):
            borders = ctx.load(get_borders(regions, "id", "geometry")[0]
                               .select("focal", "neighbor", "weight"))
    _probe_geometry(ctx, w, regions)
    if "sources.write" not in covered:
        with ctx.span("sources.write", phase="probe"):
            write_parquet(regions, os.path.join(w.dir, "regions.parquet"))
    if "operators.relational" not in covered:
        _probe_relational(ctx, w, regions)
    if "plans.non_contiguous" not in covered:
        with ctx.span("plans.non_contiguous", phase="probe"):
            ctx.mat(Cartogram(regions, "value", "id").non_contiguous())
    mode = w.dorling_mode
    have_k = [s for s in tr.find("plans.dorling", mode=mode)
              if s["attrs"]["iterations"] > 0]
    ks = [0] if have_k else [0, 1]
    for k in ks:
        cart = Cartogram(regions, "value", "id",
                         borders=borders if mode == "scalable" else None)
        with ctx.span("plans.dorling", phase="probe", mode=mode, iterations=k):
            cart.dorling(iterations=k, mode=mode).select(
                "id", "cx", "cy", "radius").collect()
    sub = regions.filter(F.col("id").isin(w.sub_ids()))
    if not tr.find("plans.dorling", mode="reference"):
        with ctx.span("plans.dorling", phase="probe", mode="reference",
                      iterations=w.ref_iterations):
            Cartogram(sub, "value", "id").dorling(
                iterations=w.ref_iterations, mode="reference").collect()
    _probe_sweep(ctx, w, sub)


def _probe_geometry(ctx, w, regions):
    """Area, perimeter, centroid and vertex UDF columns over every region,
    and the shared-border-length UDF over every undirected Queen pair."""
    ids = np.array(w.map.ids)
    b = w.borders
    und = b.focal < b.neighbor
    pairs = ctx.spark.createDataFrame(pd.DataFrame(
        {"a": ids[b.focal[und]], "b": ids[b.neighbor[und]]}))
    g = regions.select("id", "geometry")
    with ctx.span("geometry.kernels", phase="probe"):
        agg = regions.select(
            st_area(F.col("geometry")).alias("a"),
            st_perimeter(F.col("geometry")).alias("p"),
            st_centroid_xy(F.col("geometry")).alias("c"),
            F.size(st_vertices(F.col("geometry"))).alias("v"),
        ).agg(F.sum("a"), F.sum("p"), F.sum("c.x"), F.sum("v")).collect()[0]
        shared = (pairs
                  .join(g.select(F.col("id").alias("a"),
                                 F.col("geometry").alias("ga")), "a")
                  .join(g.select(F.col("id").alias("b"),
                                 F.col("geometry").alias("gb")), "b")
                  .agg(F.sum(st_shared_border_length("ga", "gb")))
                  .collect()[0][0])
    expect(close(agg[0], float(oracle.areas(w.map).sum())), "sum of areas")
    expect(close(agg[1], float(oracle.perimeters(w.map).sum())),
           "sum of perimeters")
    expect(close(agg[2], float(oracle.centroids(w.map)[0].sum())),
           "sum of centroid x")
    expect(agg[3] == w.n * 4 * w.subdiv, "vertex count")
    expect(close(shared, b.total_weight / 2.0), "shared border length")


def _probe_relational(ctx, w, regions):
    """Running fill, then argmax per id-prefix group, over the map's rows."""
    groups = {rid[:5] for rid in w.map.ids}
    with ctx.span("operators.relational", phase="probe"):
        t = regions.select("id", "value").withColumn(
            "g", F.substring("id", 1, 5))
        t = running_fill(t, "id", F.col("value") > 500_000, "id", "anchor")
        n = argmax_per_group(t, "g", "value", tiebreak_col="id").count()
    expect(n == len(groups), f"argmax kept {n} rows")


def _probe_sweep(ctx, w, sub):
    """The Gauss-Seidel kernel alone, on arrays collected from the
    program: set-up positions and radii, perimeters and borders."""
    start = (Cartogram(sub, "value", "id")
             .dorling(iterations=0, mode="reference")
             .select("region_idx", "cx", "cy", "radius")
             .orderBy("region_idx").toPandas())
    per = (sub.select("id", st_perimeter(F.col("geometry")).alias("p"))
           .orderBy("id").toPandas())
    bord = (get_borders(sub, "id", "geometry")[0]
            .select("focal", "neighbor", "weight").toPandas())
    with ctx.span("plans.dorling_core.sweep", phase="probe"):
        x, _y = dorling_core.dorling_sweep(
            start["cx"].to_numpy(), start["cy"].to_numpy(),
            start["radius"].to_numpy(), per["p"].to_numpy(),
            bord["focal"].to_numpy(), bord["neighbor"].to_numpy(),
            bord["weight"].to_numpy(), iterations=w.ref_iterations)
    expect(np.isfinite(x).all() and len(x) == len(start), "sweep positions")
