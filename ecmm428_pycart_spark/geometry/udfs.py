"""Arrow-vectorized pandas UDFs wrapping the numpy geometry kernels.

These are the engine's "scalar function library" (SURVEY.md §2.3 G1-G9).
Geometry columns are ``BinaryType`` holding WKB, so every UDF is a
Series[bytes] → Series transform batched through Arrow. The pure-math
kernels (distance, hypot, sqrt) have native-column fast paths and should
be expressed with ``pyspark.sql.functions`` instead — only the GEOS-like
polygon ops live here.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ecmm428_pycart_spark.geometry import core


@F.pandas_udf(T.DoubleType())
def st_area(wkb: pd.Series) -> pd.Series:
    """Planar polygon area (pycart/cartogram.py:226)."""
    return wkb.map(lambda b: core.area(core.loads(b)) if b is not None else None)


@F.pandas_udf(T.DoubleType())
def st_perimeter(wkb: pd.Series) -> pd.Series:
    """Boundary length (pycart/cartogram.py:314)."""
    return wkb.map(lambda b: core.perimeter(core.loads(b)) if b is not None else None)


_XY = T.StructType([
    T.StructField("x", T.DoubleType()),
    T.StructField("y", T.DoubleType()),
])


@F.pandas_udf(_XY)
def st_centroid_xy(wkb: pd.Series) -> pd.DataFrame:
    """Centroid as (x, y) doubles — native-math friendly (pycart/cartogram.py:223)."""
    xs, ys = [], []
    for b in wkb:
        if b is None:
            xs.append(None)
            ys.append(None)
        else:
            x, y = core.centroid(core.loads(b))
            xs.append(x)
            ys.append(y)
    return pd.DataFrame({"x": xs, "y": ys})


@F.pandas_udf(T.BinaryType())
def st_centroid(wkb: pd.Series) -> pd.Series:
    return wkb.map(
        lambda b: core.dumps(("Point", core.centroid(core.loads(b)))) if b is not None else None)


@F.pandas_udf(T.BinaryType())
def st_scale_about_centroid(wkb: pd.Series, factor: pd.Series) -> pd.Series:
    """Affine scale about own centroid (pycart/cartogram.py:237-239)."""
    out = []
    for b, f in zip(wkb, factor):
        if b is None or f is None:
            out.append(None)
            continue
        g = core.loads(b)
        out.append(core.dumps(core.scale_about(g, float(f), float(f), core.centroid(g))))
    return pd.Series(out)


@F.pandas_udf(T.BinaryType())
def st_translate(wkb: pd.Series, dx: pd.Series, dy: pd.Series) -> pd.Series:
    out = []
    for b, x, y in zip(wkb, dx, dy):
        out.append(None if b is None else
                   core.dumps(core.translate_geom(core.loads(b), float(x), float(y))))
    return pd.Series(out)


@F.pandas_udf(T.BinaryType())
def st_buffer_point(x: pd.Series, y: pd.Series, radius: pd.Series) -> pd.Series:
    """Circle polygon around a point (pycart/cartogram.py:406-409)."""
    return pd.Series([
        core.dumps(core.buffer_point(float(a), float(b), float(r)))
        for a, b, r in zip(x, y, radius)
    ])


@F.pandas_udf(T.DoubleType())
def st_shared_border_length(wa: pd.Series, wb: pd.Series) -> pd.Series:
    """intersection(a, b).length for touching polygons (pycart/border_util.py:44,70).

    One ``core.shared_boundary_lengths`` call per Arrow batch. A region
    appears in ~8 neighbour pairs, so each distinct WKB is parsed, and
    split into segments, once per batch. A null geometry on either side
    gives a null weight."""
    cache: dict[bytes, object] = {}

    def load(b):
        g = cache.get(b)
        if g is None:
            g = cache[b] = core.loads(b)
        return g

    ok = (wa.notna() & wb.notna()).to_numpy()
    out = np.full(len(wa), np.nan)
    out[ok] = core.shared_boundary_lengths(
        [(load(a), load(b)) for a, b in zip(wa[ok], wb[ok])])
    return pd.Series(out)


@F.pandas_udf(T.BinaryType())
def st_wkt_to_wkb(wkt: pd.Series) -> pd.Series:
    return wkt.map(lambda s: core.dumps(core.wkt_loads(s)) if s is not None else None)


@F.pandas_udf(T.StringType())
def st_wkb_to_wkt(wkb: pd.Series) -> pd.Series:
    return wkb.map(lambda b: core.wkt_dumps(core.loads(b)) if b is not None else None)


_BBOX = T.StructType([
    T.StructField("minx", T.DoubleType()),
    T.StructField("miny", T.DoubleType()),
    T.StructField("maxx", T.DoubleType()),
    T.StructField("maxy", T.DoubleType()),
])


@F.pandas_udf(_BBOX)
def st_bbox(wkb: pd.Series) -> pd.DataFrame:
    rows = []
    for b in wkb:
        if b is None:
            rows.append((None, None, None, None))
        else:
            rows.append(core.bounds(core.loads(b)))
    return pd.DataFrame(rows, columns=["minx", "miny", "maxx", "maxy"])


@F.pandas_udf(T.ArrayType(_XY))
def st_vertices(wkb: pd.Series) -> pd.Series:
    """Ring vertices (closing points dropped) — feeds the Queen-contiguity
    vertex-equality join (pycart/border_util.py:28 semantics)."""
    out = []
    for b in wkb:
        if b is None:
            out.append(None)
        else:
            pts = core.vertices(core.loads(b))
            out.append([{"x": float(x), "y": float(y)} for x, y in pts])
    return pd.Series(out)


def centroid_cols(df, geom_col: str = "geom", prefix: str = "c"):
    """Attach centroid x/y as native double columns (one UDF call)."""
    tmp = df.withColumn("_cxy", st_centroid_xy(F.col(geom_col)))
    return (tmp.withColumn(f"{prefix}x", F.col("_cxy.x"))
               .withColumn(f"{prefix}y", F.col("_cxy.y"))
               .drop("_cxy"))


@F.pandas_udf(T.BooleanType())
def st_contains_point(wkb: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
    """Exact even-odd point-in-polygon test (core.contains_point) —
    the refine step of a bucket-prefiltered spatial containment join."""
    out = []
    for b, px, py in zip(wkb, x, y):
        if b is None or px is None or py is None or px != px or py != py:
            out.append(None)
        else:
            out.append(core.contains_point(core.loads(bytes(b)),
                                           float(px), float(py)))
    return pd.Series(out, dtype="object")


@F.pandas_udf(T.BinaryType())
def st_convex_hull(wkb: pd.Series) -> pd.Series:
    """Convex hull polygon (WKB → WKB). Monotone chain over all ring
    vertices (geometry/core.py::convex_hull); collinear points dropped
    so downstream vertex counts are minimal — matching GEOS semantics
    for polygon inputs."""
    return wkb.map(lambda b: core.dumps(core.convex_hull(core.loads(b)))
                   if b is not None else None)


@F.pandas_udf(T.BinaryType())
def st_simplify_dp(wkb: pd.Series, tol: pd.Series) -> pd.Series:
    """Douglas-Peucker polygon simplification (WKB -> WKB) at a
    per-row tolerance (geometry/core.py::simplify_dp) — the
    render/storage-reduction pass a cartographic pipeline runs before
    shipping geometries to a figure sink."""
    return pd.Series([
        core.dumps(core.simplify_dp(core.loads(b), float(t)))
        if b is not None and t is not None else None
        for b, t in zip(wkb, tol)])
