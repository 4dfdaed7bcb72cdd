"""Queen-borders edge tables of the benchmark grids, served from the
write-once store (``datapipe/store.py``).

- Stored: ``get_borders(grid, "region_idx", "geometry",
  idx_field="region_idx")[0]`` — (focal, neighbor, weight, focal_id,
  neighbor_id), both edge directions — for the customer grid
  (``geo_queries._customer_grid``, read by g02/g07/g08/g10 and the
  graph queries) and the 50x50 orders grid (``_orders_grid``, g14).
- Fingerprint: count, min, max, sum and bit_xor of the grid's region
  ids — ``c_custkey`` (tag ``c``) and the distinct ``o_orderkey % 2500``
  cells (tag ``o``). The producing-code hash covers the grid builder,
  ``operators.borders``, the geometry modules and the fresh builder.
- Layout: 8 focal-hashed files with focal-sorted row groups, so a
  node-keyed consumer reads node-clustered data.
"""

from __future__ import annotations

import inspect

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecmm428_pycart_spark.datapipe import store
from ecmm428_pycart_spark.session import load_table


def _fresh_borders(spark: SparkSession, sf_dir: str,
                   grid: str = "_customer_grid") -> DataFrame:
    from ecmm428_pycart_spark.benchmarks import geo_queries
    from ecmm428_pycart_spark.operators.borders import get_borders

    cells = getattr(geo_queries, grid)(spark, sf_dir).drop("value")
    return get_borders(cells, "region_idx", "geometry",
                       idx_field="region_idx")[0]


def _sources(grid: str) -> list[str]:
    from ecmm428_pycart_spark.benchmarks import geo_queries
    from ecmm428_pycart_spark.geometry import core as geo_core
    from ecmm428_pycart_spark.geometry import udfs as geo_udfs
    from ecmm428_pycart_spark.operators import borders as borders_op

    return [inspect.getsource(m) for m in (
        getattr(geo_queries, grid), borders_op, geo_udfs, geo_core,
        _fresh_borders)]


CUSTOMER = store.Table("borders", lambda: _sources("_customer_grid"))
ORDERS = store.Table("borders", lambda: _sources("_orders_grid"))


def _served(spark: SparkSession, sf_dir: str, table: store.Table,
            fingerprint: str, grid: str) -> DataFrame:
    path = store.materialize(
        table, fingerprint, lambda tmp: store.write_clustered(
            _fresh_borders(spark, sf_dir, grid), tmp, 8, "focal"))
    return spark.read.parquet(path)


def customer_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The grid's node set (region_idx = c_custkey) WITHOUT the geometry
    build — consumers that need seeds/labels over all nodes read the
    customer keys directly instead of constructing WKT polygons."""
    return (load_table(spark, sf_dir, "customer")
            .select(F.col("c_custkey").cast("long").alias("region_idx")))


def customer_borders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The customer-grid borders edge table; rows identical to
    ``_fresh_borders``."""
    fp = store.fingerprint("c", sf_dir, lambda: customer_nodes(
        spark, sf_dir).select(F.col("region_idx").alias("k"),
                              F.col("region_idx").alias("c")))
    return _served(spark, sf_dir, CUSTOMER, fp, "_customer_grid")


def orders2500_borders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The orders-grid (50x50) borders edge table; rows identical to
    ``_fresh_borders(spark, sf_dir, "_orders_grid")``."""
    fp = store.fingerprint("o", sf_dir, lambda: load_table(
        spark, sf_dir, "orders").select(
            (F.col("o_orderkey") % 2500).cast("long").alias("k")).distinct()
        .withColumn("c", F.col("k")))
    return _served(spark, sf_dir, ORDERS, fp, "_orders_grid")
